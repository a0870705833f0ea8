package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Session, SparkEntry}
import graft.engine.{Bronze, Incremental, Pipeline, Sources}
import graft.sources.Versioned

/** The benchmark's JVM side. One process runs one workload over the inputs
  * `gen.py` wrote, times it, checks what it can check in Spark, and writes
  * `harness.json` (plus `trace.jsonl` when traced) into its work directory;
  * `run.py` adds the DuckDB oracle checks and prints the result line.
  *
  *   perfbench.Harness <workload> <inputs> <work> <trace 0|1> <seconds> <queries>
  */
object Harness {

  /** One timed operation: a pipeline stage, an incremental batch or a query. */
  case class Op(name: String, seconds: Double, ok: Boolean, error: String = "")

  val GoldQueries = Map(
    "gold_revenue_by_region" -> "sales", "gold_customer_lifetime_value" -> "sales",
    "gold_monthly_sales_trends" -> "sales", "gold_supplier_performance" -> "supplier")

  /** Queries whose construction builds a session-memoized persisted store
    * (TextIndex, VectorIndexPq, FpStore): set-up
    * constructs each once, so every store is built before the timed run
    * and the timed queries search it. `sim_ann_index` rebuilds its
    * VectorIndex on every call by design, so its build stays timed. The
    * stores build side by side with the base fold; their writes go
    * through the library's JVM-wide `DynamicOverwrite` lock. */
  val StoreQueries = Set("text_bm25_index_search", "sim_ann_index_pq_search",
    "dedup_cross_modal_indexed")

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, traceArg, secondsArg, queryArg) = args: @unchecked
    // every byte the program writes stays under the work directory: the
    // warehouse (and with it every persisted store) is fresh per process
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    Session.silenceAllLogs()
    val spark = Session.build("local[4]", "4", "graft-perfbench")
    val trace = if (traceArg == "1") Some(new Trace(spark)) else None
    val h = new Harness(spark, inputs, work, trace, secondsArg.toDouble)
    val queries = queryArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    try workload match {
      case "full_build" => h.fullBuild()
      case "incremental" => h.incremental(queries)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case NonFatal(e) =>
        h.check("workload", ok = false, s"${e.getClass.getName}: ${e.getMessage}", workload)
    }
    h.finish(workload)
    spark.stop()
  }
}

final class Harness(spark: SparkSession, inputs: String, work: String,
                    trace: Option[Trace], seconds: Double) {
  import Harness._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var setupS = 0.0
  private var timedS = 0.0
  private val ops = mutable.ArrayBuffer.empty[Op]
  /** (check, passed, message, the operation whose output it checks) */
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String, String)]
  private val headline = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  /** (registry query, written output, the operation that wrote it) */
  private val oracle = mutable.ArrayBuffer.empty[(String, String, String)]

  def check(name: String, ok: Boolean, msg: String, op: String): Unit =
    checks += ((name, ok, msg, op))

  private def now: Double = System.nanoTime() / 1e9

  /** Progress line for the run log (stderr), stamped with seconds since JVM start. */
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%8.2f] $msg")

  /** Set-up ends here: from JVM start to the first timed operation. The
    * trace keeps only what follows, and a full collection keeps set-up's
    * garbage out of the timed work. */
  private def startTimed(): Unit = {
    trace.foreach(_.reset())
    System.gc()
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    note("set-up done")
  }

  private def span[A](name: String)(body: => A): A = trace match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Storage memory still held by cached blocks, read before it is cleared. */
  private def retainedCacheMb(): Double = {
    val mb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    spark.catalog.clearCache()
    mb
  }

  // ------------------------------------------------------------ full_build

  /** Sales then supplier pipeline, raw parquet to gold plus the DQ gate,
    * each into a fresh output directory; repeated while under `seconds`. */
  def fullBuild(): Unit = {
    startTimed()
    val sales = mutable.ArrayBuffer.empty[Double]
    val supplier = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    val t0 = now
    while (pass == 0 || now - t0 < seconds) {
      val out = s"$work/build_$pass"
      def pipeline(scope: String, acc: mutable.ArrayBuffer[Double])
                  (run: String => Seq[Pipeline.StageResult]): Unit = {
        val s0 = now
        try {
          val rs = span(scope)(run(s"$out/$scope"))
          acc += now - s0
          rs.foreach(r => ops += Op(s"$scope.${r.stage}", r.seconds, r.status == "PASS",
            r.error.getOrElse("")))
        } catch {
          case NonFatal(e) => ops += Op(scope, now - s0, ok = false, e.getMessage)
        }
      }
      pipeline("sales", sales)(Pipeline.runSalesAnalytics(spark, inputs, _))
      pipeline("supplier", supplier)(Pipeline.runSupplierAnalytics(spark, inputs, _))
      pass += 1
    }
    timedS = (now - t0) / pass
    headline("sales_build_s") = median(sales.toSeq)
    headline("supplier_build_s") = median(supplier.toSeq)
    headline("retained_cache_mb") = retainedCacheMb()
    // checks, outside the timed region, on the last pass's outputs
    val out = s"$work/build_${pass - 1}"
    for (scope <- Seq("sales", "supplier")) {
      val bad = spark.read.parquet(s"$out/$scope/quality_checks")
        .where(col("status") =!= "PASS").collect()
      check(s"$scope.quality_checks", bad.isEmpty, bad.take(3).mkString("; "),
        s"$scope.quality_checks")
    }
    GoldQueries.foreach { case (q, scope) => oracle += ((q, s"$out/$scope/$q", s"$scope.$q")) }
    trace.foreach { t =>
      t.drain()
      for (p <- Seq("sales", "supplier")) {
        // a stage's layer is its name's prefix: bronze_, stats_, silver_, gold_, quality_
        val layers = ops.map(_.name).filter(_.startsWith(s"$p.")).map(_.drop(p.length + 1)
          .takeWhile(_ != '_')).distinct
        for (l <- layers) {
          val c = t.sum(_ == p, _.startsWith(l + "_"))
          val wall = ops.filter(_.name.startsWith(s"$p.${l}_")).map(_.seconds).sum
          layer(s"$p.$l.wall_s") = wall / pass
          layer(s"$p.$l.jobs") = c.jobs.toDouble / pass
          layer(s"$p.$l.records_read") = c.recordsRead.toDouble / pass
          layer(s"$p.$l.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble / pass
          layer(s"$p.$l.executor_run_s") = c.executorRunMs / 1000.0 / pass
        }
        val all = t.sum(_ == p)
        layer(s"$p.spill_bytes") = all.spillBytes.toDouble / pass
        layer(s"$p.catalyst_ms") = all.catalystMs / pass
      }
    }
  }

  // ----------------------------------------------------------- incremental

  private def deltaDirs: Seq[String] =
    Option(new java.io.File(inputs).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("delta_")).sorted.map(d => s"$inputs/$d").toSeq

  /** Seeded order deltas folded onto a base of the first half of history
    * (`runSalesIncrement` + `runSupplierIncrement` per batch), then the ext
    * read slice: each query constructed, then its result written. Set-up
    * folds the base and builds the persisted stores. */
  def incremental(queries: Seq[String]): Unit = {
    val state = s"$work/state"
    val foldWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def timedFold(p: String)(body: => Seq[Pipeline.StageResult]): Seq[Pipeline.StageResult] = {
      val s0 = now
      try span(s"incr.$p")(body) finally foldWall(p) += now - s0
    }
    def fold(dir: String, batch: Long): Seq[Pipeline.StageResult] =
      timedFold("sales")(Pipeline.runSalesIncrement(spark, Sources.orders(spark, dir), state, batch)) ++
        timedFold("supplier")(Pipeline.runSupplierIncrement(spark, Bronze.lineitem(spark, dir),
          inputs, state, batch))
    // set-up: the base fold, and one thread per persisted store
    val pool = Executors.newFixedThreadPool(StoreQueries.size)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val builds = Future.traverse(queries.filter(StoreQueries))(q =>
        Future(SparkEntry.queries(q)(spark, inputs)))
      fold(s"$inputs/base", 0L)
      note("base folded")
      Await.result(builds, Duration.Inf)
    } finally pool.shutdown()
    note("stores built")
    spark.catalog.clearCache()
    foldWall.clear()
    startTimed()
    val t0 = now
    val batches = mutable.ArrayBuffer.empty[Double]
    val stageWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    deltaDirs.zipWithIndex.foreach { case (dir, i) =>
      val s0 = now
      try {
        val rs = span(s"batch_$i")(fold(dir, i + 1L))
        val dt = now - s0
        val ok = rs.forall(_.status == "PASS")
        ops += Op(s"batch_$i", dt, ok)
        if (ok) batches += dt
        rs.foreach(r => stageWall(r.stage) += r.seconds)
      } catch {
        case NonFatal(e) => ops += Op(s"batch_$i", now - s0, ok = false, e.getMessage)
      }
    }
    note("batches done")
    val qt = mutable.Map.empty[String, (Double, Double)]
    var pass = 0
    val q0 = now
    while (pass == 0 || now - t0 < seconds) {
      for (q <- queries) {
        val s0 = now
        try span(s"q.$q") {
          val df = span(s"q.$q.construct")(SparkEntry.queries(q)(spark, inputs))
          val s1 = now
          span(s"q.$q.run")(df.write.mode("overwrite").parquet(s"$work/q/$q"))
          val s2 = now
          ops += Op(s"q.$q", s2 - s0, ok = true)
          if (pass == 0) qt(q) = (s1 - s0, s2 - s1)
        } catch {
          case NonFatal(e) => ops += Op(s"q.$q", now - s0, ok = false, e.getMessage)
        }
        spark.catalog.clearCache()
      }
      pass += 1
    }
    val queriesS = (now - q0) / pass
    timedS = now - t0 - (now - q0) + queriesS
    headline("incr_batch_p50_s") = median(batches.toSeq)
    headline("incr_batch_max_s") = if (batches.isEmpty) 0.0 else batches.max
    headline("queries_s") = queriesS
    headline("retained_cache_mb") = retainedCacheMb()
    note("queries done")
    // checks, outside the timed region: the folded states equal the
    // from-scratch aggregates over exactly the orders delivered
    val delivered = s"$inputs/base" +: deltaDirs
    val orders = delivered.map(Sources.orders(spark, _)).reduce(_ unionByName _)
    val lineitem = delivered.map(Bronze.lineitem(spark, _)).reduce(_ unionByName _)
    // the states are group-grain (at most |parts x suppliers| rows), so both
    // sides are collected and compared as multisets
    def same(name: String, folded: DataFrame, scratch: DataFrame): Unit = {
      def rows(df: DataFrame) = df.select(scratch.columns.sorted.map(col).toSeq: _*).collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      val (a, b) = (rows(folded), rows(scratch))
      check(name, a == b, s"${a.values.sum} folded rows vs ${b.values.sum} from scratch",
        s"batch_${deltaDirs.size - 1}")
    }
    same("incr.monthly_revenue",
      Incremental.finalize(Versioned.read(spark, s"$state/state_monthly_revenue")),
      Incremental.finalize(Incremental.monthlyRevenueState(orders)))
    same("incr.customer_profile",
      Incremental.finalizeCustomerProfile(Versioned.read(spark, s"$state/state_customer_profile")),
      Incremental.finalizeCustomerProfile(Incremental.customerProfileState(orders)))
    same("incr.supplier_bridge",
      Incremental.finalizeSupplierBridge(Versioned.read(spark, s"$state/state_supplier_bridge")),
      Incremental.finalizeSupplierBridge(Incremental.supplierBridgeState(lineitem)))
    queries.foreach(q => oracle += ((q, s"$work/q/$q", s"q.$q")))
    note("states checked")
    trace.foreach { t =>
      t.drain()
      for (p <- Seq("sales", "supplier")) {
        val c = t.sum(_ == s"incr.$p")
        layer(s"incr.$p.wall_s") = foldWall(p)
        layer(s"incr.$p.jobs") = c.jobs.toDouble
        layer(s"incr.$p.records_read") = c.recordsRead.toDouble
        layer(s"incr.$p.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble
        layer(s"incr.$p.executor_run_s") = c.executorRunMs / 1000.0
      }
      stageWall.foreach { case (s, wall) => layer(s"incr.$s.wall_s") = wall }
      for (q <- queries) {
        val (cs, rs) = qt.getOrElse(q, (0.0, 0.0))
        layer(s"q.$q.construct_s") = cs
        layer(s"q.$q.run_s") = rs
        layer(s"q.$q.construct_jobs") = t.sum(_ == s"q.$q.construct").jobs.toDouble / pass
      }
      val all = t.sum(_.startsWith("q."))
      layer("queries.jobs") = all.jobs.toDouble / pass
      layer("queries.shuffle_write_bytes") = all.shuffleWriteBytes.toDouble / pass
      layer("queries.spill_bytes") = all.spillBytes.toDouble / pass
      layer("queries.catalyst_ms") = all.catalystMs / pass
      // state sizes, read after the run and outside the timing
      for (st <- Seq("state_supplier_bridge", "state_customer_profile"))
        layer(s"incr.$st.rows") = Versioned.read(spark, s"$state/$st").count().toDouble
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ---------------------------------------------------------------- output

  def finish(workload: String): Unit = {
    note("finishing")
    trace.foreach { t =>
      t.close()
      layer("trace_handler_s") = t.handlerSeconds
      Files.write(Paths.get(s"$work/trace.jsonl"), (t.jsonLines.mkString("\n") + "\n").getBytes)
    }
    val oracleSql = SparkEntry.oracleSql
    def nums(m: collection.Map[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "timed_s" -> Json.num(timedS),
      "ops" -> Json.arr(ops.toSeq.map { o =>
        Json.obj(Seq("name" -> Json.str(o.name), "seconds" -> Json.num(o.seconds),
          "ok" -> o.ok.toString, "error" -> Json.str(String.valueOf(o.error).take(300))))
      }),
      "checks" -> Json.arr(checks.toSeq.map { case (n, ok, m, op) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "msg" -> Json.str(m.take(300)),
          "op" -> Json.str(op)))
      }),
      "oracle" -> Json.arr(oracle.toSeq.map { case (q, path, op) =>
        Json.obj(Seq("name" -> Json.str(q), "path" -> Json.str(path), "op" -> Json.str(op),
          "sql" -> Json.str(oracleSql.getOrElse(q, ""))))
      }),
      "headline" -> nums(headline),
      "layer" -> nums(layer)))
    Files.write(Paths.get(s"$work/harness.json"), doc.getBytes)
  }
}
