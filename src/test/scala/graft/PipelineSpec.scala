package graft

import java.nio.file.Files
import graft.engine.Pipeline
import graft.sources.Schemas

class PipelineSpec extends SparkSpec {

  test("sales pipeline runs all stages, partitions order_details by year") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val results = Pipeline.runSalesAnalytics(spark, sf, out)
    assert(results.forall(_.status == "PASS"), results.mkString("; "))
    assert(results.map(_.stage).contains("silver_order_details"))
    assert(results.filter(_.stage.startsWith("bronze")).forall(_.rows > 0))
    // partition pruning layout exists
    val yearDirs = new java.io.File(s"$out/silver_order_details").listFiles()
      .filter(_.getName.startsWith("order_year="))
    assert(yearDirs.nonEmpty)
    // written snapshot is readable and matches the live plan's count
    val written = spark.read.parquet(s"$out/silver_order_details").count()
    assert(written === graft.engine.Silver.orderDetails(spark, sf).count())
    // the DQ stage audits the WRITTEN tables with ALL FIVE families
    // (reference: data_quality_checks.py:27-140 run at
    // run_sales_analytics.py:134). Its plan is parquet scans + single-row
    // aggregates — no Window (that would mean a silver re-derivation); the
    // only joins allowed are the RI orphan probes. Verdicts and metrics
    // must equal the source-derived mode exactly (audit stamps are pinned
    // literals, so even freshness hours agree).
    val auditNames = Seq("orders", "customer", "lineitem", "part",
      "order_details", "customer_orders")
    val dq = graft.engine.Quality.overWarehouse(spark, out, auditNames)
    val dqPlan = dq.queryExecution.executedPlan.toString
    assert(!dqPlan.contains("Window"), "DQ stage re-derived silver:\n" + dqPlan.take(800))
    val audited = dq.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(audited.map(_._1) ===
      Set("row_counts", "null_checks", "referential_integrity",
        "business_rules", "freshness"),
      s"DQ stage must run all five families, got: ${audited.map(_._1)}")
    assert(audited.forall(c => c._4 == "PASS"), s"DQ failures: ${audited.filter(_._4 != "PASS")}")
    // no supplier in this pipeline -> no lineitem->supplier probe
    assert(!audited.exists(_._2 == "lineitem->supplier"))
    val derived = graft.engine.Quality.allFamiliesOver(
        graft.engine.Quality.sourceTables(spark, sf), auditNames)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(audited === derived,
      s"warehouse DQ disagrees with derived DQ: ${audited.diff(derived)} vs ${derived.diff(audited)}")
  }

  test("sales pipeline writes the stats profile in one pass and installs " +
      "nothing: it covers the profiled sources, and a plain source join keeps its plan") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val o = graft.engine.Sources.orders(spark, sf)
    val c = graft.engine.Sources.customer(spark, sf)
    // a plain join over two profiled source tables, with no hints anywhere
    def plainJoin = o.join(c, o("o_custkey") === c("c_custkey"))
      .queryExecution.optimizedPlan.toString
    val before = plainJoin
    // records read per job group: each pipeline stage runs in a job group
    // named after the stage
    val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val recordsRead = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => e.stageIds.foreach(groupOf.put(_, g)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (g <- Option(groupOf.get(e.stageId)); m <- Option(e.taskMetrics))
          recordsRead.merge(g, m.inputMetrics.recordsRead, (a, b) => a + b)
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft_pipe_stats").toString
    sc.addSparkListener(listener)
    val results = try {
      val rs = Pipeline.runSalesAnalytics(spark, sf, out)
      org.apache.spark.graft.SparkBridge.drainListeners(sc)
      rs
    } finally sc.removeSparkListener(listener)
    assert(results.exists(r => r.stage == "stats_profile" && r.status == "PASS"),
      results.mkString("; "))
    // the stage wrote an auditable table covering exactly the profiled
    // sources, each column with its source's row count
    val sources = Seq("orders", "lineitem", "customer")
      .map(t => t -> graft.ext.Sketch.sliceSource(spark, sf, t)._1.count()).toMap
    val nRows = spark.read.parquet(s"$out/stats_profile")
      .select("table_name", "n_rows").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(nRows.map(_._1).sorted === sources.keys.toSeq.sorted, nRows.toString)
    assert(nRows.toMap === sources)
    // nothing was installed on the session: the same join plans as before
    assert(plainJoin === before, "the pipeline run changed a plain join's plan")
    // the profile was computed once, by the stage's write: one read of
    // every profiled table
    assert(Option(recordsRead.get("stats_profile")).map(_.longValue) ===
      Some(sources.values.sum), recordsRead.toString)
  }

  test("pipelines build each layer from the written layer below: silver and gold " +
      "stages scan no raw input, and the written gold tables equal the registry's") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // every file-scan root of every query, keyed by its job group: each
    // pipeline stage runs in a job group named after the stage, and a scan
    // node's Location metadata names its root path in full
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def locations(p: SparkPlanInfo): Seq[String] =
      p.metadata.get("Location").toSeq ++ p.children.flatMap(locations)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.foreach(g => locations(s.sparkPlanInfo).foreach(l => scans.add(g -> l)))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft_pipe_layers").toString
    sc.addSparkListener(listener)
    try {
      Pipeline.runSalesAnalytics(spark, sf, s"$out/sales")
      Pipeline.runSupplierAnalytics(spark, sf, s"$out/supplier")
      org.apache.spark.graft.SparkBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    val byStage = scans.asScala.toSeq.groupMap(_._1)(_._2)
    def scanned(prefix: String): Map[String, Seq[String]] =
      byStage.filter(_._1.startsWith(prefix))
    val raw = s"$sf/"
    // the listener sees raw scans where they belong: bronze reads the source
    assert(scanned("bronze_").values.flatten.exists(_.contains(raw)), byStage.toString)
    // silver reads the written bronze tables and gold the written silver
    // tables — never a raw <table>.parquet input
    for ((layer, below) <- Seq("silver_" -> "/bronze_", "gold_" -> "/silver_")) {
      val stages = scanned(layer)
      assert(stages.nonEmpty, s"no $layer stage traced: ${byStage.keySet}")
      stages.foreach { case (stage, roots) =>
        assert(!roots.exists(_.contains(raw)), s"$stage scans a raw input: $roots")
        assert(roots.exists(_.contains(below)), s"$stage reads no $below table: $roots")
      }
    }
    // ... and the gold tables they wrote equal the registry's from-source
    // queries row for row
    Seq("gold_revenue_by_region" -> "sales", "gold_customer_lifetime_value" -> "sales",
      "gold_monthly_sales_trends" -> "sales", "gold_supplier_performance" -> "supplier")
      .foreach { case (q, scope) =>
        val written = spark.read.parquet(s"$out/$scope/$q")
        val expected = SparkEntry.queries(q)(spark, sf)
        assert(written.columns.toSeq === expected.columns.toSeq, q)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
        val (w, e) = (rows(written), rows(expected))
        assert(w.nonEmpty && w === e, s"$q: written ${w.size} rows vs registry ${e.size}")
      }
  }

  test("corpus pipeline: all stages pass, scrub boundary holds, DQ gate all-PASS") {
    val out = Files.createTempDirectory("graft_corpus_pipe").toString
    val results = Pipeline.runCorpusPipeline(spark, sf, out)
    assert(results.forall(_.status == "PASS"), results.mkString("; "))
    assert(results.map(_.stage) === Seq("corpus_scrubbed", "corpus_gates",
      "corpus_blocklist", "corpus_nb_quality", "corpus_decontaminate",
      "corpus_quality_sample", "corpus_fingerprints", "corpus_cross_modal",
      "corpus_release_manifest",
      "corpus_preprocess", "corpus_reject_ledger",
      "corpus_packed", "corpus_data_card", "quality_checks"))
    // the decontamination sweep ran on the scrubbed text and flagged the
    // fixture's genuine eval/train shared spans (non-vacuous)
    assert(spark.read.parquet(s"$out/corpus_decontaminate")
      .where(org.apache.spark.sql.functions.col("contaminated")).count() > 0)
    // the release manifest EXCLUDED them (kept ∧ ¬contaminated ∧ train)
    val rel = spark.read.parquet(s"$out/corpus_release_manifest")
    val kept = spark.read.parquet(s"$out/corpus_quality_sample")
      .where(org.apache.spark.sql.functions.col("kept"))
    assert(rel.count() > 0 && rel.count() < kept.count(),
      s"release ${rel.count()} vs kept ${kept.count()}: exclusion vacuous")
    assert(results.forall(_.rows > 0), results.mkString("; "))
    // the ingest boundary: no raw text column anywhere in the scrub store
    val scrubbed = spark.read.parquet(s"$out/corpus_scrubbed")
    assert(!scrubbed.columns.contains("text"))
    assert(scrubbed.count() ===
      graft.engine.Sources.documents(spark, sf).count())
    // the DQ gate wrote per-check verdicts and every one passed
    val dq = spark.read.parquet(s"$out/quality_checks").collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("status")).toMap
    assert(dq.keySet === Set("scrub_coverage", "residual_pii",
      "sample_referential_integrity", "data_card_reconciliation",
      "release_leak_free", "release_dup_free", "retrieval_quality",
      "embedding_index_recall", "embedding_table"))
    assert(dq.values.forall(_ == "PASS"), dq.toString)
    // the fingerprint ingest decoded every modality exactly once (3 report
    // rows, one per media arm) and the cross-modal stage audited the STORE
    val fpReport = spark.read.parquet(s"$out/corpus_fingerprints").collect()
      .map(r => r.getAs[String]("modality") -> r.getAs[Long]("n_new")).toMap
    assert(fpReport.keySet === Set("image", "audio", "video"), fpReport.toString)
    assert(fpReport.values.forall(_ > 0), fpReport.toString)
    // the cross-modal gate EXCLUDED every any_dup doc from the release
    val relIds = rel.select("doc_id")
    val dupJoin = relIds.join(
      spark.read.parquet(s"$out/corpus_cross_modal")
        .where(org.apache.spark.sql.functions.col("any_dup"))
        .select("doc_id"), Seq("doc_id"))
    assert(dupJoin.count() === 0L, "released doc is a cross-modal near-dup")
    assert(spark.read.parquet(s"$out/corpus_cross_modal")
      .where(org.apache.spark.sql.functions.col("any_dup")).count() > 0,
      "cross-modal gate vacuous on the fixture")
    // frame-based stages ran on the scrubbed text: the sample's doc set is
    // exactly the corpus (clean fixture: scrub is a no-op on content)
    val sample = spark.read.parquet(s"$out/corpus_quality_sample")
    assert(sample.count() === scrubbed.count())
    // the standalone release-manifest plan (the SQL-addressable product,
    // Corpus.releaseManifest) reproduces the pipeline stage BIT-FOR-BIT —
    // one algebra, two surfaces; a drift between them would ship a product
    // view that disagrees with the released artifact
    val viaView = graft.ext.Corpus.releaseManifest(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaStage = rel.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaView === viaStage,
      s"view ${viaView.size} rows vs stage ${viaStage.size}")
  }

  test("embedding-index recall gate: the deployed method clears the floor; " +
      "a degraded index and an unprobable (zero-query) audit both FAIL") {
    import org.apache.spark.sql.functions._
    val (pct, ok) = graft.ext.Similarity.recallAuditGate(spark, sf)
    assert(ok && pct >= graft.ext.Similarity.RecallFloorPct,
      s"deployed-index recall $pct% under floor")
    // degraded index: approx results that miss everything → hard FAIL
    val exact = graft.ext.Similarity.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id")
    val garbage = exact.select(col("query_id"),
      (col("neighbor_id") + 1000000L).as("neighbor_id"))
    val (gPct, gOk) = graft.ext.Similarity.recallGateOf(exact, garbage, 60L)
    assert(!gOk && gPct === 0L, s"degraded index passed at $gPct%")
    // zero probe queries = FAIL, never a vacuous pass
    val (zPct, zOk) = graft.ext.Similarity.recallGateOf(
      exact.limit(0), exact, 60L)
    assert(!zOk && zPct === 0L)
  }

  test("a store's geometry is fixed at creation: a fresh store records " +
      "max(8, defaultParallelism), a recorded _GEOMETRY is read back and laid out " +
      "on disk; a stale _GEOMETRY.tmp is overwritten, an empty _GEOMETRY fails naming it") {
    import java.nio.file.Paths
    def storeDir(files: (String, String)*): String = {
      val store = Files.createTempDirectory("graft_geo").toString + "/fp"
      Files.createDirectories(Paths.get(store))
      files.foreach { case (name, body) => Files.writeString(Paths.get(store, name), body) }
      store
    }
    // fresh store (only a torn write's leftover .tmp): records the floor or
    // the session's parallelism, whichever is larger
    val expected = math.max(8, spark.sparkContext.defaultParallelism)
    val fresh = storeDir("_GEOMETRY.tmp" -> "")
    assert(graft.ext.FpStore.storeBuckets(spark, fresh) === expected)
    assert(Files.readString(Paths.get(fresh, "_GEOMETRY")).trim === expected.toString)
    assert(!Files.exists(Paths.get(fresh, "_GEOMETRY.tmp")))
    // a pre-recorded geometry of 4 is what the tables are declared with AND
    // how the data files are laid out: every data file carries one of
    // exactly 4 bucket ids (one file per task × bucket; the _NNNNN suffix is
    // the bucket id). ingestDelta folds into the store as it is (build
    // would wipe the path first).
    val store = storeDir("_GEOMETRY" -> "4")
    graft.ext.FpStore.ingestDelta(spark, store, sf).collect()
    val tbl = spark.sql(
      s"DESCRIBE TABLE EXTENDED ${graft.ext.FpStore.fpTable(store, "image")}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tbl.get("Num Buckets").contains("4"), tbl.toString)
    val bucketIds = new java.io.File(s"$store/fps/modality=image/batch=0")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .flatMap("_(\\d{5})\\.c000".r.findFirstMatchIn(_).map(_.group(1).toInt))
      .toSet
    assert(bucketIds === Set(0, 1, 2, 3), s"bucket ids: $bucketIds")
    // an empty record fails with the file's path, not a bare
    // NumberFormatException
    val torn = storeDir("_GEOMETRY" -> "")
    val e = intercept[IllegalStateException] {
      graft.ext.FpStore.storeBuckets(spark, torn)
    }
    assert(e.getMessage.contains(s"$torn/_GEOMETRY"), e.getMessage)
  }

  test("supplier pipeline runs the reference's full stage list incl. nation/region") {
    val out = Files.createTempDirectory("graft_pipe_sup").toString
    val results = Pipeline.runSupplierAnalytics(spark, sf, out)
    assert(results.map(_.stage) === Seq(
      "bronze_nation", "bronze_region", "bronze_supplier", "bronze_part",
      "bronze_orders", "bronze_lineitem", "stats_profile",
      "silver_order_details",
      "silver_supplier_parts", "gold_supplier_performance", "quality_checks"))
    assert(results.forall(_.status == "PASS"))
    // rows come from write-side metrics, not a read-back scan — must be real
    assert(results.forall(_.rows > 0), results.mkString("; "))
    // the supplier DQ stage covers the supplier-side families, including the
    // lineitem->supplier probe the sales pipeline can't run
    val dq = spark.read.parquet(s"$out/quality_checks")
    val families = dq.select("family").distinct().collect().map(_.getString(0)).toSet
    assert(families === Set("row_counts", "null_checks", "referential_integrity",
      "business_rules", "freshness"), families.toString)
    val checks = dq.select("check_name").collect().map(_.getString(0)).toSet
    assert(checks.contains("lineitem->supplier") && !checks.contains("orders->customer"))
    assert(dq.where(org.apache.spark.sql.functions.col("status") =!= "PASS").count() === 0)
  }

  test("pipelines run each layer as one wave: bronze stages overlap, no silver job " +
      "starts before the last bronze ends, no gold or DQ job before the last silver ends") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    // (job group, start ms, end ms) of every job run in a job group
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.put(e.jobId, g -> e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (g, t0) => jobs.add((g, t0, e.time)) }
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft_pipe_waves").toString
    def traced(run: => Seq[Pipeline.StageResult]): Seq[(String, Long, Long)] = {
      sc.addSparkListener(listener)
      try {
        run
        org.apache.spark.graft.SparkBridge.drainListeners(sc)
      } finally sc.removeSparkListener(listener)
      val js = jobs.asScala.toSeq
      jobs.clear()
      js
    }
    val runs = Seq(
      "sales" -> traced(Pipeline.runSalesAnalytics(spark, sf, s"$out/sales")),
      "supplier" -> traced(Pipeline.runSupplierAnalytics(spark, sf, s"$out/supplier")))
    for ((scope, js) <- runs) {
      def of(prefixes: String*) = js.filter(j => prefixes.exists(j._1.startsWith))
      val (bronze, silver, top) =
        (of("bronze_", "stats_"), of("silver_"), of("gold_", "quality_"))
      assert(bronze.nonEmpty && silver.nonEmpty && top.nonEmpty, s"$scope: $js")
      val overlapping = for {
        a <- of("bronze_"); b <- of("bronze_")
        if a._1 < b._1 && a._2 < b._3 && b._2 < a._3
      } yield (a._1, b._1)
      assert(overlapping.nonEmpty, s"$scope: no two bronze stages ran at once: ${of("bronze_")}")
      assert(silver.map(_._2).min >= bronze.map(_._3).max,
        s"$scope: a silver job started before wave 1 ended: $js")
      assert(top.map(_._2).min >= silver.map(_._3).max,
        s"$scope: a gold or DQ job started before wave 2 ended: $js")
    }
  }

  test("pipeline stages count rows from their own jobs only: every stage's rows " +
      "equal its written table's count") {
    val out = Files.createTempDirectory("graft_pipe_rows").toString
    val results =
      Pipeline.runSalesAnalytics(spark, sf, s"$out/sales").map("sales" -> _) ++
        Pipeline.runSupplierAnalytics(spark, sf, s"$out/supplier").map("supplier" -> _)
    results.foreach { case (scope, r) =>
      assert(r.rows === spark.read.parquet(s"$out/$scope/${r.stage}").count(), s"$scope: $r")
    }
  }

  test("a failed critical stage ends its pipeline after its wave: without " +
      "lineitem, sales writes no silver and supplier no gold") {
    val noLineitem = Files.createTempDirectory("graft_no_lineitem")
    new java.io.File(sf).listFiles().filter(_.getName != "lineitem.parquet")
      .foreach(f => Files.copy(f.toPath, noLineitem.resolve(f.getName)))
    val cfg = engine.EngineConfig.defaults.copy(maxRetryAttempts = 1)
    val out = Files.createTempDirectory("graft_pipe_gate").toString
    def written(scope: String): Seq[String] =
      Option(new java.io.File(s"$out/$scope").list()).toSeq.flatten.sorted
    // sales: bronze_lineitem is critical, so the run ends after wave 1; the
    // other stages of that wave still ran
    val sales = intercept[RuntimeException] {
      Pipeline.runSalesAnalytics(spark, noLineitem.toString, s"$out/sales", cfg)
    }
    assert(sales.getMessage.contains("critical stage 'bronze_lineitem' failed"),
      sales.getMessage)
    assert(!written("sales").exists(_.startsWith("silver_")), written("sales"))
    assert(written("sales").contains("bronze_orders"), written("sales"))
    // supplier: the critical silver_supplier_parts reads bronze_lineitem, so
    // bronze_lineitem is critical too and the run ends after wave 1
    val supplier = intercept[RuntimeException] {
      Pipeline.runSupplierAnalytics(spark, noLineitem.toString, s"$out/supplier", cfg)
    }
    assert(supplier.getMessage.contains("critical stage 'bronze_lineitem' failed"),
      supplier.getMessage)
    assert(written("supplier").contains("bronze_supplier"), written("supplier"))
    assert(!written("supplier").exists(_.startsWith("silver_")), written("supplier"))
  }

  test("incremental mode == from-scratch aggregates bit-for-bit; replay no-ops; " +
    "published change feeds reconstruct the profile") {
    import org.apache.spark.sql.functions._
    import graft.engine.Incremental
    import graft.sources.Versioned
    val out = Files.createTempDirectory("graft_incr").toString
    val o = graft.engine.Sources.orders(spark, sf).cache()
    val slices = Seq(
      col("o_orderdate") < lit("1995-01-01"),
      col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1997-01-01"),
      col("o_orderdate") >= lit("1997-01-01"))
    def assertSetEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(a.count() === b.count(), s"$what: row counts differ")
      assert(a.unionByName(b).distinct().count() === b.count(),
        s"$what: values differ from the from-scratch run")
    }
    slices.zipWithIndex.foreach { case (pred, i) =>
      val rs = Pipeline.runSalesIncrement(spark, o.where(pred), out, i.toLong)
      assert(rs.forall(_.status == "PASS"), rs.mkString("; "))
      val sofar = slices.take(i + 1).map(o.where).reduce(_ unionByName _)
      // bit-identity after EVERY batch, both maintained aggregates
      assertSetEqual(
        Incremental.finalize(Versioned.read(spark, s"$out/state_monthly_revenue")),
        Incremental.finalize(Incremental.monthlyRevenueState(sofar)),
        s"monthly revenue after batch $i")
      assertSetEqual(
        Incremental.finalizeCustomerProfile(
          Versioned.read(spark, s"$out/state_customer_profile")),
        Incremental.finalizeCustomerProfile(Incremental.customerProfileState(sofar)),
        s"customer profile after batch $i")
    }
    // at-least-once replay of the last batch: no new versions committed
    val vm = Versioned.latestVersion(spark, s"$out/state_monthly_revenue")
    val vp = Versioned.latestVersion(spark, s"$out/state_customer_profile")
    Pipeline.runSalesIncrement(spark, o.where(slices.last), out, 2L)
    assert(Versioned.latestVersion(spark, s"$out/state_monthly_revenue") === vm)
    assert(Versioned.latestVersion(spark, s"$out/state_customer_profile") === vp)
    // a downstream consumer replaying ONLY the published change feeds, in
    // order, lands on the exact final profile (upsert new_*, drop deletes)
    val feeds = spark.read.parquet(s"$out/cdf_customer_profile")
    var replayed = Incremental.finalizeCustomerProfile(
      Incremental.customerProfileState(o.limit(0)))
    (0L to 2L).foreach { b =>
      val f = feeds.where(col("batch") === b)
      replayed = replayed
        .join(f.select(col("customer_key")), Seq("customer_key"), "left_anti")
        .unionByName(f.where(col("change_type") =!= "delete")
          .select(col("customer_key"), col("new_order_count").as("order_count"),
            col("new_total_spent").as("total_spent")))
    }
    assertSetEqual(replayed,
      Incremental.finalizeCustomerProfile(
        Versioned.read(spark, s"$out/state_customer_profile")),
      "feed replay")
    o.unpersist()
  }

  test("a crash between the pointer delete and its rename loses no head: the " +
      "committed version survives and a replayed batch leaves the state byte-identical") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val out = Files.createTempDirectory("graft_crash").toString
    val o = graft.engine.Sources.orders(spark, sf)
    val early = col("o_orderdate") < lit("1995-01-01")
    Pipeline.runSalesIncrement(spark, o.where(early), out, 0L)
    Pipeline.runSalesIncrement(spark, o.where(!early), out, 1L)
    val stores = Seq("state_monthly_revenue", "state_customer_profile")
    val committed = stores.map(s => Versioned.latestVersion(spark, s"$out/$s"))
    assert(committed.forall(_.contains(2)), committed)
    // every file but the pointer files, by path relative to `out`
    def state(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(out)
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.contains("_LATEST"))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
    val before = state()
    // batch 1's pointer swaps wrote the complete `_LATEST.tmp` and deleted
    // `_LATEST`, then the process died before the rename
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    stores.zip(committed).foreach { case (s, v) =>
      val tmp = fs.create(new Path(s"$out/$s", "_LATEST.tmp"), true)
      try tmp.write(s"${v.get}\n".getBytes("UTF-8")) finally tmp.close()
      assert(fs.delete(new Path(s"$out/$s", "_LATEST"), false))
    }
    assert(stores.map(s => Versioned.latestVersion(spark, s"$out/$s")) === committed)
    // the replayed batch sees its own commit tag and folds nothing
    val replay = Pipeline.runSalesIncrement(spark, o.where(!early), out, 1L)
    assert(replay.forall(_.rows == 0L), replay.mkString("; "))
    assert(stores.map(s => Versioned.latestVersion(spark, s"$out/$s")) === committed)
    assert(state() === before, "replay changed the state files")
  }

  test("supplier incremental mode: folded bridge reproduces the full silver " +
    "bit-for-bit after every batch; replay no-ops; feeds reconstruct") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Bronze, Incremental, Silver}
    import graft.sources.Versioned
    val out = Files.createTempDirectory("graft_sincr").toString
    val li = Bronze.lineitem(spark, sf).cache()
    val slices = (0 until 3).map(i => col("l_orderkey") % 3 === i)
    def silverOf(state: org.apache.spark.sql.DataFrame) =
      Silver.supplierPartsFromBridge(spark, sf,
        Incremental.finalizeSupplierBridge(state))
    def assertSetEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(a.count() === b.count(), s"$what: row counts differ")
      assert(a.unionByName(b).distinct().count() === b.count(),
        s"$what: values differ from the from-scratch run")
    }
    slices.zipWithIndex.foreach { case (pred, i) =>
      val rs = Pipeline.runSupplierIncrement(spark, li.where(pred), sf, out, i.toLong)
      assert(rs.forall(_.status == "PASS"), rs.mkString("; "))
      val sofar = slices.take(i + 1).map(li.where).reduce(_ unionByName _)
      // the maintained state, pushed through the SHARED finalize, equals the
      // from-scratch silver over the same prefix — windows included
      assertSetEqual(
        silverOf(Versioned.read(spark, s"$out/state_supplier_bridge")),
        silverOf(Incremental.supplierBridgeState(sofar)),
        s"supplier parts after batch $i")
    }
    // all three slices = the whole deduped lineitem, so the folded result
    // must equal the registered (oracle-checked) silver query exactly
    assertSetEqual(
      silverOf(Versioned.read(spark, s"$out/state_supplier_bridge")),
      Silver.supplierParts(spark, sf),
      "final state vs silver_supplier_parts")
    // at-least-once replay: no new version committed
    val v = Versioned.latestVersion(spark, s"$out/state_supplier_bridge")
    Pipeline.runSupplierIncrement(spark, li.where(slices.last), sf, out, 2L)
    assert(Versioned.latestVersion(spark, s"$out/state_supplier_bridge") === v)
    // replaying ONLY the published feeds, in order, reconstructs the final
    // silver (upsert new_*, drop deletes) — rank churn included
    val fin = Silver.supplierParts(spark, sf)
    val keys = Seq("supplier_key", "part_key")
    val valueCols = fin.columns.filterNot(keys.contains).toSeq
    val feeds = spark.read.parquet(s"$out/cdf_supplier_parts")
    var replayed = fin.limit(0)
    (0L to 2L).foreach { b =>
      val f = feeds.where(col("batch") === b)
      replayed = replayed
        .join(f.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(f.where(col("change_type") =!= "delete")
          .select(keys.map(col) ++
            valueCols.map(c => col(s"new_$c").as(c)): _*))
    }
    assertSetEqual(replayed, fin, "supplier feed replay")
    li.unpersist()
  }

  test("quality gate trips on an injected orphan key and on a stale table") {
    import org.apache.spark.sql.functions._
    val Q = graft.engine.Quality
    val base = Q.sourceTables(spark, sf)
    val names = Seq("orders", "customer")
    Q.assertAllOver(base, names) // clean fixture: gate passes
    // orphan: orders rows pointing at a customer key no customer has —
    // pre-r7 the gate unioned only 3 families and could not see this
    val orphaned: Q.TableResolver = {
      case "orders" => base("orders").unionByName(
        base("orders").limit(3).withColumn("o_custkey",
          lit(999999999L).cast(base("orders").schema("o_custkey").dataType)))
      case other => base(other)
    }
    val e1 = intercept[IllegalArgumentException] { Q.assertAllOver(orphaned, names) }
    assert(e1.getMessage.contains("referential_integrity"), e1.getMessage)
    // staleness: _ingested_at pushed a week before the pinned audit instant
    val stale: Q.TableResolver = {
      case "orders" => base("orders").withColumn("_ingested_at",
        lit(java.sql.Timestamp.valueOf("2001-12-25 00:00:00")))
      case other => base(other)
    }
    val e2 = intercept[IllegalArgumentException] { Q.assertAllOver(stale, names) }
    assert(e2.getMessage.contains("freshness"), e2.getMessage)
  }

  test("fused DQ audit equals the five family functions row for row, on the " +
      "fixture and on an empty, an all-null and an orphaned input") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions._
    val Q = graft.engine.Quality
    val base = Q.sourceTables(spark, sf)
    // the five public family functions, reshaped into the audit's
    // (family, check_name, metric, status) rows
    def families(t: Q.TableResolver, names: Seq[String]): Seq[Row] = {
      def fam(family: String, df: DataFrame, check: String, metric: String): DataFrame =
        df.select(lit(family).as("family"), col(check).as("check_name"),
          col(metric).cast("double").as("metric"), col("status"))
      Seq(
        fam("row_counts", Q.rowCountsOver(t, names), "table_name", "row_count"),
        fam("null_checks", Q.nullChecksOver(t, names), "check_name", "null_count"),
        fam("referential_integrity", Q.referentialIntegrityOver(t, names),
          "check_name", "orphan_count"),
        fam("business_rules", Q.businessRulesOver(t, names), "rule_name", "violation_count"),
        fam("freshness", Q.freshnessOver(t, names), "table_name", "hours_since"))
        .reduce(_.unionByName(_)).orderBy("family", "check_name").collect().toSeq
    }
    def check(t: Q.TableResolver, names: Seq[String], what: String): Seq[Row] = {
      val fused = Q.allFamiliesOver(t, names).collect().toSeq
      assert(fused === families(t, names), what)
      fused
    }
    def row(rows: Seq[Row], family: String, name: String): Row =
      rows.find(r => r.getString(0) == family && r.getString(1) == name).get
    val sales = Seq("orders", "customer", "lineitem", "part",
      "order_details", "customer_orders")
    check(base, Q.AllTables :+ "events", "fixture, every table")
    check(base, Seq("orders", "supplier", "part", "lineitem", "nation", "region",
      "order_details", "supplier_parts"), "fixture, supplier tables")
    val empty = check({
      case "orders" => base("orders").limit(0)
      case other => base(other)
    }, sales, "empty orders")
    assert(row(empty, "row_counts", "orders") === Row("row_counts", "orders", 0.0, "FAIL"))
    assert(row(empty, "freshness", "bronze.orders") ===
      Row("freshness", "bronze.orders", null, "STALE"))
    val allNull = check({
      case "customer_orders" => base("customer_orders")
        .withColumn("customer_segment", lit(null).cast("string"))
      case other => base(other)
    }, sales, "all-null customer_segment")
    val nCustomers = base("customer_orders").count().toDouble
    assert(row(allNull, "null_checks", "customer_orders.customer_segment") ===
      Row("null_checks", "customer_orders.customer_segment", nCustomers, "FAIL"))
    val orphaned = check({
      case "orders" => base("orders").unionByName(
        base("orders").limit(3).withColumn("o_custkey",
          lit(999999999L).cast(base("orders").schema("o_custkey").dataType)))
      case other => base(other)
    }, sales, "orphan o_custkey")
    assert(row(orphaned, "referential_integrity", "orders->customer") ===
      Row("referential_integrity", "orders->customer", 3.0, "FAIL"))
  }

  test("stage retries with delay and succeeds on a later attempt") {
    val out = Files.createTempDirectory("graft_retry").toString
    val cfg = engine.EngineConfig.defaults
      .copy(maxRetryAttempts = 3, retryDelaySeconds = 0.01)
    var calls = 0
    val r = Pipeline.stage(spark, cfg, "flaky", critical = false, out) {
      calls += 1
      if (calls < 3) sys.error(s"transient failure #$calls")
      engine.Bronze.region(spark, sf)
    }
    assert(r.status === "PASS" && r.attempts === 3 && r.rows === 5)
  }

  test("stage times out, cancels its job group, and records FAIL when non-critical") {
    val out = Files.createTempDirectory("graft_timeout").toString
    val cfg = engine.EngineConfig.defaults
      .copy(maxRetryAttempts = 1, retryDelaySeconds = 0.01, stageTimeoutSeconds = 1.5)
    val slow = org.apache.spark.sql.functions.udf { n: Long =>
      Thread.sleep(10000); n
    }
    val r = Pipeline.stage(spark, cfg, "too_slow", critical = false, out) {
      spark.range(4).select(slow(org.apache.spark.sql.functions.col("id")).as("id"))
    }
    assert(r.status === "FAIL" && r.error.exists(_.contains("timed out")), r.toString)
    assert(r.seconds < 8, s"timeout did not bound the stage: ${r.seconds}s")
  }

  test("EngineConfig loads configs/{env}.json with reference fallback defaults") {
    val prod = engine.EngineConfig.load("prod")
    assert(prod.maxRetryAttempts === 5 && prod.retryDelaySeconds === 300.0)
    val dev = engine.EngineConfig.load("dev")
    assert(dev.maxRetryAttempts === 3)
    assert(engine.EngineConfig.load("stage").retryDelaySeconds === 120.0)
    // unknown configs dir -> inline defaults (reference _context.py:33-43)
    val fb = engine.EngineConfig.load("stage", "/nonexistent")
    assert(fb === engine.EngineConfig.defaults && fb.retryDelaySeconds === 60.0)
    intercept[IllegalArgumentException] { engine.EngineConfig.load("qa") }
    // the file comes from outside the program: a value out of range or not
    // a number fails naming the key and the file, never reaching a stage
    val cfgDir = Files.createTempDirectory("graft_cfg").toString
    for ((json, key) <- Seq(
        """{"retry_delay_seconds": -1}""" -> "retry_delay_seconds",
        """{"stage_timeout_seconds": 0}""" -> "stage_timeout_seconds",
        """{"max_retry_attempts": "five"}""" -> "max_retry_attempts",
        """{"max_retry_attempts": 0}""" -> "max_retry_attempts",
        """{"max_retry_attempts": 2.5}""" -> "max_retry_attempts")) {
      Files.writeString(java.nio.file.Paths.get(cfgDir, "dev.json"), json)
      val e = intercept[IllegalArgumentException] { engine.EngineConfig.load("dev", cfgDir) }
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"$cfgDir/dev.json"),
        s"$json: ${e.getMessage}")
    }
    Files.writeString(java.nio.file.Paths.get(cfgDir, "dev.json"),
      """{"max_retry_attempts": 1, "retry_delay_seconds": 0, "stage_timeout_seconds": 0.5}""")
    assert(engine.EngineConfig.load("dev", cfgDir) === engine.EngineConfig(1, 0.0, 0.5))
  }

  test("batchId formats as batch_yyyyMMdd_HHmmss") {
    val id = Pipeline.batchId(java.time.ZonedDateTime.of(2026, 1, 2, 3, 4, 5, 0,
      java.time.ZoneOffset.UTC))
    assert(id === "batch_20260102_030405")
  }

  test("schema catalog: ensure is idempotent and scans accept the declared schema") {
    val out = Files.createTempDirectory("graft_ddl").toString
    Schemas.ensure(spark, "orders", s"$out/orders")
    Schemas.ensure(spark, "orders", s"$out/orders") // second call: no-op
    assert(spark.read.parquet(s"$out/orders").schema === Schemas.orders)
    // declared schema is read-compatible with the real fixture files
    val withSchema = spark.read.schema(Schemas.documents).parquet(s"$sf/documents.parquet")
    assert(withSchema.count() === 500)
  }
}
