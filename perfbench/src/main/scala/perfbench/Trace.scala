package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one (scope, job group) cell of the trace. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorRunMs = 0L
  var catalystMs = 0.0

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; recordsRead += o.recordsRead
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    executorRunMs += o.executorRunMs; catalystMs += o.catalystMs
    this
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "records_read" -> recordsRead.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "executor_run_s" -> executorRunMs / 1000.0,
    "catalyst_ms" -> catalystMs)
}

/** The benchmark's own trace: one SparkListener plus one
  * QueryExecutionListener, attributing every job to the scope the harness
  * has open (a pipeline call, a batch fold, a query phase) and to the job
  * group it ran under — `Pipeline.stage` sets the group to the stage name.
  * Listener delivery is asynchronous, so the harness drains the bus
  * ([[drain]]) before it moves to the next scope. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val cells = mutable.Map.empty[(String, String), Counters]
  private val stageCell = mutable.Map.empty[Int, (String, String)]
  private val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var open = List.empty[String]
  @volatile private var scope = "setup"
  private var handlerNanos = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def cell(key: (String, String)): Counters = cells.getOrElseUpdate(key, new Counters)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    handlerNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val key = (scope, group)
    cell(key).jobs += 1
    e.stageIds.foreach(stageCell(_) = key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageCell.get(e.stageInfo.stageId).foreach(cell(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val c = cell(stageCell.getOrElse(e.stageId, (scope, "")))
      c.tasks += 1
      c.recordsRead += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.executorRunMs += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    cell((scope, "")).catalystMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Forget everything traced so far (the set-up), keeping the listeners. */
  def reset(): Unit = {
    drain()
    synchronized { cells.clear(); stageCell.clear(); spans.clear(); handlerNanos = 0L }
  }

  /** Run `body` as span `name`, a child of the innermost open span; jobs
    * started inside it (and outside any child) count under its scope. */
  def span[A](name: String)(body: => A): A = {
    drain()
    val parent = open.headOption.getOrElse("")
    open = name :: open
    scope = name
    val t0 = System.currentTimeMillis()
    try body
    finally {
      drain()
      synchronized { spans += ((name, parent, t0, System.currentTimeMillis())) }
      open = open.tail
      scope = open.headOption.getOrElse("idle")
    }
  }

  def drain(): Unit = org.apache.spark.graft.SparkBridge.drainListeners(sc)

  /** Counters summed over every cell whose scope satisfies `p` and whose
    * job group satisfies `g`. */
  def sum(p: String => Boolean, g: String => Boolean = _ => true): Counters = synchronized {
    cells.collect { case ((s, grp), c) if p(s) && g(grp) => c }
      .foldLeft(new Counters)(_ add _)
  }

  def handlerSeconds: Double = synchronized(handlerNanos / 1e9)

  /** Every span and every (scope, group) cell as one JSON object per line. */
  def jsonLines: Seq[String] = synchronized {
    val s = spans.map { case (n, parent, a, b) =>
      Json.obj(Seq("kind" -> Json.str("span"), "name" -> Json.str(n), "parent" -> Json.str(parent),
        "start_ms" -> Json.num(a.toDouble), "end_ms" -> Json.num(b.toDouble)))
    }
    val c = cells.toSeq.sortBy(_._1).map { case ((scope, grp), k) =>
      Json.obj(Seq("kind" -> Json.str("counters"), "scope" -> Json.str(scope),
        "group" -> Json.str(grp)) ++ k.fields.map { case (f, v) => f -> Json.num(v) })
    }
    (s ++ c).toSeq
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Minimal JSON writer that refuses non-finite numbers, so every line it
  * emits parses. */
object Json {
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def str(s: String): String = graft.Verify.jsonStr(s)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
