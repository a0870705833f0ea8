package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshot store — the file-format-free core of table-format time
  * travel (reference's lakehouse sinks overwrite in place; Delta/Iceberg add
  * exactly this: immutable versioned data + an atomically-swapped pointer).
  *
  *  - every write lands in `path/v=<n>/` (immutable once written)
  *  - `_LATEST` is a one-line pointer file, replaced via write-temp + rename
  *    (atomic on HDFS-like filesystems), so readers resolving the pointer
  *    never observe a partially-written version. Hadoop's rename does not
  *    overwrite, so the old pointer is deleted first; a crash between the
  *    delete and the rename leaves only the complete `_LATEST.tmp`, which
  *    [[latestVersion]] reads as the pointer
  *  - time travel = read a pinned `v=<n>`; rollback = move the pointer (data
  *    is untouched, roll-forward stays possible)
  *  - a maintained state commits each delta batch through [[foldBatch]],
  *    which tags the version with its batch id (`v=<n>/_TAG` = `batch=<id>`)
  *    and treats the head's id as a high-water mark: a batch at or below it
  *    folds nothing. That is the exactly-once rule of every state fold,
  *    batch mode and stream alike (monotone batch ids + an idempotent
  *    commit, as in Structured Streaming)
  *
  * At 100 TB the pointer would live in a transaction log / catalog with
  * conditional-put semantics; the layout and reader contract stay the same.
  */
object Versioned {

  private val Pointer = "_LATEST"
  private val PointerTmp = s"$Pointer.tmp"
  private val BatchTag = """batch=(-?\d+)""".r

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readString(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Highest committed version, if any. Without a pointer, a
    * newline-terminated (so completely written) `_LATEST.tmp` is the pointer
    * whose swap a crash interrupted. */
  def latestVersion(spark: SparkSession, path: String): Option[Int] = {
    val f = fs(spark, path)
    val p = new Path(path, Pointer)
    val tmp = new Path(path, PointerTmp)
    if (f.exists(p)) Some(readString(f, p).trim.toInt)
    else if (f.exists(tmp)) Some(readString(f, tmp)).filter(_.endsWith("\n")).map(_.trim.toInt)
    else None
  }

  /** Point `_LATEST` at `version`: write the complete pointer to
    * `_LATEST.tmp`, then delete the old pointer and rename the temp onto it. */
  private def swapPointer(f: FileSystem, path: String, version: Int): Unit = {
    val tmp = new Path(path, PointerTmp)
    val out = f.create(tmp, true)
    try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
    val ptr = new Path(path, Pointer)
    if (f.exists(ptr)) f.delete(ptr, false)
    require(f.rename(tmp, ptr), s"pointer swap failed for $path")
  }

  /** Highest version DIRECTORY present (≥ the pointer: rollback moves the
    * pointer below preserved roll-forward history). */
  private def maxExisting(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    val base = new Path(path)
    if (!f.exists(base)) 0
    else f.listStatus(base).map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toInt }
      .foldLeft(0)(math.max)
  }

  /** Write `df` as the next version and move the pointer. Returns the new
    * version number. Versions allocate past ALL existing history, so a write
    * after a rollback never clobbers the rolled-back-from versions. */
  def write(df: DataFrame, path: String): Int = commit(df, path, None)._1

  /** [[write]], recording `batch` as the version's `_TAG` (`batch=<n>`)
    * INTO the version directory before the pointer swap, so the swap — the
    * atomic commit point — commits the data and its batch id together.
    * Delta's commitInfo, minimally. Returns the version and the rows it
    * holds, counted on the write. */
  private def commit(df: DataFrame, path: String, batch: Option[Long]): (Int, Long) = {
    val spark = df.sparkSession
    val next = maxExisting(spark, path) + 1
    val rows = Parquet.countedWrite(df)(_.write.mode("errorifexists").parquet(s"$path/v=$next"))
    val f = fs(spark, path)
    batch.foreach { b =>
      val out = f.create(new Path(s"$path/v=$next", "_TAG"), true)
      try out.write(s"batch=$b".getBytes("UTF-8")) finally out.close()
    }
    swapPointer(f, path, next)
    (next, rows)
  }

  /** The batch id the CURRENT (pointer) version committed. A version with
    * no tag, or a tag that is not `batch=<n>`, committed no batch. */
  private def committedBatch(spark: SparkSession, path: String): Option[Long] =
    latestVersion(spark, path).flatMap { v =>
      val f = fs(spark, path)
      val p = new Path(s"$path/v=$v", "_TAG")
      if (!f.exists(p)) None
      else readString(f, p).trim match {
        case BatchTag(n) => n.toLongOption
        case _ => None
      }
    }

  /** Fold batch `batchId` into the maintained state at `path` — the ONE
    * commit rule of every state fold, batch mode and stream alike. Batch
    * ids are monotone (a stream's micro-batch ids, a batch mode's run
    * numbers), so the committed id is a high-water mark: a batch at or
    * below it is already part of the state and folds nothing — a crash
    * replay of the last batch and a replay of any older one alike (the
    * merges are additive; a re-fold would double-count). Otherwise the
    * `delta` state merges onto the head (`merge(Seq(head, delta))`; the
    * delta alone when there is no head), `publish(head, merged)` runs, and
    * the merged state commits as the next version, tagged with the batch.
    * Returns the committed row count (0 for a skipped batch).
    *
    * `publish` runs before the commit and only when the batch folds — where
    * a change feed derived from the fold is written, with overwrite
    * semantics: a crash between the publish and the commit replays the
    * batch into identical feed bytes, and a skipped batch never rewrites
    * its feed. A crash before the pointer swap leaves the old head, so the
    * replay refolds from it. */
  def foldBatch(path: String, batchId: Long, delta: DataFrame,
                merge: Seq[DataFrame] => DataFrame,
                publish: (Option[DataFrame], DataFrame) => Unit = (_, _) => ()): Long = {
    val spark = delta.sparkSession
    if (committedBatch(spark, path).exists(batchId <= _)) 0L
    else {
      val head = latestVersion(spark, path).map(_ => read(spark, path))
      val merged = head.fold(delta)(h => merge(Seq(h, delta))).persist()
      try {
        publish(head, merged)
        commit(merged, path, Some(batchId))._2
      } finally merged.unpersist()
    }
  }

  /** Read the latest version, or time-travel to a pinned one. */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(sys.error(s"no committed version at $path"))
    Parquet.read(spark, s"$path/v=$v")
  }

  /** Roll the pointer back (or forward) to an existing version — data-free,
    * instant, reversible. */
  def rollback(spark: SparkSession, path: String, to: Int): Unit = {
    val f = fs(spark, path)
    require(f.exists(new Path(path, s"v=$to")), s"version $to does not exist at $path")
    swapPointer(f, path, to)
  }
}
