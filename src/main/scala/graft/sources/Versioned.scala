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
  *
  * At 100 TB the pointer would live in a transaction log / catalog with
  * conditional-put semantics; the layout and reader contract stay the same.
  */
object Versioned {

  private val Pointer = "_LATEST"
  private val PointerTmp = s"$Pointer.tmp"

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
    * after a rollback never clobbers the rolled-back-from versions.
    *
    * `tag` is commit metadata written INTO the version directory before the
    * pointer swap (the swap is the atomic commit point) — e.g. a streaming
    * micro-batch id, so a replayed foreachBatch can see via [[latestTag]]
    * whether its batch already committed. Delta's commitInfo, minimally. */
  def write(df: DataFrame, path: String, tag: Option[String] = None): Int = {
    val spark = df.sparkSession
    val next = maxExisting(spark, path) + 1
    df.write.mode("errorifexists").parquet(s"$path/v=$next")
    val f = fs(spark, path)
    tag.foreach { t =>
      val out = f.create(new Path(s"$path/v=$next", "_TAG"), true)
      try out.write(t.getBytes("UTF-8")) finally out.close()
    }
    swapPointer(f, path, next)
    next
  }

  /** The commit tag of the CURRENT (pointer) version, if any. */
  def latestTag(spark: SparkSession, path: String): Option[String] =
    latestVersion(spark, path).flatMap { v =>
      val f = fs(spark, path)
      val p = new Path(s"$path/v=$v", "_TAG")
      if (!f.exists(p)) None else Some(readString(f, p))
    }

  /** Read the latest version, or time-travel to a pinned one. */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(sys.error(s"no committed version at $path"))
    spark.read.parquet(s"$path/v=$v")
  }

  /** Roll the pointer back (or forward) to an existing version — data-free,
    * instant, reversible. */
  def rollback(spark: SparkSession, path: String, to: Int): Unit = {
    val f = fs(spark, path)
    require(f.exists(new Path(path, s"v=$to")), s"version $to does not exist at $path")
    swapPointer(f, path, to)
  }
}
