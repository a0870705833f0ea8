package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance for the versioned parquet store — the OPTIMIZE /
  * data-skipping half of a lakehouse (the write path is [[Versioned]] /
  * [[Sinks]]; this module keeps what it wrote healthy at scale).
  *
  *  - [[compact]]: bin-pack a version's many small files into few
  *    row-balanced ones as a NEW version (readers never see a half-compacted
  *    table; time travel to the fragmented version still works).
  *  - [[fileStats]] / [[skippingRead]]: per-file min/max/null-count index +
  *    a reader that prunes files whose range cannot satisfy a predicate —
  *    Delta/Iceberg-style data skipping, rebuilt from open parts: at 100 TB
  *    the index is thousands of rows against billions, and a selective
  *    point/range query touches a handful of files instead of the table.
  *
  * The stats index is ordinary data (a DataFrame) — persist it next to the
  * table and refresh per version; here it is computed on demand so the spec
  * can verify index and pruning against the files it just wrote.
  */
object Maintenance {

  /** Per-file stats index of `df` (which must be a plain file scan — the
    * file identity comes from `input_file_name`): one row per file with
    * row_count and min/max/null_count per requested column. */
  def fileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +:
      cols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        count(when(col(c).isNull, 1)).as(s"null_$c")))
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min,max] interval might contain rows with `c` in
    * [lo, hi] (nulls never match a range predicate, so all-null files —
    * null min/max — are pruned too). */
  def candidateFiles(stats: DataFrame, c: String, lo: Column, hi: Column): Seq[String] =
    stats.where(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Range read with file skipping: consult `stats`, read only candidate
    * files, re-apply the predicate exactly (stats prune at file grain; the
    * row-grain filter still runs — same contract as parquet row-group
    * skipping). Returns the pruned file list alongside the data so callers
    * (and specs) can observe the skipping. */
  def skippingRead(spark: SparkSession, stats: DataFrame, c: String,
                   lo: Column, hi: Column): (Seq[String], DataFrame) = {
    val files = candidateFiles(stats, c, lo, hi)
    val df =
      if (files.isEmpty) // schema-preserving empty relation: any file, false filter
        stats.select("file").limit(1).collect().headOption
          .map(r => Parquet.read(spark, r.getString(0)).where(lit(false)))
          .getOrElse(spark.emptyDataFrame)
      else Parquet.read(spark, files: _*)
    (files, df.where(col(c) >= lo && col(c) <= hi))
  }

  /** Compact the LATEST version of a [[Versioned]] table into
    * ⌈rows / targetRowsPerFile⌉ row-balanced files, committed as a new
    * version. Round-robin repartition (no shuffle key) — compaction must
    * not assume any column semantics. Returns the new version number. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Int = {
    val current = Versioned.read(spark, path)
    val rows = current.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    Versioned.write(current.repartition(nFiles), path)
  }

  /** Z-ORDER clustering: bit-interleave the columns' normalized 16-bit
    * buckets and range-lay-out files by the interleaved value, so EVERY
    * participating column is (coarsely) clustered and [[skippingRead]]
    * prunes on any of them — the multi-column complement to a plain sort,
    * which clusters only its leading column (Delta/Iceberg OPTIMIZE ZORDER
    * BY; public technique, Morton order).
    *
    * Columns must be numeric-castable (cast dates/timestamps first). The
    * per-column [min,max] comes from one tiny control-plane aggregate; the
    * z-value itself is pure bit arithmetic — stays in whole-stage codegen.
    * 16 bits/column keeps k ≤ 4 columns inside a long. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String, nFiles: Int): Unit = {
    require(cols.nonEmpty && cols.size <= 4, "z-order supports 1-4 columns")
    val Bits = 16
    val stats = df.agg(
      min(col(cols.head).cast("double")).as("mn0"),
      (cols.tail.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c).cast("double")).as(s"mn${i + 1}"))
      } ++ cols.zipWithIndex.map { case (c, i) =>
        max(col(c).cast("double")).as(s"mx$i")
      }): _*).first()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val mn = stats.getDouble(stats.fieldIndex(s"mn$i"))
      val mx = stats.getDouble(stats.fieldIndex(s"mx$i"))
      val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
      least(floor((col(c).cast("double") - mn) / span * ((1 << Bits) - 1)),
        lit((1 << Bits) - 1)).cast("long")
    }
    val k = cols.size
    val z = (0 until Bits).flatMap { bit =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b, bit).bitwiseAND(1), bit * k + j).cast("long")
      }
    }.reduce(_ + _)
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .drop("_z")
      .write.parquet(path)
  }

  /** VACUUM: physically delete version directories no reader should need —
    * everything older than the newest `keepLast` versions, EXCEPT the
    * pointer's current target (a rolled-back-to old version stays readable
    * no matter how old). Returns the versions deleted. Irreversible by
    * design — this is the retention boundary where time travel ends, the
    * lakehouse `VACUUM`/`expire_snapshots`. The pointer itself is never
    * touched, so concurrent readers resolving it stay consistent. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val f = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(path)
    if (!f.exists(base)) return Nil
    val versions = f.listStatus(base).map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toInt }.sorted
    val current = Versioned.latestVersion(spark, path)
    val cutoff = versions.drop(math.max(0, versions.length - keepLast)).headOption
    versions.filter(v => cutoff.exists(v < _) && !current.contains(v)).map { v =>
      f.delete(new Path(path, s"v=$v"), true); v
    }.toSeq
  }

  /** Schema evolution ON READ: align any frame to a target schema —
    * missing columns materialize as typed nulls, present columns cast to
    * the target type, order follows the target. With parquet's additive
    * evolution (new columns appended over time) this makes every historical
    * version readable through today's schema — the Delta/Iceberg
    * schema-on-read contract, done with one Project (map-side, free). */
  def alignToSchema(df: DataFrame, target: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.map { fld =>
      if (have.contains(fld.name)) col(fld.name).cast(fld.dataType).as(fld.name)
      else lit(null).cast(fld.dataType).as(fld.name)
    }.toIndexedSeq: _*)
  }

  /** Read a [[Versioned]] table (any version) through `target` — time travel
    * across schema changes. */
  def readAligned(spark: SparkSession, path: String,
                  target: org.apache.spark.sql.types.StructType,
                  version: Option[Int] = None): DataFrame =
    alignToSchema(Versioned.read(spark, path, version), target)

  /** Number of parquet part-files in a version directory (spec observable). */
  def partFileCount(spark: SparkSession, path: String, version: Int): Int = {
    val dir = new Path(s"$path/v=$version")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).count(s => s.getPath.getName.endsWith(".parquet"))
  }
}
