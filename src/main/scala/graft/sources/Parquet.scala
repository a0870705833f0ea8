package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{count, lit}

/** The library's one parquet read path, and its row-counted write.
  *
  * `spark.read.parquet` infers the schema from one footer in a one-task
  * Spark job before it returns the frame: a fixed scheduling cost, paid on
  * every scan of every stage and every fold batch, that bounds small
  * batches. [[read]] reads that same footer on the driver and hands Spark
  * the schema, so building the frame runs no job.
  */
object Parquet {

  /** Names Spark's file index skips (`_SUCCESS`, `_TAG`, `.crc` files,
    * `_temporary`), except `_`-names holding `=`, which are partition
    * directories (`_bucket=3`). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The data files under `p` (`p` itself when it is a file). */
  private def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(fs, s.getPath) else Seq(s))

  /** `spark.read.parquet(paths: _*)` with the schema read on the driver
    * from the footer Spark's own inference reads: the first data file of
    * all of `paths`, by full path, converted under the session's parquet
    * flags (nanos as long, INT96, NTZ inference), so the frame's schema is
    * the inferred one. Only the data schema is passed: Spark still derives
    * the partition columns from the directory names. A missing path, or
    * paths with no data file, go to plain `spark.read.parquet`, which raises
    * the same `AnalysisException` it always did. No writer here writes
    * parquet summary files (`_metadata`), which inference would prefer. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map(new Path(_)).map(p => (p, p.getFileSystem(conf)))
    val first =
      if (!roots.forall { case (p, fs) => fs.exists(p) }) None
      else roots.flatMap { case (p, fs) => leaves(fs, p) }.minByOption(_.getPath.toString)
    first.fold(spark.read.parquet(paths: _*)) { f =>
      val footer = new Footer(f.getPath, ParquetFileReader.readFooter(conf, f, SKIP_ROW_GROUPS))
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(paths: _*)
    }
  }

  /** Run `write` on `df` and return the rows it wrote, observed on the
    * write's own job: no second pass over the output. */
  def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }
}
