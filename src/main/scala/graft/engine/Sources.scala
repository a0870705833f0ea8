package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet scans for the test tables (FIXTURES.md).
  *
  * The reference declares `o_orderdate` / `l_shipdate` as DATE
  * (reference: src/schemas/create_extract_schemas.py:30,80) but the fixture
  * parquet stores timestamps — cast to DateType at the scan so all downstream
  * date arithmetic (datediff / year / quarter) is day-grain.
  *
  * At 100 TB these scans are the widest point of every plan: each loader
  * returns a plain file-source DataFrame so Catalyst's column pruning and
  * filter pushdown reach the parquet reader (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`). Each scan
  * goes through [[graft.sources.Parquet.read]], which reads the file's
  * schema from its footer on the driver, so building a loader's frame runs
  * no Spark job.
  */
object Sources {
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Parquet.read(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")

  def orders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))

  /** `events.ts` normalizes to session-TZ µs TIMESTAMP whatever the fixture
    * stored. Two physical forms exist across fixture generations: INT64
    * TIMESTAMP(NANOS), which Spark only reads as long under
    * `spark.sql.legacy.parquet.nanosAsLong` (set in [[graft.Session.build]];
    * loaders are side-effect-free) and is truncated here exactly like
    * DuckDB's ns→µs conversion, and plain TIMESTAMP(MICROS) without a zone,
    * which arrives as TIMESTAMP_NTZ and under the pinned UTC session casts
    * to the identical instant. Branching on the scanned schema keeps both
    * generations loadable with one oracle-comparable output type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
  /** Fan a narrow scan out to the session's parallelism before compute-heavy
    * per-row work. The local fixtures are single-row-group parquet files, so
    * every scan starts as ONE partition; without this, the text/dedup
    * suite's explodes and codegen kernels run single-task while the other
    * 31 cores idle (measured: the shingle explode alone was 3.5 s of a
    * 14 s query). On a real cluster inputs arrive in ≥ parallelism splits
    * (`maxPartitionBytes` splitting), the guard is true, and this is a
    * no-op — so the repartition costs nothing at 100 TB. The partition
    * check reads the planned RDD's partition count; it runs no job. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = math.min(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** `documents` is the corpus every text/dedup operator explodes into
    * shingles/tokens — the highest per-row compute in the suite, so it is
    * the one scan that gets [[spread]] at the source. All its downstream
    * aggregates are order-insensitive (integer counts, min/max, decimal
    * sums), so the repartition cannot perturb any oracle hash. */
  def documents(spark: SparkSession, dir: String): DataFrame  =
    spread(load(spark, dir, "documents"))

  /** `embeddings` gets [[spread]] on the same grounds as `documents`: the
    * ANN/kNN paths run 64-dim norm/hash/quantize kernels map-side before
    * their first shuffle, and every downstream float aggregate is
    * decimal-summed (order-free — Similarity.ivfCentroids) or per-row. */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "embeddings"))

  // ------------------------------------------------- non-parquet formats
  // The lake's interchange formats, schema-pinned from the Schemas catalog
  // (inference on csv/json is a full extra pass at 100 TB — never infer).

  def csv(spark: SparkSession, path: String, table: String): DataFrame =
    spark.read.schema(graft.sources.Schemas.all(table))
      .option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  def json(spark: SparkSession, path: String, table: String): DataFrame =
    spark.read.schema(graft.sources.Schemas.all(table)).json(path)

  /** File-based streaming source: new parquet files under `path` become
    * micro-batches (the readStream twin of [[load]]; schema mandatory). */
  def parquetStream(spark: SparkSession, path: String, table: String): DataFrame =
    spark.readStream.schema(graft.sources.Schemas.all(table)).parquet(path)
}
