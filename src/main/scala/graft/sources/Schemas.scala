package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Declarative schema catalog — the engine's DDL surface
  * (reference: src/schemas/create_extract_schemas.py:17-191,
  * create_refined_schemas.py:17-128 issue CREATE TABLE IF NOT EXISTS per
  * table; here each table is a `StructType` constant, and
  * [[Schemas.createEmpty]] / [[Schemas.ensure]] are the idempotent
  * "create if not exists" twins for a path-based lake).
  *
  * Who reads with these constants: the csv/json scans (inference there is
  * a full extra pass) and the streaming source (readStream needs a schema
  * upfront). Parquet scans do not: the raw files store what the catalog
  * declares as DATE as timestamps, and `events.ts` in two physical forms,
  * so [[Parquet.read]] takes each scan's schema from one footer, on the
  * driver, and [[graft.engine.Sources]] casts at the scan.
  */
object Schemas {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  // ---- bronze (reference: create_extract_schemas.py)
  val region: StructType = st("r_regionkey" -> LongType, "r_name" -> StringType,
    "r_comment" -> StringType)
  val nation: StructType = st("n_nationkey" -> LongType, "n_name" -> StringType,
    "n_regionkey" -> LongType, "n_comment" -> StringType)
  val customer: StructType = st("c_custkey" -> LongType, "c_name" -> StringType,
    "c_address" -> StringType, "c_nationkey" -> LongType, "c_phone" -> StringType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType, "c_comment" -> StringType)
  val supplier: StructType = st("s_suppkey" -> LongType, "s_name" -> StringType,
    "s_address" -> StringType, "s_nationkey" -> LongType, "s_phone" -> StringType,
    "s_acctbal" -> DoubleType, "s_comment" -> StringType)
  val part: StructType = st("p_partkey" -> LongType, "p_name" -> StringType,
    "p_mfgr" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
    "p_size" -> LongType, "p_container" -> StringType, "p_retailprice" -> DoubleType,
    "p_comment" -> StringType)
  val orders: StructType = st("o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> DateType, "o_orderpriority" -> StringType,
    "o_clerk" -> StringType, "o_shippriority" -> LongType, "o_comment" -> StringType)
  val lineitem: StructType = st("l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> LongType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> DateType)
  // ---- extension tables
  val events: StructType = st("event_id" -> LongType, "ts" -> TimestampType,
    "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
    "props" -> StringType)
  val documents: StructType = st("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  val embeddings: StructType = st("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType), "label" -> IntegerType)

  val all: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Empty frame with the catalog schema (CREATE TABLE twin). */
  def createEmpty(spark: SparkSession, table: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], all(table))

  /** Idempotent CREATE TABLE IF NOT EXISTS for a path-based lake: writes an
    * empty parquet snapshot only when the path doesn't exist yet. */
  def ensure(spark: SparkSession, table: String, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) createEmpty(spark, table).write.parquet(path)
  }
}
