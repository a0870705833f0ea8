package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — keep a gold aggregate current by
  * folding in batch deltas instead of re-aggregating the full history
  * (reference's gold views recompute from scratch every run; an incremental
  * lakehouse maintains them from the change stream).
  *
  * The algebra: state rows hold MERGEABLE partials (counts + exact DECIMAL
  * sums — never the rounded/derived outputs), so
  * `finalize(merge(state(A), state(B))) == finalize(state(A ∪ B))` exactly:
  * decimal addition is associative and rounding happens once, at the end.
  * This is the same partial/final split Spark's own hash aggregate performs
  * inside one job, lifted to the BATCH level so it can span pipeline runs.
  *
  * Scale shape: each delta batch aggregates map-side to one row per group
  * before the merge shuffle; the running state is group-grain (tiny), so
  * maintenance cost is O(delta), not O(history).
  */
object Incremental {

  /** Partial state of the monthly-revenue aggregate over an orders slice:
    * (order_year, order_month, n_orders, revenue_sum DECIMAL). */
  def monthlyRevenueState(orders: DataFrame): DataFrame =
    orders.groupBy(
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Num.SumDec)).as("_rev"))

  /** Merge mergeable states (associative + commutative). */
  def merge(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("order_year", "order_month")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("_rev")).as("_rev"))

  /** Finalize: derived/rounded outputs, computed exactly once. */
  def finalize(state: DataFrame): DataFrame =
    state.select(col("order_year"), col("order_month"), col("n_orders"),
      Num.r2(col("_rev").cast("double")).as("total_revenue"))

  /** Fold one orders batch into the monthly-revenue state at `path`
    * ([[graft.sources.Versioned.foldBatch]]) — the fold the batch mode
    * ([[Pipeline.runSalesIncrement]]) runs per batch and the stream
    * ([[graft.streaming.Streams.maintainMonthlyRevenue]]) per micro-batch.
    * Returns the committed row count. */
  def foldMonthlyRevenue(orders: DataFrame, path: String, batchId: Long): Long =
    graft.sources.Versioned.foldBatch(path, batchId, monthlyRevenueState(orders), merge)

  /** Partial state of the per-customer order profile over an orders slice —
    * same algebra as [[monthlyRevenueState]] at customer grain (the schema
    * [[Cdf.customerOrderChanges]] snapshots use). */
  def customerProfileState(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey").as("customer_key"))
      .agg(count(lit(1)).as("order_count"),
        sum(col("o_totalprice").cast(Num.SumDec)).as("_spent"))

  /** Merge mergeable customer-profile states. */
  def mergeCustomerProfiles(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("customer_key")
      .agg(sum(col("order_count")).as("order_count"), sum(col("_spent")).as("_spent"))

  /** Finalize the customer profile: rounding once, at the end. */
  def finalizeCustomerProfile(state: DataFrame): DataFrame =
    state.select(col("customer_key"), col("order_count"),
      Num.r2(col("_spent").cast("double")).as("total_spent"))

  /** Partial state of the supplier-parts bridge over a (deduped, insert-only)
    * lineitem slice: (part_key, supplier_key, _min_unit_cost, _qty DECIMAL).
    * MIN and decimal SUM are both mergeable, so the bridge — the only part
    * of the supplier pipeline that scans lineitem history — folds
    * incrementally. The unit cost stays UNROUNDED in state (min over raw
    * ratios; associative and exact on doubles) and rounds once at finalize,
    * same discipline as the revenue states. Contract: deltas are
    * APPEND-ONLY slices of the deduped lineitem (MIN has no inverse — an
    * update/delete stream needs the SCD2 path instead). */
  def supplierBridgeState(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(
        col("l_partkey").as("part_key"), col("l_suppkey").as("supplier_key"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("_min_unit_cost"),
        sum(col("l_quantity").cast(Num.SumDec)).as("_qty"))

  /** Merge mergeable supplier-bridge states. */
  def mergeSupplierBridge(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("part_key", "supplier_key")
      .agg(min(col("_min_unit_cost")).as("_min_unit_cost"),
        sum(col("_qty")).as("_qty"))

  /** Finalize the bridge: one rounding, schema of [[Silver.supplierParts]]'
    * bridge input. */
  def finalizeSupplierBridge(state: DataFrame): DataFrame =
    state.select(col("part_key"), col("supplier_key"),
      Num.r2(col("_min_unit_cost")).as("supply_cost"),
      col("_qty").cast("double").as("available_qty"))

  /** The verified query: the monthly-revenue aggregate maintained from three
    * date-sliced delta batches. The oracle aggregates the orders table
    * directly, so the hash match PROVES the incremental path reproduces the
    * from-scratch result bit-for-bit. */
  def monthlyRevenueFromDeltas(spark: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(spark, dir)
    val batches = Seq(
      o.where(col("o_orderdate") < lit("1995-01-01")),
      o.where(col("o_orderdate") >= lit("1995-01-01")
        && col("o_orderdate") < lit("1997-01-01")),
      o.where(col("o_orderdate") >= lit("1997-01-01")))
    finalize(merge(batches.map(monthlyRevenueState)))
  }
}
