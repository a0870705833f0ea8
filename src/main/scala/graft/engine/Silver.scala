package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num._
import Quality.{TableResolver, sourceTables}

/** Silver layer: denormalized facts + business metrics.
  *
  * Every model reads its bronze inputs through a [[Quality.TableResolver]]
  * (logical name → frame). The `(spark, dir)` forms pass
  * [[Quality.sourceTables]], re-deriving bronze from the raw files (the
  * registry, catalog and oracle surface); the pipelines pass
  * [[Quality.warehouseTables]], so silver reads the `bronze_*` tables the run
  * just wrote instead of re-running the bronze gates and the lineitem dedup.
  *
  * Determinism contract (SURVEY.md §7.4): `current_date()` is replaced by the
  * pinned [[Silver.RefDate]] (fixture orders span 1995-01-01 → 2001-08-01),
  * every quantile/row-number window carries a unique tiebreaker, and all
  * double aggregation goes through [[Num]].
  */
object Silver {

  /** Pinned "today" for recency math — the deterministic stand-in for
    * `current_date()` at reference: src/refined/refined_customer_orders.py:57. */
  val RefDate = "2002-01-01"

  /** Line-item-grain denormalized fact
    * (reference: src/refined/refined_order_details.py:25-107).
    *
    * Plan shape at scale: orders ⋈ lineitem is the one genuine fact-fact
    * shuffle (sort-merge on orderkey, AQE-skew-safe); `part` is a dimension →
    * broadcast LEFT join, no second shuffle. Quality-gate predicates are
    * deterministic so Catalyst pushes them below the join.
    *
    * Fixture deltas (FIXTURES.md): no commit/receipt dates or ship modes, so
    * `is_late_shipment` is redefined as `shipping_delay_days > 90` and
    * `delivery_delay_days` / `ship_mode` are dropped (SURVEY.md §7.3).
    */
  def orderDetails(spark: SparkSession, dir: String): DataFrame =
    orderDetails(sourceTables(spark, dir))

  def orderDetails(t: TableResolver): DataFrame = Lineage.refine {
    val o = t("orders")
    val l = t("lineitem")
    val p = t("part")

    o.join(l, col("o_orderkey") === col("l_orderkey"), "inner")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left")
      .select(
        col("o_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("o_custkey").as("customer_key"),
        col("l_partkey").as("part_key"),
        col("l_suppkey").as("supplier_key"),
        col("o_orderdate").as("order_date"),
        col("o_orderstatus").as("order_status"),
        col("o_orderpriority").as("order_priority"),
        col("p_name").as("part_name"),
        col("p_brand").as("part_brand"),
        col("p_type").as("part_type"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("extended_price"),
        col("l_discount").as("discount_pct"),
        col("l_tax").as("tax_pct"),
        col("l_shipdate").as("ship_date"),
        col("l_returnflag").as("return_flag"))
      // business calculations (reference: refined_order_details.py:73-90)
      .withColumn("unit_price", r2(div0(col("extended_price"), col("quantity"))))
      .withColumn("net_revenue", r2(col("extended_price") * (lit(1) - col("discount_pct"))))
      .withColumn("tax_amount",
        r2(col("extended_price") * (lit(1) - col("discount_pct")) * col("tax_pct")))
      .withColumn("total_charge",
        r2(col("extended_price") * (lit(1) - col("discount_pct")) * (lit(1) + col("tax_pct"))))
      .withColumn("shipping_delay_days", datediff(col("ship_date"), col("order_date")))
      .withColumn("is_late_shipment", col("shipping_delay_days") > 90)
      .withColumn("order_year", year(col("order_date")))
      .withColumn("order_month", month(col("order_date")))
      .withColumn("order_quarter", quarter(col("order_date")))
      // quality gate (reference: refined_order_details.py:104-106)
      .where(col("quantity") > 0 && col("extended_price") > 0 && col("net_revenue") >= 0)
  }

  /** Customer-grain profile with RFM scoring + segmentation
    * (reference: src/refined/refined_customer_orders.py:25-141).
    *
    * Scale layout: orders are pre-aggregated by `o_custkey` FIRST (narrow
    * partial-agg, map-side combine) and only then joined to the customer
    * dimension — the reference joins wide customer rows to raw orders and
    * groups by six columns including strings, which at 100 TB shuffles the
    * full customer payload per order row. Semantically identical: an order's
    * custkey either matches a customer or is dropped by both shapes, and
    * zero-order customers are removed by the `total_orders > 0` RFM gate
    * either way.
    *
    * NTILE windows get `customer_key` tiebreakers (reference has none —
    * quintile boundaries are tie-ambiguous across engines otherwise).
    */
  def customerOrders(spark: SparkSession, dir: String): DataFrame =
    customerOrders(sourceTables(spark, dir))

  def customerOrders(t: TableResolver): DataFrame = {
    val geo = customerGeo(t)

    val cnt = count(col("o_orderkey"))
    val oagg = t("orders")
      .groupBy(col("o_custkey").as("customer_key"))
      .agg(
        cnt.as("total_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_revenue"),
        coalesce(r2(dsum(col("o_totalprice")) / cnt), lit(0.0)).as("avg_order_value"),
        min(col("o_orderdate")).as("first_order_date"),
        max(col("o_orderdate")).as("last_order_date"),
        datediff(lit(RefDate).cast("date"), max(col("o_orderdate"))).as("days_since_last_order"),
        when(cnt > 1,
          r2(datediff(max(col("o_orderdate")), min(col("o_orderdate"))) / (cnt - lit(1.0))))
          .as("order_frequency_days"),
        count(when(col("o_orderstatus") === "F", 1)).as("fulfilled_orders"),
        count(when(col("o_orderstatus") === "O", 1)).as("open_orders"),
        count(when(col("o_orderstatus") === "P", 1)).as("partial_orders"),
        when(cnt > 0, r2(lit(100.0) * count(when(col("o_orderstatus") === "F", 1)) / cnt))
          .otherwise(lit(0.0)).as("fulfillment_rate"),
        datediff(max(col("o_orderdate")), min(col("o_orderdate"))).as("customer_tenure_days"))

    // inner join ≡ reference's LEFT JOIN + `WHERE total_orders > 0` gate
    val profiled = geo.join(oagg, Seq("customer_key"), "inner")

    // RFM quintiles (reference: refined_customer_orders.py:93-95). The
    // reference uses a global NTILE (single-partition sort over every
    // customer); [[Rank.globalNtile]] computes the identical buckets with a
    // two-pass range-partitioned rank so no task ever sorts the whole frame.
    val rfm = Rank.globalNtile(
      Rank.globalNtile(
        Rank.globalNtile(profiled, 5, "rfm_recency_score",
          col("days_since_last_order").asc, col("customer_key").asc),
        5, "rfm_frequency_score", col("total_orders").desc, col("customer_key").asc),
      5, "rfm_monetary_score", col("total_revenue").desc, col("customer_key").asc)

    // first-match-wins segmentation (reference: refined_customer_orders.py:127-141)
    val segment =
      when(col("rfm_recency_score") <= 2 && col("rfm_frequency_score") <= 2 &&
        col("rfm_monetary_score") <= 2, "Champions")
        .when(col("rfm_recency_score") <= 2 && col("rfm_frequency_score") <= 3, "Loyal Customers")
        .when(col("rfm_recency_score") <= 2 && col("rfm_monetary_score") <= 2, "Big Spenders")
        .when(col("rfm_recency_score") <= 3 && col("rfm_frequency_score") <= 3, "Potential Loyalists")
        .when(col("rfm_recency_score") >= 4 && col("rfm_frequency_score") >= 4, "At Risk")
        .when(col("rfm_recency_score") >= 4 && col("rfm_frequency_score") <= 2, "Cannot Lose Them")
        .otherwise("Others")

    Lineage.refine(rfm.withColumn("customer_segment", segment)
      .select(
        "customer_key", "customer_name", "market_segment", "nation_name", "region_name",
        "account_balance", "total_orders", "total_revenue", "avg_order_value",
        "first_order_date", "last_order_date", "days_since_last_order",
        "order_frequency_days", "fulfilled_orders", "open_orders", "partial_orders",
        "fulfillment_rate", "customer_tenure_days",
        "rfm_recency_score", "rfm_frequency_score", "rfm_monetary_score", "customer_segment"))
  }

  /** Customer ⟕ nation ⟕ region geographic enrich
    * (reference: src/refined/refined_customer_orders.py:25-41) —
    * both dims broadcast (25 / 5 rows; never worth a shuffle at any scale). */
  def customerGeo(spark: SparkSession, dir: String): DataFrame =
    customerGeo(sourceTables(spark, dir))

  def customerGeo(t: TableResolver): DataFrame =
    t("customer")
      .join(broadcast(t("nation")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(t("region")),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("c_custkey").as("customer_key"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("market_segment"),
        col("c_acctbal").as("account_balance"),
        col("n_name").as("nation_name"),
        col("r_name").as("region_name"))

  /** (supplier, part)-grain catalog with regional cost ranking
    * (reference: src/refined/refined_supplier_parts.py:25-102).
    *
    * The fixtures ship no `partsupp` table (FIXTURES.md), so the bridge is
    * derived from deduped lineitem: `supply_cost` = round2(min unit cost
    * observed), `available_qty` = Σ quantity per (part, supplier) —
    * SURVEY.md §7.3. One shuffle for the bridge aggregation; supplier / part /
    * nation / region are all broadcast dims.
    */
  def supplierParts(spark: SparkSession, dir: String): DataFrame =
    supplierParts(sourceTables(spark, dir))

  def supplierParts(t: TableResolver): DataFrame =
    supplierPartsFromBridge(t,
      t("lineitem")
        .groupBy(col("l_partkey").as("part_key"), col("l_suppkey").as("supplier_key"))
        .agg(
          r2(min(col("l_extendedprice") / col("l_quantity"))).as("supply_cost"),
          dsum(col("l_quantity")).as("available_qty")))

  /** [[supplierParts]] from an externally-supplied bridge (part_key,
    * supplier_key, supply_cost, available_qty) — the seam the incremental
    * supplier mode ([[Pipeline.runSupplierIncrement]]) feeds with its
    * maintained fold state instead of a full-history lineitem scan. Both
    * paths share THIS code for everything past the bridge, so their
    * bit-identity is structural, not coincidental. */
  def supplierPartsFromBridge(spark: SparkSession, dir: String,
                              bridge: DataFrame): DataFrame =
    supplierPartsFromBridge(sourceTables(spark, dir), bridge)

  def supplierPartsFromBridge(t: TableResolver, bridge: DataFrame): DataFrame = {
    val s = t("supplier")
      .join(broadcast(t("nation")),
        col("s_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(t("region")),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("s_suppkey").as("supplier_key"),
        col("s_name").as("supplier_name"),
        col("n_name").as("supplier_nation"),
        col("r_name").as("supplier_region"),
        col("s_acctbal").as("supplier_acct_balance"))

    val p = t("part").select(
      col("p_partkey").as("part_key"),
      col("p_name").as("part_name"),
      col("p_brand").as("part_brand"),
      col("p_type").as("part_type"),
      col("p_size").as("part_size"),
      col("p_retailprice").as("retail_price"))

    val joined = bridge
      .join(broadcast(s), Seq("supplier_key"), "inner")
      .join(broadcast(p), Seq("part_key"), "inner")
      // cost margin metrics (reference: refined_supplier_parts.py:57-63)
      .withColumn("cost_margin", r2(col("retail_price") - col("supply_cost")))
      .withColumn("margin_pct",
        r4(div0(col("retail_price") - col("supply_cost"), col("retail_price"))))

    // regional competitiveness (reference: refined_supplier_parts.py:68-102)
    val regionType = Window.partitionBy("supplier_region", "part_type")
    val costRank = Window.partitionBy("supplier_region", "part_type")
      .orderBy(col("supply_cost").asc)
    val regionAvg = dsumOver(col("supply_cost"), regionType) / count(lit(1)).over(regionType)

    Lineage.refine(joined
      .withColumn("cost_rank_in_region", dense_rank().over(costRank))
      .withColumn("is_cheapest_in_region", dense_rank().over(costRank) === 1)
      .withColumn("avg_region_cost", r2(regionAvg))
      .withColumn("cost_vs_region_avg", r4(div0(col("supply_cost"), regionAvg)))
      .select(
        "supplier_key", "supplier_name", "supplier_nation", "supplier_region",
        "supplier_acct_balance", "part_key", "part_name", "part_brand", "part_type",
        "part_size", "retail_price", "supply_cost", "available_qty",
        "cost_margin", "margin_pct", "cost_rank_in_region", "is_cheapest_in_region",
        "avg_region_cost", "cost_vs_region_avg"))
  }
}
