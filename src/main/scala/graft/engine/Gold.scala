package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num._

/** Gold layer: the four analytical views, as pure `DataFrame => DataFrame`
  * compositions over Silver (a reference `CREATE OR REPLACE VIEW` is a stored
  * lazy plan — exactly a Scala function of DataFrames, SURVEY.md §3.3).
  *
  * Each takes its silver inputs as frames and never derives them itself. The
  * pipelines pass the `silver_*` tables they wrote (a view over the refined
  * tables, as in the reference); the registry passes the from-source silver
  * plans.
  */
object Gold {

  /** Revenue by region / nation / segment / period with YoY growth and
    * share-of-region (reference: src/views/vw_revenue_by_region.py:20-83).
    *
    * Joins the fact to customer geography directly (equivalent to the
    * reference's join against `customer_orders`: both resolve a fact row's
    * custkey to its region/nation/segment, and every fact custkey has orders
    * by construction). Geography is customer-grain — broadcast at test scale,
    * shuffle-hash at 100 TB; the heavy work is the 6-key hash aggregate,
    * which Spark executes partial+final with map-side combine.
    */
  def revenueByRegion(orderDetails: DataFrame, customerGeo: DataFrame): DataFrame = {
    val metrics = orderDetails
      .join(customerGeo.select("customer_key", "nation_name", "region_name", "market_segment"),
        Seq("customer_key"), "inner")
      .groupBy(col("region_name"), col("nation_name"), col("market_segment"),
        col("order_year"), col("order_quarter"), col("order_month"))
      .agg(
        countDistinct(col("order_key")).as("order_count"),
        dsum(col("quantity")).as("total_quantity"),
        r2(dsum(col("net_revenue"))).as("total_revenue"),
        r2(dsum(col("total_charge"))).as("total_charge_with_tax"),
        r2(dsum(col("net_revenue")) / count(lit(1))).as("avg_line_revenue"),
        r4(dsum(col("discount_pct")) / count(lit(1))).as("avg_discount_rate"),
        count(when(col("is_late_shipment"), 1)).as("late_shipments"),
        count(lit(1)).as("total_lines"),
        r2(lit(100.0) * count(when(col("is_late_shipment"), 1)) / count(lit(1)))
          .as("late_shipment_pct"))

    val yoy = Window
      .partitionBy("region_name", "nation_name", "market_segment", "order_month")
      .orderBy("order_year")
    val shareDen = Window.partitionBy("region_name", "order_year", "order_quarter")

    metrics
      .withColumn("prev_year_revenue", lag(col("total_revenue"), 1).over(yoy))
      .withColumn("yoy_revenue_growth_pct",
        r2(div0(col("total_revenue") - col("prev_year_revenue"), col("prev_year_revenue")) * 100))
      .withColumn("revenue_share_in_region_pct",
        r2(div0(col("total_revenue"), dsumOver(col("total_revenue"), shareDen)) * 100))
  }

  /** Customer lifetime value with cohorts and value tiers
    * (reference: src/views/vw_customer_lifetime_value.py:21-101).
    *
    * Fixture delta: no ship modes → `distinct_ship_modes_used` dropped
    * (SURVEY.md §7.3). PERCENT_RANK ties are engine-stable (equal inputs get
    * equal rank) so no tiebreaker is needed, unlike NTILE.
    */
  def customerLifetimeValue(customerOrders: DataFrame, orderDetails: DataFrame): DataFrame = {
    val odm = orderDetails
      .groupBy(col("customer_key"))
      .agg(
        countDistinct(col("part_brand")).as("distinct_brands_purchased"),
        countDistinct(col("part_type")).as("distinct_part_types"),
        r1(sum(col("shipping_delay_days")) / count(col("shipping_delay_days")))
          .as("avg_shipping_delay"),
        r4(dsum(col("discount_pct")) / count(lit(1))).as("avg_discount_received"),
        sum(when(col("return_flag") === "R", 1).otherwise(0)).as("returned_lines"),
        count(lit(1)).as("total_lines"),
        r2(lit(100.0) * sum(when(col("return_flag") === "R", 1).otherwise(0)) / count(lit(1)))
          .as("return_rate_pct"),
        r2(dsum(col("net_revenue"))).as("detailed_total_revenue"),
        r2(dsum(col("tax_amount"))).as("total_tax_paid"))

    val cohort = customerOrders.select(
      col("customer_key"),
      concat(year(col("first_order_date")).cast("string"), lit("-Q"),
        quarter(col("first_order_date")).cast("string")).as("acquisition_cohort"),
      r2(col("avg_order_value") *
        when(col("order_frequency_days") > 0, lit(365.0) / col("order_frequency_days"))
          .otherwise(lit(1.0)) * 3).as("estimated_3yr_clv"),
      when(col("customer_tenure_days") > 0,
        r2(col("total_revenue") / col("customer_tenure_days")))
        .otherwise(col("total_revenue")).as("revenue_per_tenure_day"))

    val joined = customerOrders
      .select("customer_key", "customer_name", "market_segment", "nation_name",
        "region_name", "account_balance", "total_orders", "total_revenue",
        "avg_order_value", "first_order_date", "last_order_date",
        "days_since_last_order", "order_frequency_days", "fulfillment_rate",
        "customer_tenure_days", "customer_segment",
        "rfm_recency_score", "rfm_frequency_score", "rfm_monetary_score")
      .join(odm, Seq("customer_key"), "left")
      .join(cohort, Seq("customer_key"), "left")

    // the reference's global PERCENT_RANK windows, computed by the two-pass
    // distributed rank (identical doubles; no single-partition sort at scale)
    Rank.globalPercentRank(
      Rank.globalPercentRank(joined, "revenue_percentile", col("total_revenue")),
      "order_frequency_percentile", col("total_orders"))
      .withColumn("value_tier",
        when(col("revenue_percentile") >= 0.9, "Platinum")
          .when(col("revenue_percentile") >= 0.7, "Gold")
          .when(col("revenue_percentile") >= 0.4, "Silver")
          .otherwise("Bronze"))
  }

  /** Supplier performance scorecard with composite weighted scoring
    * (reference: src/views/vw_supplier_performance.py:21-97).
    *
    * Two independent supplier-grain aggregates merged by LEFT join with
    * COALESCE(50) defaults for suppliers missing delivery data — the
    * reference's exact null semantics. Fixture delta: no receipt dates →
    * `avg_delivery_delay_days` dropped (SURVEY.md §7.3).
    */
  def supplierPerformance(supplierParts: DataFrame, orderDetails: DataFrame): DataFrame = {
    val scm = supplierParts
      .groupBy(col("supplier_key"), col("supplier_name"), col("supplier_nation"),
        col("supplier_region"), col("supplier_acct_balance"))
      .agg(
        countDistinct(col("part_key")).as("parts_in_catalog"),
        countDistinct(col("part_type")).as("distinct_part_types"),
        countDistinct(col("part_brand")).as("distinct_brands"),
        dsum(col("available_qty")).as("total_available_qty"),
        r2(dsum(col("supply_cost")) / count(lit(1))).as("avg_supply_cost"),
        r2(dsum(col("margin_pct")) / count(lit(1)) * 100).as("avg_margin_pct"),
        r4(dsum(col("cost_vs_region_avg")) / count(lit(1))).as("avg_cost_vs_region"),
        sum(when(col("is_cheapest_in_region"), 1).otherwise(0)).as("cheapest_count"),
        count(lit(1)).as("total_combos"),
        r2(lit(100.0) * sum(when(col("is_cheapest_in_region"), 1).otherwise(0)) / count(lit(1)))
          .as("cheapest_pct"))

    val sdm = orderDetails
      .groupBy(col("supplier_key"))
      .agg(
        countDistinct(col("order_key")).as("orders_fulfilled"),
        dsum(col("quantity")).as("total_qty_shipped"),
        r2(dsum(col("net_revenue"))).as("total_revenue_generated"),
        r1(sum(col("shipping_delay_days")) / count(col("shipping_delay_days")))
          .as("avg_ship_delay_days"),
        count(when(col("is_late_shipment"), 1)).as("late_shipments"),
        count(lit(1)).as("total_shipments"),
        r2(lit(100.0) * count(when(col("is_late_shipment"), 1)) / count(lit(1)))
          .as("late_shipment_rate"),
        r2(lit(100.0) * (lit(1) - count(when(col("is_late_shipment"), 1)) * lit(1.0) / count(lit(1))))
          .as("on_time_delivery_rate"),
        count(when(col("return_flag") === "R", 1)).as("returned_items"),
        r2(lit(100.0) * count(when(col("return_flag") === "R", 1)) / count(lit(1)))
          .as("return_rate_pct"))

    val score = r2(
      coalesce(col("on_time_delivery_rate"), lit(50.0)) * 0.40 +
        least(col("cheapest_pct"), lit(100.0)) * 0.30 +
        least(col("distinct_part_types") * 5, lit(100L)).cast("double") * 0.20 +
        (lit(100.0) - coalesce(col("return_rate_pct"), lit(50.0))) * 0.10)

    val scored = scm.join(sdm, Seq("supplier_key"), "left")
      .withColumn("performance_score", score)
      .withColumn("supplier_tier",
        when(col("performance_score") >= 80, "Tier 1 - Strategic")
          .when(col("performance_score") >= 60, "Tier 2 - Preferred")
          .when(col("performance_score") >= 40, "Tier 3 - Approved")
          .otherwise("Tier 4 - Under Review"))
      .withColumn("rank_in_region",
        rank().over(Window.partitionBy("supplier_region")
          .orderBy(col("performance_score").desc)))
    // global rank via the two-pass distributed rank (ties co-located by
    // range partitioning, so local rank + offset is exact)
    Rank.globalRank(scored, "overall_rank", col("performance_score").desc)
  }

  /** Monthly sales time series: MoM/YoY growth, 3/6/12-month moving averages,
    * YTD cumulative, seasonal index, growth acceleration
    * (reference: src/views/vw_monthly_sales_trends.py:20-83).
    *
    * All windows run over ~80 already-aggregated monthly rows — the
    * single-partition sort is intentional and matches the reference. Window
    * averages are computed as decimal-SUM/COUNT over the frame (not `avg`)
    * because sliding-window accumulation order differs across engines on
    * doubles.
    */
  /** Revenue ROLLUP over (region, nation): per-nation rows, per-region
    * subtotals, and a grand total in ONE Expand pass (the multi-grain report
    * a consumer would otherwise run as three queries), disambiguated by
    * grouping_id. The reference has no grouping-sets surface (SURVEY §2.4);
    * this extends it. */
  def revenueRollup(orderDetails: DataFrame, customerGeo: DataFrame): DataFrame =
    orderDetails.join(customerGeo, Seq("customer_key"))
      // dataset alias + qualified grouping refs sidestep Spark's ambiguous-
      // self-join false positive on rollup-after-join; positional toDF
      // renames the grouping outputs back without name resolution
      .select(col("region_name").as("_rg"), col("nation_name").as("_nt"), col("net_revenue"))
      .as("j")
      .rollup(col("j._rg"), col("j._nt"))
      .agg(
        count(lit(1)).as("n_lines"),
        r2(dsum(col("net_revenue"))).as("total_revenue"),
        grouping_id().as("gid"))
      .toDF("region_name", "nation_name", "n_lines", "total_revenue", "gid")

  def monthlySalesTrends(orderDetails: DataFrame): DataFrame = {
    val base = orderDetails
      .groupBy(col("order_year"), col("order_month"), col("order_quarter"))
      .agg(
        countDistinct(col("order_key")).as("total_orders"),
        count(lit(1)).as("total_line_items"),
        dsum(col("quantity")).as("total_quantity"),
        r2(dsum(col("net_revenue"))).as("total_revenue"),
        r2(dsum(col("total_charge"))).as("total_revenue_with_tax"),
        r2(dsum(col("net_revenue")) / count(lit(1))).as("avg_line_revenue"),
        r4(dsum(col("discount_pct")) / count(lit(1))).as("avg_discount_rate"),
        countDistinct(col("customer_key")).as("unique_customers"),
        countDistinct(col("supplier_key")).as("unique_suppliers"),
        countDistinct(col("part_key")).as("unique_products"),
        count(when(col("is_late_shipment"), 1)).as("late_shipments"),
        count(when(col("return_flag") === "R", 1)).as("returns"),
        r1(sum(col("shipping_delay_days")) / count(lit(1))).as("avg_ship_delay"))

    val ym = Window.orderBy("order_year", "order_month")
    // total_revenue is 2-decimal money: floor(d·100+0.5) recovers the cent
    // count EXACTLY (one shared IEEE multiply, error ≪ 0.5), so the window
    // arithmetic runs on BIGINT cents and never touches the double→decimal
    // cast — whose sub-cent digits differ across engines (Spark rounds the
    // double's shortest string, DuckDB its exact binary expansion; at 1e8
    // magnitudes they disagree by up to ~3e-8, enough to flip a half-cent
    // r2 boundary — observed once in the 137-query sf0.1 oracle sweep).
    val cents = floor(col("total_revenue") * 100 + lit(0.5)).cast("long")
    def movingAvg(n: Int): Column = {
      val w = ym.rowsBetween(-(n - 1), Window.currentRow)
      val cs = sum(cents).over(w)
      val cnt = count(lit(1)).over(w)
      // round-half-up(cs/cnt) cents = floor((2cs+cnt)/(2cnt)) — same value
      // r2 produced, now with zero float surface before the final /100
      idiv(cs * 2 + cnt, cnt * 2).cast("double") / 100
    }
    val ytd = Window.partitionBy("order_year").orderBy("order_month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val trends = base
      .withColumn("prev_month_revenue", lag(col("total_revenue"), 1).over(ym))
      .withColumn("mom_revenue_growth_pct",
        r2(div0(col("total_revenue") - col("prev_month_revenue"), col("prev_month_revenue")) * 100))
      .withColumn("same_month_prev_year_revenue", lag(col("total_revenue"), 12).over(ym))
      .withColumn("yoy_revenue_growth_pct",
        r2(div0(col("total_revenue") - col("same_month_prev_year_revenue"),
          col("same_month_prev_year_revenue")) * 100))
      .withColumn("revenue_3mo_moving_avg", movingAvg(3))
      .withColumn("revenue_6mo_moving_avg", movingAvg(6))
      .withColumn("revenue_12mo_moving_avg", movingAvg(12))
      .withColumn("ytd_cumulative_revenue",
        sum(cents).over(ytd).cast("double") / 100)
      .withColumn("revenue_rank_in_year",
        rank().over(Window.partitionBy("order_year").orderBy(col("total_revenue").desc)))
      .withColumn("avg_order_value", r2(div0(col("total_revenue"), col("total_orders"))))
      .withColumn("revenue_per_customer", r2(div0(col("total_revenue"), col("unique_customers"))))

    trends
      .withColumn("seasonal_index",
        r4(div0(col("total_revenue"), col("revenue_12mo_moving_avg"))))
      .withColumn("growth_acceleration",
        r2(col("mom_revenue_growth_pct") - lag(col("mom_revenue_growth_pct"), 1).over(ym)))
  }
}
