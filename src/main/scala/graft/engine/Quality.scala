package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality check families (reference: src/tests/data_quality_checks.py).
  *
  * The reference *displays* PASS/FAIL rows without asserting; we return the
  * same check DataFrames (product surface, verified against the oracle) and
  * additionally expose [[Quality.assertAll]] for pipeline gating.
  *
  * Each family function is a UNION of tiny single-row aggregates, one arm
  * per table it checks. The deployed audit ([[Quality.allFamiliesOver]])
  * instead resolves each table once and runs ONE aggregate per table that
  * carries every family's checks of it. Each aggregate runs as partial+final
  * with map-side combine, so the driver only ever sees one row per table or
  * check at any scale.
  *
  * Check inputs come through a [[TableResolver]], the engine's one
  * name → table map per side, so the same families run in two modes:
  *  - [[sourceTables]]: re-derive each layer from source (the standalone
  *    verification surface — what the oracle checks);
  *  - [[warehouseTables]]: read the PIPELINE'S WRITTEN parquet outputs.
  *    In a deployment the DQ stage audits what was materialized — re-running
  *    the silver derivation to check it would double the pipeline's cost at
  *    100 TB and verify a recomputation instead of the actual tables.
  * [[Silver]] reads its bronze inputs through the same resolvers: the
  * pipelines build silver from the written bronze tables and gold from the
  * written silver tables via [[warehouseTables]].
  */
object Quality {

  /** Logical table name → frame. */
  type TableResolver = String => DataFrame

  /** Every logical table the check families reference. */
  val AllTables: Seq[String] = Seq(
    "orders", "customer", "lineitem", "supplier", "part", "nation", "region",
    "order_details", "customer_orders", "supplier_parts")

  /** Re-derive each layer from source (bronze gates + silver models). */
  def sourceTables(spark: SparkSession, dir: String): TableResolver = {
    case "orders"          => Bronze.orders(spark, dir)
    case "customer"        => Bronze.customer(spark, dir)
    case "lineitem"        => Bronze.lineitem(spark, dir)
    case "supplier"        => Bronze.supplier(spark, dir)
    case "part"            => Bronze.part(spark, dir)
    case "nation"          => Bronze.nation(spark, dir)
    case "region"          => Bronze.region(spark, dir)
    case "order_details"   => Silver.orderDetails(spark, dir)
    case "customer_orders" => Silver.customerOrders(spark, dir)
    case "supplier_parts"  => Silver.supplierParts(spark, dir)
    case "events"          => Sources.events(spark, dir)
    case other             => throw new IllegalArgumentException(s"unknown table: $other")
  }

  /** The [[Pipeline]] stage that writes each table under its warehouse dir. */
  val WarehouseStage: Map[String, String] = Map(
    "orders" -> "bronze_orders", "customer" -> "bronze_customer",
    "lineitem" -> "bronze_lineitem", "supplier" -> "bronze_supplier",
    "part" -> "bronze_part", "nation" -> "bronze_nation", "region" -> "bronze_region",
    "order_details" -> "silver_order_details",
    "customer_orders" -> "silver_customer_orders",
    "supplier_parts" -> "silver_supplier_parts")

  /** Read the pipeline's written outputs through `read` (stage name →
    * its written table) — plain parquet scans, so the DQ stage's plan
    * contains no joins/windows re-deriving silver. */
  def warehouseTables(read: String => DataFrame): TableResolver =
    name => read(WarehouseStage(name))

  /** Check statuses: a table must have rows; a null, orphan or violation
    * count must be zero. */
  private def positivePasses(n: Column): Column = when(n > 0, "PASS").otherwise("FAIL")
  private def zeroPasses(n: Column): Column = when(n === 0, "PASS").otherwise("FAIL")

  /** Row-count > 0 gate (reference: data_quality_checks.py:27-44). */
  def rowCountsOver(t: TableResolver, names: Seq[String] = AllTables): DataFrame =
    names.map { name =>
      t(name).agg(count(lit(1)).as("row_count"))
        .select(lit(name).as("table_name"), col("row_count"),
          positivePasses(col("row_count")).as("status"))
    }.reduce(_.unionByName(_)).orderBy("table_name")

  def rowCounts(spark: SparkSession, dir: String): DataFrame =
    rowCountsOver(sourceTables(spark, dir))

  /** One pass per source: each (label, predicate) family over a table is a
    * single multi-aggregate job, exploded back into per-check rows. The naive
    * shape (one UNION arm per check) recomputes the full silver pipeline per
    * arm — at sf0.1 that was 23 s for five null checks; one-pass is ~3×
    * fewer jobs and at 100 TB it is the difference between scanning the fact
    * table once and five times. Output rows are identical. */
  private def countsInOnePass(df: DataFrame, checks: Seq[(String, Column)],
                              countName: String): DataFrame = {
    val aggs = checks.zipWithIndex.map { case ((_, pred), i) =>
      count(when(pred, 1)).as(s"_c$i")
    }
    val kv = checks.zipWithIndex.flatMap { case ((name, _), i) =>
      Seq(lit(name), col(s"_c$i"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(kv: _*)).as(Seq("check_name", countName)))
  }

  /** Null-check families per logical table (reference:
    * data_quality_checks.py:53-64). */
  private val NullCheckFamilies: Seq[(String, Seq[(String, Column)])] = Seq(
    "order_details" -> Seq(
      "order_details.customer_key" -> col("customer_key").isNull,
      "order_details.order_date" -> col("order_date").isNull),
    "customer_orders" -> Seq(
      "customer_orders.customer_segment" -> col("customer_segment").isNull),
    "supplier_parts" -> Seq(
      "supplier_parts.supply_cost" -> col("supply_cost").isNull),
    "orders" -> Seq(
      "orders.o_orderdate" -> col("o_orderdate").isNull))

  def nullChecksOver(t: TableResolver,
                     names: Seq[String] = NullCheckFamilies.map(_._1)): DataFrame =
    NullCheckFamilies.filter(f => names.contains(f._1))
      .map { case (table, checks) => countsInOnePass(t(table), checks, "null_count") }
      .reduce(_.unionByName(_))
      .withColumn("status", zeroPasses(col("null_count")))
      .orderBy("check_name")

  def nullChecks(spark: SparkSession, dir: String): DataFrame =
    nullChecksOver(sourceTables(spark, dir))

  /** One referential-integrity orphan probe (reference's `LEFT JOIN …
    * WHERE right.key IS NULL`, data_quality_checks.py:73-93): fact rows
    * whose `factKey` has no `dimKey` in `dim`. */
  private case class Probe(fact: String, factKey: String, dim: String, dimKey: String,
                           name: String, broadcastKeys: Boolean)

  private val RiProbes: Seq[Probe] = Seq(
    Probe("orders", "o_custkey", "customer", "c_custkey", "orders->customer",
      broadcastKeys = true),
    Probe("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders",
      broadcastKeys = false),
    Probe("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part",
      broadcastKeys = true),
    Probe("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem->supplier",
      broadcastKeys = true))

  /** The probes of `fact` among the audited tables: a probe exists only when
    * BOTH sides are audited — a pipeline that doesn't materialize `supplier`
    * can't (and shouldn't) audit lineitem->supplier. */
  private def probesOf(fact: String, has: Set[String]): Seq[Probe] =
    RiProbes.filter(p => p.fact == fact && has(p.fact) && has(p.dim))

  /** `fact` left-joined to the distinct key set of each probed dimension,
    * with each probe's orphan predicate. A left join to a distinct key set
    * keeps every fact row exactly once, so every other check over the fact
    * reads the joined frame unchanged. */
  private def withProbes(fact: DataFrame, probes: Seq[Probe],
                         t: TableResolver): (DataFrame, Seq[(String, Column)]) = {
    val joined = probes.foldLeft(fact) { (df, p) =>
      val keys = t(p.dim).select(col(p.dimKey).as(s"_k_${p.dim}")).distinct()
      df.join(if (p.broadcastKeys) broadcast(keys) else keys,
        col(p.factKey) === col(s"_k_${p.dim}"), "left")
    }
    (joined, probes.map(p => p.name -> col(s"_k_${p.dim}").isNull))
  }

  /** Referential-integrity orphan counts. The three lineitem probes run as
    * ONE pass: the fact left-joined to each dimension's distinct key set,
    * the null sides counted together — one fact scan instead of three. */
  def referentialIntegrityOver(t: TableResolver,
                               names: Seq[String] = AllTables): DataFrame = {
    val has = names.toSet
    RiProbes.map(_.fact).distinct.map(probesOf(_, has)).filter(_.nonEmpty)
      .map { probes =>
        val (df, orphans) = withProbes(t(probes.head.fact), probes, t)
        countsInOnePass(df, orphans, "orphan_count")
      }
      .reduce(_.unionByName(_))
      .withColumn("status", zeroPasses(col("orphan_count")))
      .orderBy("check_name")
  }

  def referentialIntegrity(spark: SparkSession, dir: String): DataFrame =
    referentialIntegrityOver(sourceTables(spark, dir))

  /** Business-rule range-check families (reference:
    * data_quality_checks.py:102-114). */
  private val RuleFamilies: Seq[(String, Seq[(String, Column)])] = Seq(
    "order_details" -> Seq(
      "od_net_revenue_non_negative" -> (col("net_revenue") < 0),
      "od_quantity_positive" -> (col("quantity") <= 0),
      "od_discount_range" -> (col("discount_pct") < 0 || col("discount_pct") > 1),
      "od_tax_range" -> (col("tax_pct") < 0 || col("tax_pct") > 1)),
    "customer_orders" -> Seq(
      "co_fulfillment_rate_range" ->
        (col("fulfillment_rate") < 0 || col("fulfillment_rate") > 100),
      "co_segment_not_null" -> col("customer_segment").isNull))

  def businessRulesOver(t: TableResolver,
                        names: Seq[String] = RuleFamilies.map(_._1)): DataFrame =
    RuleFamilies.filter(f => names.contains(f._1))
      .map { case (table, checks) => countsInOnePass(t(table), checks, "violation_count") }
      .reduce(_.unionByName(_))
      .withColumnRenamed("check_name", "rule_name")
      .withColumn("status", zeroPasses(col("violation_count")))
      .orderBy("rule_name")

  def businessRules(spark: SparkSession, dir: String): DataFrame =
    businessRulesOver(sourceTables(spark, dir))

  /** (logical table, freshness label, timestamp column) arms the family
    * knows how to audit — restricted by `names` so a pipeline only audits
    * the tables it materialized. */
  private val FreshnessArms: Seq[(String, String, String)] = Seq(
    ("orders", "bronze.orders", "_ingested_at"),
    ("order_details", "silver.order_details", "_refined_at"),
    ("customer_orders", "silver.customer_orders", "_refined_at"),
    ("events", "events", "ts"))

  /** Hours from `lastRefresh` to the pinned audit instant
    * (2002-01-01 00:00:00 UTC), rounded to one decimal; null when the table
    * is empty. */
  private def hoursSince(lastRefresh: Column): Column =
    Num.r1((lit(1009843200L) - unix_timestamp(lastRefresh)) / 3600.0)

  private def freshStatus(hours: Column): Column =
    when(hours <= 25, "PASS").otherwise("STALE")

  /** Freshness vs the pinned reference instant (reference:
    * data_quality_checks.py:123-140: hours since `max(_ingested_at)` /
    * `max(_refined_at)` on bronze.orders + both silver tables, rounded to one
    * decimal, PASS under 25 h; `current_timestamp()` is pinned to 2002-01-01
    * for determinism). The events arm extends the family to the event stream's
    * own data clock — its staleness is a property of the fixture, not the
    * pipeline, and is reported deterministically either way. */
  def freshnessOver(t: TableResolver,
                    names: Seq[String] = FreshnessArms.map(_._1)): DataFrame = {
    def arm(name: String, df: DataFrame, tsCol: String): DataFrame =
      df.agg(max(col(tsCol)).as("last_refresh"))
        .select(
          lit("Freshness").as("check_type"),
          lit(name).as("table_name"),
          col("last_refresh"),
          hoursSince(col("last_refresh")).as("hours_since"))
        .withColumn("status", freshStatus(col("hours_since")))
    FreshnessArms.filter(a => names.contains(a._1))
      .map { case (table, label, tsCol) => arm(label, t(table), tsCol) }
      .reduce(_.unionByName(_))
      .orderBy("table_name")
  }

  def freshness(spark: SparkSession, dir: String): DataFrame =
    freshnessOver(sourceTables(spark, dir))

  /** ALL FIVE check families over one table resolver, in a unified shape
    * (family, check_name, metric, status) — the union the reference's DQ
    * stage displays (data_quality_checks.py:27-140 runs every family,
    * invoked at run_sales_analytics.py:134). Each family is restricted by
    * `names` to the tables the caller materialized; a family with no
    * applicable table contributes no rows. Metric semantics per family:
    * row count / null count / orphan count / violation count / hours since
    * refresh.
    *
    * The reference runs each family as its own scan of every table it
    * checks. Here each table in `names` is resolved ONCE and audited by ONE
    * aggregate: its row count, every null and business-rule predicate count,
    * the max of its freshness timestamp and — for a fact table — the orphan
    * count of each RI probe (the fact left-joined to the distinct key sets,
    * which keeps its row count). The single aggregate row is exploded back
    * into one row per check. The rows equal those of the five `*Over`
    * family functions reshaped into this form. */
  def allFamiliesOver(t: TableResolver, names: Seq[String]): DataFrame = {
    val has = names.toSet
    val frames: TableResolver = names.distinct.map(n => n -> t(n)).toMap
    names.distinct.map { table =>
      val (df, orphans) = withProbes(frames(table), probesOf(table, has), frames)
      def counted(family: String, checks: Seq[(String, Column)]): Seq[Check] =
        checks.map { case (name, pred) =>
          Check(family, name, count(when(pred, 1)), identity, zeroPasses)
        }
      val checks =
        Check("row_counts", table, count(lit(1)), identity, positivePasses) +: (
          counted("null_checks", NullCheckFamilies.filter(_._1 == table).flatMap(_._2)) ++
          counted("referential_integrity", orphans) ++
          counted("business_rules", RuleFamilies.filter(_._1 == table).flatMap(_._2)) ++
          FreshnessArms.filter(_._1 == table).map { case (_, label, tsCol) =>
            Check("freshness", label, max(col(tsCol)), hoursSince, freshStatus)
          })
      val aggs = checks.zipWithIndex.map { case (c, i) => c.agg.as(s"_a$i") }
      val rows = checks.zipWithIndex.map { case (c, i) =>
        val metric = c.metric(col(s"_a$i"))
        struct(lit(c.family).as("family"), lit(c.name).as("check_name"),
          metric.cast("double").as("metric"), c.status(metric).as("status"))
      }
      df.agg(aggs.head, aggs.tail: _*).select(explode(array(rows: _*)).as("r")).select("r.*")
    }.reduce(_.unionByName(_)).orderBy("family", "check_name")
  }

  /** One check of the fused audit: `agg` over the audited table, the
    * reported metric of that aggregate, and the status of the metric. */
  private case class Check(family: String, name: String, agg: Column,
                           metric: Column => Column, status: Column => Column)

  /** Pipeline gate over ALL FIVE families ([[allFamiliesOver]]): throws if
    * any check is non-PASS — including referential-integrity orphans and
    * freshness STALE, which the pre-r7 gate could not trip on (it unioned
    * only three families). Stronger than the reference, which only displays
    * results — SURVEY.md §5. */
  def assertAll(spark: SparkSession, dir: String): Unit =
    assertAllOver(sourceTables(spark, dir), AllTables :+ "events")

  /** [[assertAll]] over an arbitrary resolver/table set — the gate a
    * deployed pipeline points at its own warehouse (and the seam tests use
    * to prove an injected orphan or a stale table actually throws). The
    * collect is control-plane: non-PASS check rows only. */
  def assertAllOver(t: TableResolver, names: Seq[String]): Unit = {
    val bad = allFamiliesOver(t, names).where(col("status") =!= "PASS").collect()
    require(bad.isEmpty, s"data-quality failures: ${bad.mkString("; ")}")
  }
}
