package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Num, Sources}
import Sampling.mixHash
import Similarity.M32

/** Approximate query processing + optimizer-grade statistics — the
  * cardinality side of running this engine at 100 TB, where exact
  * COUNT(DISTINCT) over a fact column is a full shuffle of every distinct
  * value and the planner still needs NDVs to size joins.
  *
  * Reference surface: none (the reference never profiles its tables); this
  * is infrastructure the 100-TB deployment needs, same status as the
  * dedup/similarity kit.
  *
  * The sketch here is KMV (k minimum values, Bar-Yossef et al. 2002): keep
  * the k smallest DISTINCT hash values of a column; with h₍ₖ₎ the k-th
  * smallest over a hash range of M, NDV ≈ (k−1)·M / h₍ₖ₎. Chosen over
  * HyperLogLog deliberately: KMV is an ORDER STATISTIC of the engine's
  * shared integer mixer ([[Sampling.mixHash]]), so it is exactly
  * reproducible in the DuckDB oracle — the whole estimator is
  * `DISTINCT → ORDER BY hash → LIMIT k → max`, replayed verbatim in SQL.
  * A probabilistic-register sketch (HLL) could only get a rows-only check;
  * this one gets the full value-level oracle. Determinism also makes the
  * estimate stable across runs, partitionings and engines — an auditable
  * number, like everything else in the pipeline.
  *
  * Scale shape: the distinct pre-aggregates map-side (hash values, 8 B
  * each), and the k-smallest selection is a TakeOrdered — the shuffle
  * carries at most k values per partition, never the distinct set. The
  * exact-NDV arm in [[tableProfile]] exists to AUDIT the sketch at verify
  * SF (the same exact-vs-approx audit device as the quantization and ANN
  * recall audits); a production profile runs the sketch columns only.
  */
object Sketch {

  /** Sketch size: rel. stderr ≈ 1/√(k−2) ≈ 6%. Bounded driver/shuffle
    * footprint at any corpus size. */
  val KmvK = 256

  /** Canonical integer key for the mixer: integer columns hash directly;
    * doubles (money / quantities, 2-decimal in this schema) hash their
    * cent-scaled integer ⌊x·100+0.5⌋ — float arithmetic never reaches the
    * modular mixer, so both engines hash the identical BIGINT. */
  private def hashKey(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType =>
        floor(col(c) * 100 + 0.5).cast("long")
      case _ => col(c).cast("long")
    }

  /** The k-th smallest distinct hash of `c` (or the distinct count itself
    * when fewer than k distinct values exist — the estimator is exact
    * there). Null keys are excluded, as in COUNT(DISTINCT). */
  private def kmvFrame(df: DataFrame, c: String): DataFrame =
    df.where(col(c).isNotNull)
      .select(mixHash(hashKey(df, c)).as("h")).distinct()
      .orderBy("h").limit(KmvK)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("h_k"))

  /** KMV NDV estimate from (n_kept, h_k): exact when the sketch never
    * filled. Rounded via [[Num.r]] so both engines agree bit-for-bit. */
  private def kmvEstimate: Column =
    when(col("n_kept") < KmvK, col("n_kept").cast("double"))
      .otherwise(Num.r((lit(KmvK) - 1).cast("double") * M32 / col("h_k"), 2))

  /** ANALYZE-style profile of one numeric column: row/null counts, exact
    * NDV (the audit arm), KMV NDV, the sketch's relative error, and the
    * min/max range the planner prunes with. Superseded as [[tableProfile]]'s
    * execution shape by the fused [[profileTable]] (OPTIMIZATION r16) —
    * kept as the per-column reference the equivalence spec pins against. */
  private[graft] def profileCol(df: DataFrame, table: String, c: String): DataFrame = {
    val stats = df.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col(c))).as("n_nulls"), // count(c) skips nulls
      countDistinct(col(c)).as("ndv_exact"),
      min(col(c)).cast("double").as("min_value"),
      max(col(c)).cast("double").as("max_value"))
    stats.crossJoin(kmvFrame(df, c)) // 1×1 — a broadcast scalar join
      .select(
        lit(table).as("table_name"), lit(c).as("column_name"),
        col("n_rows"), col("n_nulls"), col("ndv_exact"),
        kmvEstimate.as("ndv_kmv"),
        Num.r4(abs(kmvEstimate - col("ndv_exact")) /
          greatest(col("ndv_exact").cast("double"), lit(1.0))).as("kmv_rel_err"),
        col("min_value"), col("max_value"))
  }

  /** Profiled (table, column) pairs — the key and measure columns a
    * planner sizes joins and prunes partitions by. */
  val ProfiledColumns: Seq[(String, String)] = Seq(
    "orders" -> "o_orderkey",
    "orders" -> "o_custkey",
    "orders" -> "o_totalprice",
    "lineitem" -> "l_orderkey",
    "lineitem" -> "l_partkey",
    "lineitem" -> "l_suppkey",
    "lineitem" -> "l_quantity",
    "customer" -> "c_custkey",
    "events" -> "user_id")

  // ------------------------------------------------ incremental maintenance

  /** Mergeable per-column statistics STATE over a table slice: counts,
    * min/max, and the KMV sketch itself — the ≤[[KmvK]] smallest distinct
    * hashes as a sorted array, not just the estimate. Every field is a
    * semilattice/monoid (sums, min, max, k-smallest-of-distinct-union), so
    * `finalize(merge(state(A), state(B))) == finalize(state(A ∪ B))`
    * EXACTLY — the KMV mergeability SketchSpec proves element-wise,
    * promoted to the whole profile. This is what lets the statistics
    * catalog ride the same delta-fold discipline as the revenue states
    * ([[graft.engine.Pipeline.runStatsIncrement]]): stats stay fresh as
    * batches land, for O(delta) + O(state) per batch, and the drift gates
    * ([[statsDrift]]) compare versions that never went stale.
    * Contract: append-only deltas (min/max/KMV have no inverse). */
  def statsState(df: DataFrame, table: String, c: String): DataFrame = {
    val stats = df.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col(c))).as("n_nulls"),
      min(col(c)).cast("double").as("min_value"),
      max(col(c)).cast("double").as("max_value"))
    val kmv = df.where(col(c).isNotNull)
      .select(mixHash(hashKey(df, c)).as("h")).distinct()
      .orderBy("h").limit(KmvK)
      .agg(sort_array(collect_list(col("h"))).as("kmv"))
    stats.crossJoin(kmv) // 1×1 — a broadcast scalar join
      .select(lit(table).as("table_name"), lit(c).as("column_name"),
        col("n_rows"), col("n_nulls"), col("min_value"), col("max_value"),
        col("kmv"))
  }

  /** Merge mergeable stats states. The per-group KMV union is bounded:
    * ≤ [[KmvK]] hashes per input state, states-per-group = batch count
    * since the last compaction, groups = profiled columns. */
  def mergeStatsStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("table_name", "column_name")
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, KmvK).as("kmv"))

  /** Finalize: the production profile (no exact-NDV audit arm — that is
    * [[tableProfile]]'s verify-SF job). NDV comes from the state's own
    * sketch: n_kept = |kmv|, h_k = its maximum. */
  def finalizeStats(state: DataFrame): DataFrame =
    state.select(col("table_name"), col("column_name"),
      col("n_rows"), col("n_nulls"),
      when(size(col("kmv")) < KmvK, size(col("kmv")).cast("double"))
        .otherwise(Num.r(lit((KmvK - 1).toDouble) * M32
          / element_at(col("kmv"), -1), 2)).as("ndv_kmv"),
      col("min_value"), col("max_value"))

  /** ONE-PASS multi-column form of [[statsState]] (OPTIMIZATION r15): the
    * per-column formulation scanned the table TWICE per column (stats agg +
    * KMV distinct/TakeOrdered) and paid one distinct shuffle per column —
    * 6 scans and 3 shuffles per orders slice, ~54 scans across
    * `stats_profile_incremental`'s 9-column × 3-slice fold. Here each row
    * explodes to one (column, hash, value) entry per profiled column and
    * ONE map-side-combined aggregate per slice computes every column's
    * whole state: counts/min/max as plain aggs, the KMV as the bounded
    * [[graft.functions.TopKByScore.topKDistinct]] on (−h, h) — k smallest
    * DISTINCT hashes, ascending, bit-identical to the distinct→orderBy→
    * limit→collect_list formulation because (−h desc, id asc) is total and
    * the dedup is by the hash itself. One scan + one bounded shuffle per
    * (table, slice) at ANY number of profiled columns; the shuffle carries
    * ≤ k·|columns| rows per map task. Value-identical to mapping
    * [[statsState]] over the columns (ExtSpec pins it), with one benign
    * delta: an EMPTY slice contributes zero rows instead of a zero-count
    * row — a no-op under [[mergeStatsStates]]'s sums/min/max/union. */
  def statsStates(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
    val entries = cols.map { c =>
      struct(lit(c).as("c"), mixHash(hashKey(df, c)).as("h"),
        col(c).cast("double").as("v"))
    }
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.c").as("column_name"), col("e.h").as("h"), col("e.v").as("v"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("h"))).as("n_nulls"),
        min(col("v")).as("min_value"), max(col("v")).as("max_value"),
        transform(graft.functions.TopKByScore.topKDistinct(
          (-col("h")).cast("double"), col("h"), KmvK),
          x => x.getField("id")).as("kmv"))
      .select(lit(table).as("table_name"), col("column_name"),
        col("n_rows"), col("n_nulls"), col("min_value"), col("max_value"),
        col("kmv"))
  }

  /** Fold one batch of every table in `columns` (profiled (table, column)
    * pairs; `deltas` gives each table's batch) into the stats state at
    * `path` ([[graft.sources.Versioned.foldBatch]]) — the fold the batch
    * mode ([[graft.engine.Pipeline.runStatsIncrement]]) runs per batch and
    * the stream ([[graft.streaming.Streams.maintainStats]]) per
    * micro-batch. One fused pass per table; the zero states keep every
    * column present when a table's batch is empty. Returns the committed
    * row count. */
  def foldStats(spark: SparkSession, deltas: String => DataFrame,
                columns: Seq[(String, String)], path: String, batchId: Long): Long = {
    val delta = mergeStatsStates(columns.map(_._1).distinct.map { t =>
      statsStates(deltas(t), t, columns.collect { case (`t`, c) => c })
    } :+ zeroStatesFor(spark, columns))
    graft.sources.Versioned.foldBatch(path, batchId, delta, mergeStatsStates)
  }

  /** [[ProfiledColumns]] grouped per table, insertion-ordered. */
  private def profiledByTable: Seq[(String, Seq[String])] =
    ProfiledColumns.map(_._1).distinct
      .map(t => t -> ProfiledColumns.collect { case (`t`, c) => c })

  /** One ZERO-COUNT state row per profiled column — the identity element
    * of [[mergeStatsStates]] (sums +0, min/max ignore NULL, empty-KMV
    * union), so unioning it in changes NOTHING when a slice has rows and
    * keeps the (table, column) key PRESENT when a slice is empty. ADVICE
    * r15: the fused [[statsStates]] emits zero ROWS for an empty slice,
    * and [[statsDriftFromSlices]] fed that unmerged slice-0 profile into
    * [[statsDrift]]'s inner join — an empty (table, slice-0) silently
    * removed the table's columns from the drift report, so no gate could
    * ever trip for them (the old per-column [[statsState]] emitted an
    * n_rows=0 row there). */
  private[graft] def zeroStates(spark: SparkSession, table: String,
                                cols: Seq[String]): DataFrame =
    zeroStatesFor(spark, cols.map(table -> _))

  /** [[zeroStates]] over explicit (table, column) pairs — one LocalRelation
    * for a whole catalog's worth of zero rows, so a profile's merge gains
    * one plan branch, not one per table. */
  private[graft] def zeroStatesFor(spark: SparkSession,
                                   pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    pairs.map { case (t, c) => (t, c, 0L, 0L) }.toDF(
        "table_name", "column_name", "n_rows", "n_nulls")
      .select(col("table_name"), col("column_name"),
        col("n_rows"), col("n_nulls"),
        lit(null).cast("double").as("min_value"),
        lit(null).cast("double").as("max_value"),
        array().cast("array<bigint>").as("kmv"))
  }

  /** The verified query: the production profile maintained from three
    * hash-sliced delta batches per table. The oracle computes the same
    * columns from the FULL tables, so the hash match PROVES the state fold
    * reproduces the from-scratch profile bit-for-bit — same device as
    * `incr_monthly_revenue`. Each (table, slice) state is the fused
    * one-pass [[statsStates]]. */
  def statsProfileFromDeltas(spark: SparkSession, dir: String): DataFrame = {
    val states = profiledByTable.map { case (t, cols) =>
      val (df, key) = sliceSource(spark, dir, t)
      // the zero states keep every profiled column present even when a
      // table is empty in all slices — a merge identity otherwise
      mergeStatsStates((0 until 3).map(i =>
        statsStates(df.where(pmod(mixHash(coalesce(col(key), lit(-1L))), lit(3)) === i), t, cols))
        :+ zeroStates(spark, t, cols))
    }
    finalizeStats(states.reduce(_ unionByName _))
  }

  /** The profiled source plus the row-slicing key its delta fold shards on. */
  private[graft] def sliceSource(spark: SparkSession, dir: String,
                               t: String): (DataFrame, String) = t match {
    case "orders" => (Sources.orders(spark, dir), "o_orderkey")
    case "lineitem" => (Sources.lineitem(spark, dir), "l_orderkey")
    case "customer" => (Sources.customer(spark, dir), "c_custkey")
    case "events" => (Sources.events(spark, dir), "user_id")
    case other => sys.error(s"unprofiled table $other")
  }

  // ------------------------------------------------------ quantile profile

  /** Bottom-k sample size for quantile estimation: the [[QSampleK]] rows
    * with the smallest (mixHash(row key), row key) — a uniform fixed-size
    * random sample that is DETERMINISTIC (hash order), BOUNDED (a
    * TakeOrdered, never a sort), and MERGEABLE (k-smallest-of-union — the
    * same order-statistic lemma as the KMV sketch, so the sample can ride
    * the incremental state fold). Sample-quantile error ~ 1/√k. */
  val QSampleK = 512

  /** The estimated percentiles. */
  val QuantilePcts = Seq(25, 50, 75, 95)

  /** Unique integer row key per profiled table — what makes the row sample
    * (as opposed to [[kmvFrame]]'s distinct-VALUE sample) well-defined:
    * quantiles are over the row distribution, so the sampling key must be
    * row-unique, not value-unique. */
  private def rowKey(t: String): Column = t match {
    case "orders" => col("o_orderkey")
    case "lineitem" => col("l_orderkey") * 8 + col("l_linenumber")
    case "customer" => col("c_custkey")
    case "events" => col("event_id")
    case other => sys.error(s"unprofiled table $other")
  }

  /** Quantiles of one column: the sample estimate next to the exact
    * sort-based arm, both over the column's CANONICAL integers (doubles
    * cent-scaled exactly as [[hashKey]] hashes them) so the
    * percentile/quantile_cont interpolation stays integer-exact in both
    * engines, then rescaled to original units. The exact arm is the
    * verify-SF audit (same status as `ndv_exact`): at 100 TB only the
    * bounded sample runs. */
  private def quantProfileCol(df: DataFrame, t: String, c: String): DataFrame = {
    val scale = df.schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType => 100.0
      case _ => 1.0
    }
    val keyed = df.where(col(c).isNotNull)
      .select(hashKey(df, c).as("cv"), mixHash(rowKey(t)).as("h"),
        rowKey(t).as("rk"))
    // the raw tables deliberately contain duplicate business keys (the
    // bronze keep-latest dedup's fixture surface), so rk alone is NOT a
    // strict order: rows tied on (h, rk) are different physical rows whose
    // profiled values differ, and each engine would keep a different one
    // (observed at sf0.1: 2 of 9 profile rows diverged). Adding cv makes
    // the cut value-deterministic — any residual tie has equal cv, which
    // cannot move a quantile.
    val sample = keyed.orderBy(col("h"), col("rk"), col("cv")).limit(QSampleK)
    def qs(src: String) = QuantilePcts.map(p =>
      Num.r2(percentile(col("cv"), lit(p / 100.0)) / scale)
        .as(s"p${p}_$src"))
    val s = sample.agg(count(lit(1)).as("m_sample"), qs("sample"): _*)
    val e = keyed.agg(count(lit(1)).as("n_rows"), qs("exact"): _*)
    s.crossJoin(e) // 1×1
      .select(Seq(lit(t).as("table_name"), lit(c).as("column_name"),
        col("n_rows"), col("m_sample")) ++
        QuantilePcts.flatMap(p =>
          Seq(col(s"p${p}_sample"), col(s"p${p}_exact"))) :+
        Num.r4(QuantilePcts.map(p =>
          abs(col(s"p${p}_sample") - col(s"p${p}_exact"))
            / greatest(abs(col(s"p${p}_exact")), lit(1.0)))
          .reduce(greatest(_, _))).as("max_rel_err"): _*)
  }

  /** The quantile statistics catalog: selectivity-grade percentiles for
    * every profiled column — the range-predicate complement to the KMV NDV
    * ([[tableProfile]]): NDV sizes equi-joins, quantiles size range scans.
    * One bounded TakeOrdered + one audit agg per column. */
  def quantileProfile(spark: SparkSession, dir: String): DataFrame =
    ProfiledColumns.map { case (t, c) =>
      quantProfileCol(sliceSource(spark, dir, t)._1, t, c)
    }.reduce(_ unionByName _)

  // ----------------------------------------------------- drift detection

  /** Null-rate drift gate, percentage points. */
  val DriftNullRatePp = 5.0
  /** NDV growth gate: flag when NDV grows more than this factor faster
    * than the row count (key-space explosion / fanout bug signal). */
  val DriftNdvFactor = 2.0

  /** Statistics DRIFT between two profile versions — the DQ consumer the
    * versioned stats store makes possible: `before` and `after` are any
    * two [[finalizeStats]] outputs (e.g. [[graft.sources.Versioned]]
    * versions of the maintained state — time travel supplies the baseline
    * for free). Per column, the report gives row growth, null-rate
    * movement, range expansion, and NDV-vs-rows growth, plus boolean
    * gates:
    *
    *  - `null_rate_drift`: null share moved ≥ [[DriftNullRatePp]] pp — an
    *    upstream extractor started (or stopped) dropping a field;
    *  - `range_expanded`: min/max moved outside the baseline — new
    *    enum/id space, unit change, or corruption;
    *  - `ndv_outpaced_rows`: NDV grew ≥ [[DriftNdvFactor]]× the row growth
    *    — a key column stopped being a key, or a join fanned out.
    *
    * Pure column arithmetic over profiled-columns-grain frames: the check
    * costs nothing at any corpus size, because the PROFILE already paid
    * the scan. Append-only contract inherited from the state fold (rows
    * and ranges only grow). */
  def statsDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val b = before.select(col("table_name"), col("column_name"),
      col("n_rows").as("rows_before"), col("n_nulls").as("nulls_before"),
      col("ndv_kmv").as("ndv_before"),
      col("min_value").as("min_before"), col("max_value").as("max_before"))
    val a = after.select(col("table_name"), col("column_name"),
      col("n_rows").as("rows_after"), col("n_nulls").as("nulls_after"),
      col("ndv_kmv").as("ndv_after"),
      col("min_value").as("min_after"), col("max_value").as("max_after"))
    val nullRate = (n: Column, rows: Column) =>
      lit(100.0) * n / greatest(rows, lit(1L))
    val rowGrowth = col("rows_after").cast("double") /
      greatest(col("rows_before"), lit(1L))
    val ndvGrowth = col("ndv_after") / greatest(col("ndv_before"), lit(1.0))
    b.join(a, Seq("table_name", "column_name"))
      .select(col("table_name"), col("column_name"),
        col("rows_before"), col("rows_after"),
        Num.r4(rowGrowth).as("row_growth"),
        Num.r2(nullRate(col("nulls_before"), col("rows_before")))
          .as("null_pct_before"),
        Num.r2(nullRate(col("nulls_after"), col("rows_after")))
          .as("null_pct_after"),
        (abs(nullRate(col("nulls_after"), col("rows_after"))
          - nullRate(col("nulls_before"), col("rows_before")))
          >= DriftNullRatePp).as("null_rate_drift"),
        (col("min_after") < col("min_before")
          || col("max_after") > col("max_before")).as("range_expanded"),
        Num.r4(ndvGrowth).as("ndv_growth"),
        (ndvGrowth >= lit(DriftNdvFactor) * rowGrowth)
          .as("ndv_outpaced_rows"))
  }

  /** The verified query: drift of the full profile against the
    * deterministic first-third slice of each table (slice 0 of the
    * [[statsProfileFromDeltas]] sharding) — a synthetic but fully
    * deterministic "yesterday vs today" pair both engines can rebuild. */
  def statsDriftFromSlices(spark: SparkSession, dir: String): DataFrame = {
    def profile(sliceFilter: Option[Int]): DataFrame =
      // ONE bounded merge over all tables' states + per-column zero states
      // (≤ 2·|profiled columns| rows): an empty slice then yields an
      // n_rows=0 baseline row instead of vanishing from the inner join —
      // see [[zeroStates]] (ADVICE r15)
      finalizeStats(mergeStatsStates(profiledByTable.map { case (t, cols) =>
        val (df, key) = sliceSource(spark, dir, t)
        val sliced = sliceFilter.fold(df)(i => df.where(
          pmod(mixHash(coalesce(col(key), lit(-1L))), lit(3)) === i))
        statsStates(sliced, t, cols) // fused one-pass form (r15)
      } :+ zeroStatesFor(spark, ProfiledColumns)))
    statsDrift(profile(Some(0)), profile(None))
  }

  /** Hard gate on [[statsDrift]]: throws listing every (table, column,
    * gate) that tripped — the deploy-blocking form, same contract as
    * [[graft.engine.Quality.assertAll]]. Collect is control-plane
    * (profiled-columns-grain). */
  def assertNoDrift(before: DataFrame, after: DataFrame): Unit = {
    val gates = Seq("null_rate_drift", "range_expanded", "ndv_outpaced_rows")
    val tripped = statsDrift(before, after).collect().flatMap { r =>
      gates.filter(g => r.getAs[Boolean](g)).map(g =>
        s"${r.getAs[String]("table_name")}.${r.getAs[String]("column_name")}: $g")
    }
    require(tripped.isEmpty, s"statistics drift gates tripped: ${tripped.mkString("; ")}")
  }

  /** ONE-PASS multi-column form of [[profileCol]] (OPTIMIZATION r16, the
    * [[statsStates]] fusion applied to the audit profile): the per-column
    * form scanned each table TWICE per column (stats agg + KMV
    * distinct/TakeOrdered) — 18 scans across the 9 profiled columns. Here
    * each row explodes to one (column, hash, value) entry per profiled
    * column and ONE aggregate per table computes every column's whole row:
    * counts/min/max and the exact NDV as plain aggs over the double-cast
    * value — monotone-injective for every profiled type, so
    * COUNT(DISTINCT v) counts raw values exactly as COUNT(DISTINCT c) does,
    * off-contract decimals included — and the KMV via the bounded
    * [[graft.functions.TopKByScore.topKDistinct]], exactly as
    * [[statsStates]] does. One marker entry per column (null `_n`, `h` and
    * `v`, so no aggregate counts it) keeps every column's group present
    * when the table is empty: the row then reads n_rows = 0, ndv = 0 and
    * null min/max, as [[profileCol]] and the oracle give. 4 scans instead
    * of 18; value-identical to mapping [[profileCol]] (ExtSpec pins it). */
  private[graft] def profileTable(df: DataFrame, table: String,
                                  cols: Seq[String]): DataFrame = {
    import df.sparkSession.implicits._
    val entries = cols.map { c =>
      struct(lit(c).as("c"), mixHash(hashKey(df, c)).as("h"),
        col(c).cast("double").as("v"))
    }
    val rows = df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.c").as("column_name"), lit(1).as("_n"),
        col("e.h").as("h"), col("e.v").as("v"))
    val markers = cols.toDF("column_name")
      .select(col("column_name"), lit(null).cast("int").as("_n"),
        lit(null).cast(rows.schema("h").dataType).as("h"),
        lit(null).cast("double").as("v"))
    val est = when(size(col("kmv")) < KmvK, size(col("kmv")).cast("double"))
      .otherwise(Num.r(lit((KmvK - 1).toDouble) * M32
        / element_at(col("kmv"), -1), 2))
    rows.unionByName(markers)
      .groupBy("column_name")
      .agg(count(col("_n")).as("n_rows"),
        (count(col("_n")) - count(col("v"))).as("n_nulls"),
        countDistinct(col("v")).as("ndv_exact"),
        min(col("v")).as("min_value"), max(col("v")).as("max_value"),
        transform(graft.functions.TopKByScore.topKDistinct(
          (-col("h")).cast("double"), col("h"), KmvK),
          x => x.getField("id")).as("kmv"))
      .select(lit(table).as("table_name"), col("column_name"),
        col("n_rows"), col("n_nulls"), col("ndv_exact"),
        est.as("ndv_kmv"),
        Num.r4(abs(est - col("ndv_exact")) /
          greatest(col("ndv_exact").cast("double"), lit(1.0))).as("kmv_rel_err"),
        col("min_value"), col("max_value"))
  }

  /** The statistics catalog: one row per profiled column. One fused pass
    * per table ([[profileTable]]); at 100 TB the exact-NDV audit arm is
    * dropped and the remaining work is a map-side-combined distinct of
    * 8-byte hashes. */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    profiledByTable
      .map { case (t, cols) => profileTable(sliceSource(spark, dir, t)._1, t, cols) }
      .reduce(_.unionByName(_))
}
