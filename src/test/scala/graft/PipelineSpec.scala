package graft

import java.nio.file.Files
import graft.engine.Pipeline
import graft.sources.Schemas

class PipelineSpec extends SparkSpec {

  test("sales pipeline runs all stages, partitions order_details by year") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val results = Pipeline.runSalesAnalytics(spark, sf, out)
    assert(results.forall(_.status == "PASS"), results.mkString("; "))
    assert(results.map(_.stage).contains("silver_order_details"))
    assert(results.filter(_.stage.startsWith("bronze")).forall(_.rows > 0))
    // partition pruning layout exists
    val yearDirs = new java.io.File(s"$out/silver_order_details").listFiles()
      .filter(_.getName.startsWith("order_year="))
    assert(yearDirs.nonEmpty)
    // written snapshot is readable and matches the live plan's count
    val written = spark.read.parquet(s"$out/silver_order_details").count()
    assert(written === graft.engine.Silver.orderDetails(spark, sf).count())
    // the DQ stage audits the WRITTEN tables with ALL FIVE families
    // (reference: data_quality_checks.py:27-140 run at
    // run_sales_analytics.py:134). Its plan is parquet scans + single-row
    // aggregates — no Window (that would mean a silver re-derivation); the
    // only joins allowed are the RI orphan probes. Verdicts and metrics
    // must equal the source-derived mode exactly (audit stamps are pinned
    // literals, so even freshness hours agree).
    val auditNames = Seq("orders", "customer", "lineitem", "part",
      "order_details", "customer_orders")
    val dq = graft.engine.Quality.overWarehouse(spark, out, auditNames)
    val dqPlan = dq.queryExecution.executedPlan.toString
    assert(!dqPlan.contains("Window"), "DQ stage re-derived silver:\n" + dqPlan.take(800))
    val audited = dq.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(audited.map(_._1) ===
      Set("row_counts", "null_checks", "referential_integrity",
        "business_rules", "freshness"),
      s"DQ stage must run all five families, got: ${audited.map(_._1)}")
    assert(audited.forall(c => c._4 == "PASS"), s"DQ failures: ${audited.filter(_._4 != "PASS")}")
    // no supplier in this pipeline -> no lineitem->supplier probe
    assert(!audited.exists(_._2 == "lineitem->supplier"))
    val derived = graft.engine.Quality.allFamiliesOver(
        graft.engine.Quality.sourceTables(spark, sf), auditNames)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(audited === derived,
      s"warehouse DQ disagrees with derived DQ: ${audited.diff(derived)} vs ${derived.diff(audited)}")
  }

  test("sales pipeline installs the measured stats profile: a plain join over " +
      "the profiled source tables is decided by the catalog, not the file-size heuristic") {
    import graft.plans.StatsHint
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val o = graft.engine.Sources.orders(spark, sf)
    val l = graft.engine.Sources.lineitem(spark, sf)
    // the silver fact join, with NO hints anywhere in user code
    def factJoin = o.join(l, o("o_orderkey") === l("l_orderkey"))
    def joinHints = factJoin.queryExecution.optimizedPlan.collect {
      case j: Join => j.hint
    }
    StatsHint.uninstall(spark)
    assert(joinHints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty),
      "clean session must plan with no injected hints")
    val out = Files.createTempDirectory("graft_pipe_stats").toString
    try {
      val results = Pipeline.runSalesAnalytics(spark, sf, out)
      assert(results.exists(r =>
        r.stage == "stats_profile_install" && r.status == "PASS"))
      // the profile stage materialized an auditable table with the
      // measured counts of every profiled source column
      val prof = spark.read.parquet(s"$out/stats_profile_install")
      assert(prof.select("table_name").distinct().collect()
        .map(_.getString(0)).toSet === Set("orders", "lineitem", "customer"))
      // ... and the SAME plain join is now hint-decided by the catalog:
      // the rule injected a strategy into the logical Join during this
      // pipeline's session, which only happens via the installed profile
      val after = joinHints
      assert(after.exists(h => h.leftHint.nonEmpty || h.rightHint.nonEmpty),
        s"profile installed but the silver fact join carries no injected hint: $after")
    } finally StatsHint.uninstall(spark)
  }

  test("pipelines build each layer from the written layer below: silver and gold " +
      "stages scan no raw input, and the written gold tables equal the registry's") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // every file-scan root of every query, keyed by its job group: each
    // pipeline stage runs in a job group named after the stage, and a scan
    // node's Location metadata names its root path in full
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def locations(p: SparkPlanInfo): Seq[String] =
      p.metadata.get("Location").toSeq ++ p.children.flatMap(locations)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.foreach(g => locations(s.sparkPlanInfo).foreach(l => scans.add(g -> l)))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft_pipe_layers").toString
    sc.addSparkListener(listener)
    try {
      Pipeline.runSalesAnalytics(spark, sf, s"$out/sales")
      Pipeline.runSupplierAnalytics(spark, sf, s"$out/supplier")
      org.apache.spark.graft.SparkBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    val byStage = scans.asScala.toSeq.groupMap(_._1)(_._2)
    def scanned(prefix: String): Map[String, Seq[String]] =
      byStage.filter(_._1.startsWith(prefix))
    val raw = s"$sf/"
    // the listener sees raw scans where they belong: bronze reads the source
    assert(scanned("bronze_").values.flatten.exists(_.contains(raw)), byStage.toString)
    // silver reads the written bronze tables and gold the written silver
    // tables — never a raw <table>.parquet input
    for ((layer, below) <- Seq("silver_" -> "/bronze_", "gold_" -> "/silver_")) {
      val stages = scanned(layer)
      assert(stages.nonEmpty, s"no $layer stage traced: ${byStage.keySet}")
      stages.foreach { case (stage, roots) =>
        assert(!roots.exists(_.contains(raw)), s"$stage scans a raw input: $roots")
        assert(roots.exists(_.contains(below)), s"$stage reads no $below table: $roots")
      }
    }
    // ... and the gold tables they wrote equal the registry's from-source
    // queries row for row
    Seq("gold_revenue_by_region" -> "sales", "gold_customer_lifetime_value" -> "sales",
      "gold_monthly_sales_trends" -> "sales", "gold_supplier_performance" -> "supplier")
      .foreach { case (q, scope) =>
        val written = spark.read.parquet(s"$out/$scope/$q")
        val expected = SparkEntry.queries(q)(spark, sf)
        assert(written.columns.toSeq === expected.columns.toSeq, q)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
        val (w, e) = (rows(written), rows(expected))
        assert(w.nonEmpty && w === e, s"$q: written ${w.size} rows vs registry ${e.size}")
      }
  }

  test("corpus pipeline: all stages pass, scrub boundary holds, DQ gate all-PASS") {
    val out = Files.createTempDirectory("graft_corpus_pipe").toString
    val results = Pipeline.runCorpusPipeline(spark, sf, out)
    assert(results.forall(_.status == "PASS"), results.mkString("; "))
    assert(results.map(_.stage) === Seq("corpus_scrubbed", "corpus_gates",
      "corpus_blocklist", "corpus_nb_quality", "corpus_decontaminate",
      "corpus_quality_sample", "corpus_fingerprints", "corpus_cross_modal",
      "corpus_release_manifest",
      "corpus_preprocess", "corpus_reject_ledger",
      "corpus_packed", "corpus_data_card", "quality_checks"))
    // the decontamination sweep ran on the scrubbed text and flagged the
    // fixture's genuine eval/train shared spans (non-vacuous)
    assert(spark.read.parquet(s"$out/corpus_decontaminate")
      .where(org.apache.spark.sql.functions.col("contaminated")).count() > 0)
    // the release manifest EXCLUDED them (kept ∧ ¬contaminated ∧ train)
    val rel = spark.read.parquet(s"$out/corpus_release_manifest")
    val kept = spark.read.parquet(s"$out/corpus_quality_sample")
      .where(org.apache.spark.sql.functions.col("kept"))
    assert(rel.count() > 0 && rel.count() < kept.count(),
      s"release ${rel.count()} vs kept ${kept.count()}: exclusion vacuous")
    assert(results.forall(_.rows > 0), results.mkString("; "))
    // the ingest boundary: no raw text column anywhere in the scrub store
    val scrubbed = spark.read.parquet(s"$out/corpus_scrubbed")
    assert(!scrubbed.columns.contains("text"))
    assert(scrubbed.count() ===
      graft.engine.Sources.documents(spark, sf).count())
    // the DQ gate wrote per-check verdicts and every one passed
    val dq = spark.read.parquet(s"$out/quality_checks").collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("status")).toMap
    assert(dq.keySet === Set("scrub_coverage", "residual_pii",
      "sample_referential_integrity", "data_card_reconciliation",
      "release_leak_free", "release_dup_free", "retrieval_quality",
      "embedding_index_recall", "embedding_table"))
    assert(dq.values.forall(_ == "PASS"), dq.toString)
    // the fingerprint ingest decoded every modality exactly once (3 report
    // rows, one per media arm) and the cross-modal stage audited the STORE
    val fpReport = spark.read.parquet(s"$out/corpus_fingerprints").collect()
      .map(r => r.getAs[String]("modality") -> r.getAs[Long]("n_new")).toMap
    assert(fpReport.keySet === Set("image", "audio", "video"), fpReport.toString)
    assert(fpReport.values.forall(_ > 0), fpReport.toString)
    // the cross-modal gate EXCLUDED every any_dup doc from the release
    val relIds = rel.select("doc_id")
    val dupJoin = relIds.join(
      spark.read.parquet(s"$out/corpus_cross_modal")
        .where(org.apache.spark.sql.functions.col("any_dup"))
        .select("doc_id"), Seq("doc_id"))
    assert(dupJoin.count() === 0L, "released doc is a cross-modal near-dup")
    assert(spark.read.parquet(s"$out/corpus_cross_modal")
      .where(org.apache.spark.sql.functions.col("any_dup")).count() > 0,
      "cross-modal gate vacuous on the fixture")
    // frame-based stages ran on the scrubbed text: the sample's doc set is
    // exactly the corpus (clean fixture: scrub is a no-op on content)
    val sample = spark.read.parquet(s"$out/corpus_quality_sample")
    assert(sample.count() === scrubbed.count())
    // the standalone release-manifest plan (the SQL-addressable product,
    // Corpus.releaseManifest) reproduces the pipeline stage BIT-FOR-BIT —
    // one algebra, two surfaces; a drift between them would ship a product
    // view that disagrees with the released artifact
    val viaView = graft.ext.Corpus.releaseManifest(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaStage = rel.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaView === viaStage,
      s"view ${viaView.size} rows vs stage ${viaStage.size}")
  }

  test("embedding-index recall gate: the deployed method clears the floor; " +
      "a degraded index and an unprobable (zero-query) audit both FAIL") {
    import org.apache.spark.sql.functions._
    val (pct, ok) = graft.ext.Similarity.recallAuditGate(spark, sf)
    assert(ok && pct >= graft.ext.Similarity.RecallFloorPct,
      s"deployed-index recall $pct% under floor")
    // degraded index: approx results that miss everything → hard FAIL
    val exact = graft.ext.Similarity.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id")
    val garbage = exact.select(col("query_id"),
      (col("neighbor_id") + 1000000L).as("neighbor_id"))
    val (gPct, gOk) = graft.ext.Similarity.recallGateOf(exact, garbage, 60L)
    assert(!gOk && gPct === 0L, s"degraded index passed at $gPct%")
    // zero probe queries = FAIL, never a vacuous pass
    val (zPct, zOk) = graft.ext.Similarity.recallGateOf(
      exact.limit(0), exact, 60L)
    assert(!zOk && zPct === 0L)
  }

  test("store geometry comes from configs/{env}.json (VERDICT r11 #5): " +
      "non-default buckets reach a NEW store; an existing store keeps its " +
      "recorded geometry regardless of conf") {
    val cfgDir = Files.createTempDirectory("graft_cfg").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfgDir, "stage.json"),
      """{"fpstore_buckets": 4, "vecindex_buckets": 16,
        | "textindex_buckets": 4, "decode_parallelism": 12}""".stripMargin)
    val cfg = graft.engine.EngineConfig.load("stage", cfgDir)
    assert(cfg.fpStoreBuckets === 4 && cfg.vecIndexBuckets === 16 &&
      cfg.textIndexBuckets === 4 && cfg.decodeParallelism === Some(12))
    cfg.applyTo(spark)
    try {
      assert(graft.ext.Multimodal.decodeParts(spark) === 12)
      val store = Files.createTempDirectory("graft_geo").toString + "/fp"
      graft.ext.FpStore.build(spark, store, sf).collect()
      val tbl = spark.sql(
        s"DESCRIBE TABLE EXTENDED ${graft.ext.FpStore.fpTable(store, "image")}")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(tbl.get("Num Buckets").contains("4"), tbl.toString)
      // physical layout agrees: every data file carries one of exactly 4
      // bucket ids (one file per task × bucket; the _NNNNN suffix is the
      // bucket id)
      val bucketIds = new java.io.File(s"$store/fps/modality=image/batch=0")
        .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .flatMap("_(\\d{5})\\.c000".r.findFirstMatchIn(_).map(_.group(1).toInt))
        .toSet
      assert(bucketIds === Set(0, 1, 2, 3), s"bucket ids: $bucketIds")
      // an EXISTING store is immune to a later conf change (geometry is
      // recorded at creation — _GEOMETRY wins over session conf)
      spark.conf.set("spark.graft.fpstore.buckets", "16")
      assert(graft.ext.FpStore.storeBuckets(spark, store) === 4)
    } finally {
      graft.engine.EngineConfig.defaults("dev").applyTo(spark)
    }
  }

  test("supplier pipeline runs the reference's full stage list incl. nation/region") {
    val out = Files.createTempDirectory("graft_pipe_sup").toString
    val results = Pipeline.runSupplierAnalytics(spark, sf, out)
    assert(results.map(_.stage) === Seq(
      "bronze_nation", "bronze_region", "bronze_supplier", "bronze_part",
      "bronze_orders", "bronze_lineitem", "stats_profile_install",
      "silver_order_details",
      "silver_supplier_parts", "gold_supplier_performance", "quality_checks"))
    assert(results.forall(_.status == "PASS"))
    // rows come from write-side metrics, not a read-back scan — must be real
    assert(results.forall(_.rows > 0), results.mkString("; "))
    // the supplier DQ stage covers the supplier-side families, including the
    // lineitem->supplier probe the sales pipeline can't run
    val dq = spark.read.parquet(s"$out/quality_checks")
    val families = dq.select("family").distinct().collect().map(_.getString(0)).toSet
    assert(families === Set("row_counts", "null_checks", "referential_integrity",
      "business_rules", "freshness"), families.toString)
    val checks = dq.select("check_name").collect().map(_.getString(0)).toSet
    assert(checks.contains("lineitem->supplier") && !checks.contains("orders->customer"))
    assert(dq.where(org.apache.spark.sql.functions.col("status") =!= "PASS").count() === 0)
  }

  test("incremental mode == from-scratch aggregates bit-for-bit; replay no-ops; " +
    "published change feeds reconstruct the profile") {
    import org.apache.spark.sql.functions._
    import graft.engine.Incremental
    import graft.sources.Versioned
    val out = Files.createTempDirectory("graft_incr").toString
    val o = graft.engine.Sources.orders(spark, sf).cache()
    val slices = Seq(
      col("o_orderdate") < lit("1995-01-01"),
      col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1997-01-01"),
      col("o_orderdate") >= lit("1997-01-01"))
    def assertSetEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(a.count() === b.count(), s"$what: row counts differ")
      assert(a.unionByName(b).distinct().count() === b.count(),
        s"$what: values differ from the from-scratch run")
    }
    slices.zipWithIndex.foreach { case (pred, i) =>
      val rs = Pipeline.runSalesIncrement(spark, o.where(pred), out, i.toLong)
      assert(rs.forall(_.status == "PASS"), rs.mkString("; "))
      val sofar = slices.take(i + 1).map(o.where).reduce(_ unionByName _)
      // bit-identity after EVERY batch, both maintained aggregates
      assertSetEqual(
        Incremental.finalize(Versioned.read(spark, s"$out/state_monthly_revenue")),
        Incremental.finalize(Incremental.monthlyRevenueState(sofar)),
        s"monthly revenue after batch $i")
      assertSetEqual(
        Incremental.finalizeCustomerProfile(
          Versioned.read(spark, s"$out/state_customer_profile")),
        Incremental.finalizeCustomerProfile(Incremental.customerProfileState(sofar)),
        s"customer profile after batch $i")
    }
    // at-least-once replay of the last batch: no new versions committed
    val vm = Versioned.latestVersion(spark, s"$out/state_monthly_revenue")
    val vp = Versioned.latestVersion(spark, s"$out/state_customer_profile")
    Pipeline.runSalesIncrement(spark, o.where(slices.last), out, 2L)
    assert(Versioned.latestVersion(spark, s"$out/state_monthly_revenue") === vm)
    assert(Versioned.latestVersion(spark, s"$out/state_customer_profile") === vp)
    // a downstream consumer replaying ONLY the published change feeds, in
    // order, lands on the exact final profile (upsert new_*, drop deletes)
    val feeds = spark.read.parquet(s"$out/cdf_customer_profile")
    var replayed = Incremental.finalizeCustomerProfile(
      Incremental.customerProfileState(o.limit(0)))
    (0L to 2L).foreach { b =>
      val f = feeds.where(col("batch") === b)
      replayed = replayed
        .join(f.select(col("customer_key")), Seq("customer_key"), "left_anti")
        .unionByName(f.where(col("change_type") =!= "delete")
          .select(col("customer_key"), col("new_order_count").as("order_count"),
            col("new_total_spent").as("total_spent")))
    }
    assertSetEqual(replayed,
      Incremental.finalizeCustomerProfile(
        Versioned.read(spark, s"$out/state_customer_profile")),
      "feed replay")
    o.unpersist()
  }

  test("supplier incremental mode: folded bridge reproduces the full silver " +
    "bit-for-bit after every batch; replay no-ops; feeds reconstruct") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Bronze, Incremental, Silver}
    import graft.sources.Versioned
    val out = Files.createTempDirectory("graft_sincr").toString
    val li = Bronze.lineitem(spark, sf).cache()
    val slices = (0 until 3).map(i => col("l_orderkey") % 3 === i)
    def silverOf(state: org.apache.spark.sql.DataFrame) =
      Silver.supplierPartsFromBridge(spark, sf,
        Incremental.finalizeSupplierBridge(state))
    def assertSetEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(a.count() === b.count(), s"$what: row counts differ")
      assert(a.unionByName(b).distinct().count() === b.count(),
        s"$what: values differ from the from-scratch run")
    }
    slices.zipWithIndex.foreach { case (pred, i) =>
      val rs = Pipeline.runSupplierIncrement(spark, li.where(pred), sf, out, i.toLong)
      assert(rs.forall(_.status == "PASS"), rs.mkString("; "))
      val sofar = slices.take(i + 1).map(li.where).reduce(_ unionByName _)
      // the maintained state, pushed through the SHARED finalize, equals the
      // from-scratch silver over the same prefix — windows included
      assertSetEqual(
        silverOf(Versioned.read(spark, s"$out/state_supplier_bridge")),
        silverOf(Incremental.supplierBridgeState(sofar)),
        s"supplier parts after batch $i")
    }
    // all three slices = the whole deduped lineitem, so the folded result
    // must equal the registered (oracle-checked) silver query exactly
    assertSetEqual(
      silverOf(Versioned.read(spark, s"$out/state_supplier_bridge")),
      Silver.supplierParts(spark, sf),
      "final state vs silver_supplier_parts")
    // at-least-once replay: no new version committed
    val v = Versioned.latestVersion(spark, s"$out/state_supplier_bridge")
    Pipeline.runSupplierIncrement(spark, li.where(slices.last), sf, out, 2L)
    assert(Versioned.latestVersion(spark, s"$out/state_supplier_bridge") === v)
    // replaying ONLY the published feeds, in order, reconstructs the final
    // silver (upsert new_*, drop deletes) — rank churn included
    val fin = Silver.supplierParts(spark, sf)
    val keys = Seq("supplier_key", "part_key")
    val valueCols = fin.columns.filterNot(keys.contains).toSeq
    val feeds = spark.read.parquet(s"$out/cdf_supplier_parts")
    var replayed = fin.limit(0)
    (0L to 2L).foreach { b =>
      val f = feeds.where(col("batch") === b)
      replayed = replayed
        .join(f.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(f.where(col("change_type") =!= "delete")
          .select(keys.map(col) ++
            valueCols.map(c => col(s"new_$c").as(c)): _*))
    }
    assertSetEqual(replayed, fin, "supplier feed replay")
    li.unpersist()
  }

  test("quality gate trips on an injected orphan key and on a stale table") {
    import org.apache.spark.sql.functions._
    val Q = graft.engine.Quality
    val base = Q.sourceTables(spark, sf)
    val names = Seq("orders", "customer")
    Q.assertAllOver(base, names) // clean fixture: gate passes
    // orphan: orders rows pointing at a customer key no customer has —
    // pre-r7 the gate unioned only 3 families and could not see this
    val orphaned: Q.TableResolver = {
      case "orders" => base("orders").unionByName(
        base("orders").limit(3).withColumn("o_custkey",
          lit(999999999L).cast(base("orders").schema("o_custkey").dataType)))
      case other => base(other)
    }
    val e1 = intercept[IllegalArgumentException] { Q.assertAllOver(orphaned, names) }
    assert(e1.getMessage.contains("referential_integrity"), e1.getMessage)
    // staleness: _ingested_at pushed a week before the pinned audit instant
    val stale: Q.TableResolver = {
      case "orders" => base("orders").withColumn("_ingested_at",
        lit(java.sql.Timestamp.valueOf("2001-12-25 00:00:00")))
      case other => base(other)
    }
    val e2 = intercept[IllegalArgumentException] { Q.assertAllOver(stale, names) }
    assert(e2.getMessage.contains("freshness"), e2.getMessage)
  }

  test("stage retries with delay and succeeds on a later attempt") {
    val out = Files.createTempDirectory("graft_retry").toString
    val cfg = engine.EngineConfig.defaults("dev")
      .copy(maxRetryAttempts = 3, retryDelaySeconds = 0.01)
    var calls = 0
    val r = Pipeline.stage(spark, cfg, "flaky", critical = false, out) {
      calls += 1
      if (calls < 3) sys.error(s"transient failure #$calls")
      engine.Bronze.region(spark, sf)
    }
    assert(r.status === "PASS" && r.attempts === 3 && r.rows === 5)
  }

  test("stage times out, cancels its job group, and records FAIL when non-critical") {
    val out = Files.createTempDirectory("graft_timeout").toString
    val cfg = engine.EngineConfig.defaults("dev")
      .copy(maxRetryAttempts = 1, retryDelaySeconds = 0.01, stageTimeoutSeconds = 1.5)
    val slow = org.apache.spark.sql.functions.udf { n: Long =>
      Thread.sleep(10000); n
    }
    val r = Pipeline.stage(spark, cfg, "too_slow", critical = false, out) {
      spark.range(4).select(slow(org.apache.spark.sql.functions.col("id")).as("id"))
    }
    assert(r.status === "FAIL" && r.error.exists(_.contains("timed out")), r.toString)
    assert(r.seconds < 8, s"timeout did not bound the stage: ${r.seconds}s")
  }

  test("EngineConfig loads configs/{env}.json with reference fallback defaults") {
    val prod = engine.EngineConfig.load("prod")
    assert(prod.maxRetryAttempts === 5 && prod.retryDelaySeconds === 300.0 &&
      prod.pipelineMode === "continuous" && prod.catalog === "prod_lakehouse")
    val dev = engine.EngineConfig.load("dev")
    assert(dev.maxRetryAttempts === 3 && dev.logLevel === "DEBUG")
    // unknown configs dir -> inline defaults (reference _context.py:33-43)
    val fb = engine.EngineConfig.load("stage", "/nonexistent")
    assert(fb.catalog === "stage_lakehouse" && fb.maxRetryAttempts === 3)
    intercept[IllegalArgumentException] { engine.EngineConfig.load("qa") }
  }

  test("batchId formats as batch_yyyyMMdd_HHmmss") {
    val id = Pipeline.batchId(java.time.ZonedDateTime.of(2026, 1, 2, 3, 4, 5, 0,
      java.time.ZoneOffset.UTC))
    assert(id === "batch_20260102_030405")
  }

  test("schema catalog: ensure is idempotent and scans accept the declared schema") {
    val out = Files.createTempDirectory("graft_ddl").toString
    Schemas.ensure(spark, "orders", s"$out/orders")
    Schemas.ensure(spark, "orders", s"$out/orders") // second call: no-op
    assert(spark.read.parquet(s"$out/orders").schema === Schemas.orders)
    // declared schema is read-compatible with the real fixture files
    val withSchema = spark.read.schema(Schemas.documents).parquet(s"$sf/documents.parquet")
    assert(withSchema.count() === 500)
  }
}
