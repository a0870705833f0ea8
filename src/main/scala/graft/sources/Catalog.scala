package graft.sources

import org.apache.spark.sql.SparkSession
import graft.engine.{Bronze, Gold, Quality, Silver, Sources}

/** Temp-view registration — the reference's `CREATE OR REPLACE TEMPORARY
  * VIEW tv_X AS …` staging surface (reference: src/extract/extract_orders
  * .py:25-67, 23 occurrences) and the `spark.sql` entry path.
  *
  * A temp view is just a named logical plan: registering these exposes every
  * layer to SQL verbatim (`spark.sql("SELECT … FROM silver_order_details")`)
  * with zero materialization — Catalyst inlines the view chain exactly like
  * the reference's analyzer does (SURVEY.md §3.2). */
object Catalog {

  /** Raw fixture tables under their bare names + bronze/silver layers under
    * layer-prefixed names. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    Schemas.all.keys.foreach { t =>
      // events needs its ns→µs normalization; route through Sources
      val df = t match {
        case "events" => Sources.events(spark, dir)
        case "orders" => Sources.orders(spark, dir)
        case "lineitem" => Sources.lineitem(spark, dir)
        case other => Parquet.read(spark, s"$dir/$other.parquet")
      }
      df.createOrReplaceTempView(t)
    }
    Bronze.orders(spark, dir).createOrReplaceTempView("bronze_orders")
    Bronze.lineitem(spark, dir).createOrReplaceTempView("bronze_lineitem")
    Bronze.customer(spark, dir).createOrReplaceTempView("bronze_customer")
    Bronze.supplier(spark, dir).createOrReplaceTempView("bronze_supplier")
    Bronze.part(spark, dir).createOrReplaceTempView("bronze_part")
    Bronze.nation(spark, dir).createOrReplaceTempView("bronze_nation")
    Bronze.region(spark, dir).createOrReplaceTempView("bronze_region")
    val od = Silver.orderDetails(spark, dir)
    od.createOrReplaceTempView("silver_order_details")
    Silver.customerOrders(spark, dir).createOrReplaceTempView("silver_customer_orders")
    Silver.supplierParts(spark, dir).createOrReplaceTempView("silver_supplier_parts")
    // gold analytical views under the reference's published names
    // (reference: src/schemas/create_views_schemas.py:17, vw_*.py:20-21 —
    // `CREATE OR REPLACE VIEW vw_X` is how its BI consumers address the
    // gold layer; temp views are the same named-logical-plan surface)
    Gold.revenueByRegion(od, Silver.customerGeo(spark, dir))
      .createOrReplaceTempView("gold_revenue_by_region")
    Gold.customerLifetimeValue(Silver.customerOrders(spark, dir), od)
      .createOrReplaceTempView("gold_customer_lifetime_value")
    Gold.supplierPerformance(Silver.supplierParts(spark, dir), od)
      .createOrReplaceTempView("gold_supplier_performance")
    Gold.monthlySalesTrends(od)
      .createOrReplaceTempView("gold_monthly_sales_trends")
    // data-quality check families — queryable like any other table, so an
    // operator can `SELECT * FROM quality_null_checks WHERE status='FAIL'`
    Quality.rowCounts(spark, dir).createOrReplaceTempView("quality_row_counts")
    Quality.nullChecks(spark, dir).createOrReplaceTempView("quality_null_checks")
    Quality.referentialIntegrity(spark, dir)
      .createOrReplaceTempView("quality_referential_integrity")
    Quality.businessRules(spark, dir).createOrReplaceTempView("quality_business_rules")
    Quality.freshness(spark, dir).createOrReplaceTempView("quality_freshness")
    // the corpus product surface — an analyst addresses the training-data
    // reports the same way as the warehouse layers (`SELECT * FROM
    // corpus_data_card`, `... WHERE NOT agrees`); each view is the SAME
    // lazy plan the registered query runs
    graft.ext.Text.gopherRules(spark, dir)
      .createOrReplaceTempView("text_gopher_rules")
    graft.ext.Text.nbQuality(spark, dir)
      .createOrReplaceTempView("text_nb_quality")
    graft.ext.Text.lmScore(spark, dir).createOrReplaceTempView("text_lm_score")
    graft.ext.Corpus.qualitySample(spark, dir)
      .createOrReplaceTempView("corpus_quality_sample")
    graft.ext.Corpus.dataCard(spark, dir)
      .createOrReplaceTempView("corpus_data_card")
    graft.functions.Native.register(spark)
  }

  /** The LLM-kit DEPLOYMENT products as temp views (VERDICT r11 #7) — the
    * reference's "query everything by name" surface
    * (create_views_schemas.py:17) extended to the extension kit: release
    * manifest, retrieval-quality audit, ANN recall audit, and the media
    * fingerprint store all addressable from `spark.sql`. Separate from
    * [[registerAll]] because these registrations are NOT free: the
    * manifest/fingerprint views build the session fingerprint store
    * (decode-once), and the recall audit computes eagerly by design (its
    * result is a handful of localized rows — see
    * [[graft.ext.Similarity.recallAuditSampled]]). */
  def registerExtensions(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.lit
    graft.ext.Corpus.releaseManifest(spark, dir)
      .createOrReplaceTempView("corpus_release_manifest")
    graft.ext.Hybrid.retrievalQuality(spark, dir)
      .createOrReplaceTempView("text_retrieval_quality")
    graft.ext.Similarity.recallAuditSampled(spark, dir)
      .createOrReplaceTempView("sim_recall_audit")
    graft.ext.Similarity.embeddingTableChecks(spark, dir)
      .createOrReplaceTempView("quality_embeddings")
    // round-13 products: the deployment sketch probe and the
    // reduce-then-index ANN — both store/model-backed, both cheap reads
    graft.ext.Text.cmsIndexed(spark, dir)
      .createOrReplaceTempView("text_cms_indexed")
    graft.ext.Similarity.annIvfRp(spark, dir)
      .createOrReplaceTempView("sim_ann_ivf_rp")
    val store = graft.ext.FpStore.sessionStore(spark, dir)
    graft.ext.Multimodal.dupModalities.map { case (m, _, _) =>
      graft.ext.FpStore.fingerprints(spark, store, m).toDF()
        .withColumn("modality", lit(m))
    }.reduce(_ unionByName _)
      .createOrReplaceTempView("media_fingerprints")
  }
}
