package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Sources

/** Persisted, incrementally-maintainable LEXICAL (BM25) index — the
  * text-retrieval sibling of [[VectorIndex]]: the inverted postings a
  * production search stack keeps on disk, so indexing a 100-TB corpus is a
  * build/ingest cost paid once per document while search touches only the
  * query terms' postings. Every store rule here is the proven VectorIndex
  * discipline reused verbatim: per-`batch` partitions for replay-idempotent
  * ingest, CLUSTERED BY the join key so the store side of every search is
  * already hash-distributed, and [[VectorIndex.compactCore]]'s atomic
  * floor-pointer compaction over BOTH tables (a half-compacted store is
  * never readable).
  *
  * Store layout under `storePath`:
  *   - `postings/` — (token, doc_id, tf, dl) per document-term, an external
  *     table PARTITIONED BY (batch), CLUSTERED BY (token) INTO
  *     [[VectorIndex.geometryBuckets]] buckets
  *   - `stats/`    — one (n, t) row per batch: documents and total token
  *     mass. ADDITIVE, so corpus-level N and T are a sum over live rows —
  *     the same mergeable-state recipe as the statistics catalog.
  *
  * Why the search is bit-identical to [[Text.bm25TopKOf]] at any batching:
  * postings are unique per (token, doc) (each doc is ingested exactly
  * once — the caller contract of every dedup-upstream ingest here), tf/dl
  * are per-doc facts independent of batching, df is DERIVED from the
  * matched postings at search time (count of rows per token), and (N, T)
  * are additive sums. Every input to the integer-exact scoring tail is
  * therefore identical however the corpus arrived, and the tail itself is
  * shared code ([[Text.bm25Tail]]). TextIndexSpec pins build-vs-batch,
  * split-ingest-vs-batch, replay, and compaction bit-equality.
  */
object TextIndex {

  private[graft] def postingsTable(storePath: String): String =
    "graft_text_postings_" + VectorIndex.sha12(storePath)
  private[graft] def statsTable(storePath: String): String =
    "graft_text_stats_" + VectorIndex.sha12(storePath)

  private def ensureTables(spark: SparkSession, storePath: String): (String, String) = {
    val pTbl = postingsTable(storePath)
    val sTbl = statsTable(storePath)
    val fs = VectorIndex.fsOf(spark, storePath)
    // the postings table's on-disk parallelism, fixed at store creation
    def buckets = VectorIndex.geometryBuckets(spark, storePath)
    if (!spark.catalog.tableExists(pTbl)) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$storePath/postings"))
      spark.sql(
        s"""CREATE TABLE $pTbl (token STRING, doc_id BIGINT, tf BIGINT,
           |dl BIGINT, batch BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch)
           |CLUSTERED BY (token) INTO $buckets BUCKETS
           |LOCATION '$storePath/postings'""".stripMargin)
      spark.catalog.recoverPartitions(pTbl)
    }
    if (!spark.catalog.tableExists(sTbl)) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$storePath/stats"))
      spark.sql(
        s"""CREATE TABLE $sTbl (n BIGINT, t BIGINT, batch BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch)
           |LOCATION '$storePath/stats'""".stripMargin)
      spark.catalog.recoverPartitions(sTbl)
    }
    (pTbl, sTbl)
  }

  /** Live rows of a per-batch table under the store's compaction floor. */
  private def live(spark: SparkSession, storePath: String, tbl: String): DataFrame =
    spark.table(tbl)
      .where(VectorIndex.livePred(VectorIndex.compactState(spark, storePath)))

  /** Build from scratch over a (doc_id, text) corpus: wipe any prior store
    * at the path and load the corpus as batch 0. Idempotent clean
    * replace. */
  def build(spark: SparkSession, storePath: String, docs: DataFrame): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${postingsTable(storePath)}")
    spark.sql(s"DROP TABLE IF EXISTS ${statsTable(storePath)}")
    VectorIndex.fsOf(spark, storePath)
      .delete(new org.apache.hadoop.fs.Path(storePath), true)
    ensureTables(spark, storePath)
    ingest(spark, storePath, docs, 0L)
  }

  /** Fold a delta batch of documents into the index: ONE (doc, token)-grain
    * shuffle builds the batch's postings (the honest indexing cost — tf
    * needs the per-doc term counts), plus a one-row stats partition.
    * Replay-safe via dynamic partition overwrite of `batch=batchId` in
    * both tables. */
  def ingest(spark: SparkSession, storePath: String, delta: DataFrame,
             batchId: Long): Unit = {
    val (pTbl, sTbl) = ensureTables(spark, storePath)
    val nzTokens = filter(Text.tokens(col("text")), t => t =!= "")
    val posts = delta
      .select(col("doc_id"), size(nzTokens).cast("long").as("dl"),
        explode(Text.tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("batch", lit(batchId))
    graft.sources.DynamicOverwrite(spark) {
      posts.select("token", "doc_id", "tf", "dl", "batch")
        .write.mode("overwrite").insertInto(pTbl)
    }
    val st = delta.agg(count(lit(1)).as("n"),
        coalesce(sum(size(nzTokens)), lit(0)).cast("long").as("t"))
      .withColumn("batch", lit(batchId))
    graft.sources.DynamicOverwrite(spark) {
      st.select("n", "t", "batch").write.mode("overwrite").insertInto(sTbl)
    }
  }

  /** Compact both tables behind ONE atomic floor — the
    * [[VectorIndex.compactCore]] protocol; stats rows stay additive under
    * consolidation, so totals are unchanged by construction. */
  def compact(spark: SparkSession, storePath: String, upTo: Long): Unit = {
    val (pTbl, sTbl) = ensureTables(spark, storePath)
    VectorIndex.compactCore(spark, storePath, upTo, Seq(
      (pTbl, "postings", Seq("token", "doc_id", "tf", "dl")),
      (sTbl, "stats", Seq("n", "t"))))
  }

  /** Search-path store access: unlike build/ingest, a SEARCH must never
    * conjure an empty store out of a mistyped path and return zero rows
    * (ADVICE r10) — require the postings to exist (as a registered table
    * or on the filesystem, the cross-session case) before registering. */
  private def requireStore(spark: SparkSession, storePath: String): (String, String) = {
    val exists = spark.catalog.tableExists(postingsTable(storePath)) ||
      VectorIndex.fsOf(spark, storePath)
        .exists(new org.apache.hadoop.fs.Path(s"$storePath/postings"))
    require(exists,
      s"TextIndex store not found at $storePath — build()/ingest() it first")
    ensureTables(spark, storePath)
  }

  /** BM25 top-k search for a (qid, qtext) query batch against the store:
    * the tiny distinct-term set broadcasts into the postings scan (the
    * store side arrives bucket-distributed on `token` — no exchange on
    * the corpus however large the index), tf/dl come straight off the
    * matched postings (precomputed at ingest — no corpus re-aggregation
    * at search time, the point of having an index), df/N/T derive as
    * documented above, and the shared [[Text.bm25Tail]] finishes. */
  def search(spark: SparkSession, storePath: String, queries: DataFrame): DataFrame = {
    val (pTbl, _) = requireStore(spark, storePath)
    val qterms = Text.bm25QueryTerms(queries)
    val tf = withDf(live(spark, storePath, pTbl)
      .join(broadcast(qterms.select("token").distinct()), Seq("token"))
      .select("token", "doc_id", "tf", "dl"))
    val tots = live(spark, storePath, statsTable(storePath))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("t")), lit(0L)).as("t"))
    Text.bm25TailWithDf(qterms, tf, tots)
  }

  /** df counted over the bucketed postings where they stand (OPTIMIZATION
    * r16): the scan already clusters tokens (CLUSTERED BY token), so the
    * window needs no exchange — where the shared tail's groupBy+broadcast
    * form re-ran the match join + postings scan as its own broadcast-build
    * job per search. Values identical (df = tf rows per token). */
  private def withDf(tf: DataFrame): DataFrame =
    tf.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("token")))

  /** RM3 retrieval where BOTH probe passes ride the persisted postings —
    * the deployment shape [[Text.bm25Rm3Of]]'s scaladoc promises
    * (VERDICT r10 #5). The index makes the mining step BETTER than the
    * batch operator's: a doc's postings row (token, tf) IS its token-count
    * map, so expansion-term mass per (qid, token) is `SUM(tf)` over the
    * broadcast (qid, top-doc) list — identical to the batch count over the
    * exploded corpus token stream, with NO corpus rescan (the whole point
    * of an index: a 100-TB release never re-tokenizes to expand queries).
    * Bit-identity: pass 1 is [[search]] (proven ≡ batch); `etf` sums the
    * same per-doc term counts the batch arm counts row-by-row; ties break
    * on token order both sides; pass 2 shares [[Text.bm25WeightedTail]].
    * So this twin shares the batch RM3's DuckDB oracle.
    *
    * EAGER AT CONSTRUCTION (ADVICE r15): the expanded term set is
    * materialized (pass 1 + mining run as real jobs) when this method is
    * CALLED, not at the returned frame's first action — plan-only callers
    * ([[graft.PlanDump]]) pay the mining chain, and the returned plan's
    * leaves include a LocalRelation of the mined terms. */
  def searchRm3(spark: SparkSession, storePath: String, queries: DataFrame): DataFrame = {
    val (pTbl, _) = requireStore(spark, storePath)
    val posts = live(spark, storePath, pTbl)
    val qt = Text.bm25QueryTerms(queries)
    val tots = live(spark, storePath, statsTable(storePath))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("t")), lit(0L)).as("t"))
    val tf1 = withDf(posts
      .join(broadcast(qt.select("token").distinct()), Seq("token"))
      .select("token", "doc_id", "tf", "dl"))
    val first = Text.bm25TailWithDf(qt, tf1, tots).select("qid", "doc_id")
    val exp = posts.select("doc_id", "token", "tf")
      .join(broadcast(first), Seq("doc_id"))
      .join(qt, Seq("qid", "token"), "left_anti")
      .groupBy("qid", "token").agg(sum(col("tf")).as("etf"))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("etf").desc, col("token"))))
      .where(col("_rk") <= Text.Rm3ExpTerms)
      .select(col("qid"), col("token"), lit(Text.Rm3ExpWeightPpm).as("w"))
    // the expanded term set is consumed TWICE (the tf2 broadcast-distinct
    // and the weighted tail's scoring join); as a lazy plan each consumer
    // re-runs the whole mining chain — postings scan, first-pass broadcast,
    // per-qid window. It is ≤ |queries|·(terms + Rm3ExpTerms) rows, so
    // materialize it once as a local relation (OPTIMIZATION r15; the same
    // bounded-control-plane contract as the query batch itself).
    val qt2Lazy = qt.withColumn("w", lit(1000000L)).unionByName(exp)
    val qt2 = spark.createDataFrame(
      java.util.Arrays.asList(qt2Lazy.collect(): _*), qt2Lazy.schema)
    val tf2 = withDf(posts
      .join(broadcast(qt2.select("token").distinct()), Seq("token"))
      .select("token", "doc_id", "tf", "dl"))
    Text.bm25WeightedTailWithDf(qt2, tf2, tots)
  }

  // ----------------------------------------------------- registered twins

  private def storeFor(spark: SparkSession, dir: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")}" +
      s"/graft_textindex_${VectorIndex.sha12(dir)}"

  /** The (session, corpus)-memoized store: built at most once per session,
    * every later caller searches it as-is — the deployment contract the
    * search-only arms and the indexed hybrid measure. */
  private[ext] def sessionStore(spark: SparkSession, dir: String): String = {
    val store = storeFor(spark, dir)
    SessionOnce(store)(build(spark, store, Sources.documents(spark, dir)))
    store
  }

  /** Registered end-to-end twin: build the index for `dir`'s documents in
    * a warehouse-scoped scratch store, then search the fixture query set —
    * bit-identical to `text_bm25_topk`, so it shares that DuckDB oracle.
    * The rebuild-each-run is the verification harness's idempotence, not
    * the deployment shape. */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val store = storeFor(spark, dir)
    val docs = Sources.documents(spark, dir)
    build(spark, store, docs)
    SessionOnce.markBuilt(store)
    search(spark, store, Text.bm25FixtureQueries(docs))
  }

  /** Registered SEARCH-ONLY twin (same contract as the PQ index's search
    * arm): the store is built at most once per (session, corpus); every
    * call is a pure search of a FIXED [[Text.Bm25SearchQueries]]-query
    * batch, so THIS arm's bench number is the deployment search cost —
    * bounded query batch against the full index, no one-time indexing and
    * no corpus-proportional query growth conflated in. Its oracle is the
    * batch operator's SQL with the same bounded query set. */
  def bm25IndexedSearch(spark: SparkSession, dir: String): DataFrame =
    search(spark, sessionStore(spark, dir),
      Text.bm25BoundedQueriesShared(spark, dir))

  /** Registered RM3 deployment twin: [[searchRm3]] over the session store
    * with the same bounded query batch as `text_bm25_rm3` — bit-identical
    * to it, so it shares that oracle; its bench number is the per-batch
    * PRF search cost with zero corpus rescans. */
  def bm25Rm3Indexed(spark: SparkSession, dir: String): DataFrame =
    searchRm3(spark, sessionStore(spark, dir),
      Text.bm25BoundedQueriesShared(spark, dir))
}
