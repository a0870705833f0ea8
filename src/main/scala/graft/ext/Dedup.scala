package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Num, Sources}
import Num._

/** Deduplication suite over `documents` / `embeddings` — the operators a
  * training-data pipeline runs to drop exact and near duplicates:
  *
  *  - exact:        md5 grouping (one shuffle on the hash)
  *  - n-gram:       word-shingle Jaccard via shared-shingle candidate join —
  *                  no all-pairs blowup: only pairs sharing ≥1 shingle meet
  *  - MinHash+LSH:  32 permutations → 8 bands × 4 rows → bucket join →
  *                  exact-Jaccard verification of candidates only
  *  - SimHash:      32-bit weighted signature → 4×8-bit chunk pigeonhole join
  *                  (any pair at hamming ≤ 3 shares a chunk) → bit_count verify
  *  - embedding:    exact pairwise cosine (the correctness baseline; the
  *                  scale path is the LSH-bucketed ANN in [[Similarity]])
  *
  * Scale shape: every variant is explode → hash-shuffle on a small key
  * (shingle / band bucket / chunk) → verify on candidates. Nothing materializes
  * the O(n²) pair space except the embedding baseline, which exists to measure
  * the ANN variant's recall. All constants are shared with the DuckDB twins in
  * [[graft.OraclesExt]] via this object (single source of truth).
  */
object Dedup {

  // ----------------------------------------------------- shared constants
  val P = 2147483647L               // 2³¹−1, Mersenne prime — mod keeps hashes in 31 bits
  val ShingleK = 3                  // words per shingle
  val MinhashK = 32                 // permutations
  val Bands = 8                     // 8 bands × 4 rows = 32
  val RowsPerBand: Int = MinhashK / Bands
  val JaccardThreshold = 0.5
  val SimhashBits = 32
  val SimhashMaxHamming = 2
  val SimhashChunks = 4             // 8-bit chunks; pigeonhole covers hamming ≤ 3
  val CosineThreshold = 0.45

  /** Lehmer LCG (seed 42, multiplier 48271 mod P) — the (aᵢ, bᵢ) of the 32
    * minhash permutations hᵢ(x) = (aᵢ·x + bᵢ) mod P. Deterministic and
    * emitted verbatim into the oracle SQL. */
  val Perms: Seq[(Long, Long)] = {
    var x = 42L
    def next(): Long = { x = x * 48271 % P; x }
    Seq.fill(MinhashK)((next(), next()))
  }

  // ----------------------------------------------------- shared primitives

  /** Distinct word `ShingleK`-shingles of a text column, as one row per
    * (doc_id, shingle). Empty tokens keep their position (parity with
    * `string_split`); docs shorter than K words produce no shingles. */
  def shingles(docs: DataFrame, k: Int = ShingleK): DataFrame = {
    val t = Text.tokens(col("text"))
    // shingle i = tokens[i..i+K): build via transform over index range
    val idx = sequence(lit(0), size(t) - k)
    docs
      .where(size(t) >= k)
      .select(col("doc_id"),
        explode(array_distinct(transform(idx,
          i => concat_ws(" ", slice(t, i + 1, lit(k)))))).as("shingle"))
  }

  /** 31-bit shingle hash — [[Text.rollingHash]] of the shingle string. */
  def shingleHashes(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), Text.rollingHash(col("shingle")).as("h"))

  // ------------------------------------------------------------- queries

  /** Exact dedup: md5-hash groups with canonical (min) doc id. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .groupBy(md5(col("text")).as("md5_hex"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus itself (what a pipeline actually materializes):
    * keep the lowest doc_id of every exact-duplicate group — the reference's
    * W1 keep-one window applied to content identity. */
  def canonicalCorpus(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Sources.documents(spark, dir)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Near-dup-filtered corpus: drop every doc that appears as the HIGHER id
    * of a MinHash-LSH verified pair (keep-lowest survivor rule — transitive
    * chains collapse toward the smallest id). One anti-join against the
    * pair set; at 100 TB the pair set is tiny relative to the corpus. */
  def nearDupFiltered(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .join(minhashLshPairs(spark, dir).select(col("doc_b")),
        col("doc_id") === col("doc_b"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")

  /** Document-frequency cap for n-gram candidate generation: shingles seen
    * in more than this many documents (stopword runs, boilerplate) are
    * excluded from the shared-shingle JOIN — the Σ df² term the join pays is
    * quadratic in the hottest bucket, so at 100 TB uncapped candidate
    * generation dies on exactly those shingles. The JACCARD VALUE stays
    * exact (full sets in the verify); only candidate discovery is capped. */
  val MaxShingleDf = 128

  /** n-gram Jaccard near-dup pairs at τ = [[JaccardThreshold]].
    *
    * Staged so no hot shingle bucket can blow up the join at any scale:
    *  1. candidates: shared-shingle equi-join over RARE shingles only
    *     (df ≤ [[MaxShingleDf]]) — Σ df² with df capped;
    *  2. prune: jaccard UPPER BOUND from the rare-shared count + each doc's
    *     hot-shingle count (shared_all ≤ shared_rare + min(hot_a, hot_b));
    *  3. exact arm: for pairs where NEITHER doc owns a hot shingle,
    *     shared_rare IS shared_all, so the bound IS the exact jaccard —
    *     emitted directly, no second pass. On real corpora this is the
    *     overwhelming majority of candidates;
    *  4. verify arm: pairs touching any hot shingle get the exact full-set
    *     Jaccard ([[jaccardVerify]] — same exactness contract as LSH).
    *
    * A true pair escapes only if EVERY shared shingle is hot — the same
    * "declared approximation" contract as LSH banding; the DuckDB twin
    * replays the identical capped algorithm, and DedupSpec pins capped ==
    * uncapped on the fixture's df distribution. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    // df via a window keyed on shingle: the self-join below shuffles on the
    // same key, so Catalyst reuses one exchange for both
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    // no cache: the three consumers (sizes + both self-join sides) share the
    // window's shingle-keyed exchange via AQE stage reuse — a cache here
    // adds a materialization barrier and pins 32 partitions for no benefit
    val withDf = shingles(docs).withColumn("df", count(lit(1)).over(w))
    val sizes = withDf.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      count(when(col("df") > MaxShingleDf, 1)).as("n_hot"))
    val rare = withDf.where(col("df") <= MaxShingleDf).select("doc_id", "shingle")
    val sharedRare = rare.as("a").join(rare.as("b"), Seq("shingle"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_rare"))
    val ubShared = col("shared_rare") + least(col("hot_a"), col("hot_b"))
    // persist the PRUNED candidate set (OPTIMIZATION r16): it is consumed
    // by the exact arm AND (3 ways) inside the verify arm, and each lazy
    // consumer re-ran the whole rare-shingle self-join chain. Bounded by
    // the same contract as the LSH candidate pin: the upper-bound prune
    // exists to make this set a vanishing fraction of the pair space.
    val cand = sharedRare
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"), col("n_hot").as("hot_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("n_hot").as("hot_b")), "doc_b")
      .where(ubShared.cast("double") / (col("na") + col("nb") - ubShared) >= JaccardThreshold)
      .persist()
    val exactArm = cand.where(col("hot_a") === 0 && col("hot_b") === 0)
      .withColumn("jaccard", r(col("shared_rare").cast("double")
        / (col("na") + col("nb") - col("shared_rare")), 6))
      .where(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
    val verifyArm = jaccardVerify(docs,
      cand.where(col("hot_a") > 0 || col("hot_b") > 0).select("doc_a", "doc_b"))
    exactArm.unionByName(verifyArm)
  }

  /** A chunk present in MORE than this many distinct documents is
    * boilerplate (headers, footers, license blocks). */
  val BoilerplateDf = 2L

  /** Cross-document BOILERPLATE detection — C4's "repeated lines across
    * documents" filter at chunk grain: a [[ChunkTokens]]-token span present
    * in more than [[BoilerplateDf]] DISTINCT documents is template text,
    * not content (distinct-doc frequency, deliberately different from
    * [[chunkSpans]]' occurrence count: within-doc repetition is the
    * repetition filter's business, cross-doc repetition is boilerplate).
    * Per document: chunk count, boilerplate-chunk count, fraction, flag —
    * the columns a cleaning stage keys a strip/drop decision on.
    *
    * Scale shape: one chunk-keyed shuffle for the df table + one join back
    * on the same key (exchange reuse) + a doc-grain agg. The df table is
    * chunk-grain; truly hot boilerplate chunks fan back out only to their
    * own occurrences. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — [[boilerplate]] over ANY (doc_id, text) frame.
    * Docs shorter than one chunk have no spans to template-match and drop
    * out (same domain as [[chunkSpans]]). */
  def boilerplateOf(docs: DataFrame): DataFrame = {
    val occ = chunkOcc(chunkBase(docs))
    val cdf = occ.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("cdf"))
    occ.join(cdf, "chunk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cdf") > BoilerplateDf, 1L).otherwise(0L))
          .as("n_boilerplate_chunks"))
      .withColumn("boilerplate_fraction",
        r(col("n_boilerplate_chunks").cast("double") / col("n_chunks"), 4))
      .withColumn("has_boilerplate", col("n_boilerplate_chunks") > 0)
  }

  /** Containment near-dup threshold: |A ∩ B| / min(|A|, |B|). */
  val ContainmentThreshold = 0.7

  /** Shingle-CONTAINMENT pairs at τ = [[ContainmentThreshold]] — the
    * asymmetric dedup measure Jaccard structurally misses: a short document
    * quoted whole inside a much longer one has tiny Jaccard (the union is
    * dominated by the long doc) but containment ≈ 1 for the short side.
    * Emitted per pair: containment = shared / min(|A|, |B|) (the smaller
    * side's coverage) plus the Jaccard for context — a scrub stage drops or
    * rewrites the contained side.
    *
    * Same capped candidate machinery as [[ngramJaccardPairs]] (rare-shingle
    * join, upper-bound prune, exact arm where no hot shingle is involved,
    * full-set verify for the rest), so the Σ df² bound and the declared
    * hot-only-escape contract carry over unchanged. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — [[containmentPairs]] over ANY (doc_id, text)
    * frame. */
  def containmentPairsOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val withDf = shingles(docs).withColumn("df", count(lit(1)).over(w))
    val sizes = withDf.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      count(when(col("df") > MaxShingleDf, 1)).as("n_hot"))
    val rare = withDf.where(col("df") <= MaxShingleDf).select("doc_id", "shingle")
    val sharedRare = rare.as("a").join(rare.as("b"), Seq("shingle"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_rare"))
    val ubShared = col("shared_rare") + least(col("hot_a"), col("hot_b"))
    // pruned-candidate pin — same grounds as [[ngramJaccardPairs]]'s (r16)
    val cand = sharedRare
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"), col("n_hot").as("hot_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("n_hot").as("hot_b")), "doc_b")
      .where(ubShared.cast("double") / least(col("na"), col("nb")) >= ContainmentThreshold)
      .persist()
    def emit(shared: Column): Seq[Column] = Seq(
      r(shared.cast("double") / least(col("na"), col("nb")), 6).as("containment"),
      r(shared.cast("double") / (col("na") + col("nb") - shared), 6).as("jaccard"))
    val exactArm = cand.where(col("hot_a") === 0 && col("hot_b") === 0)
      .select(Seq(col("doc_a"), col("doc_b")) ++ emit(col("shared_rare")): _*)
      .where(col("containment") >= ContainmentThreshold)
    val verifyArm = containmentVerify(docs,
      cand.where(col("hot_a") > 0 || col("hot_b") > 0).select("doc_a", "doc_b"))
    exactArm.unionByName(verifyArm)
  }

  /** Full-set containment verify of candidate pairs — the same
    * set-intersection core as [[jaccardVerify]] (see [[verifyOverSets]]). */
  private def containmentVerify(docsDf: DataFrame, candidates: DataFrame): DataFrame =
    verifyOverSets(docsDf, candidates) { shared =>
      Seq(r(shared.cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"),
        r(shared.cast("double") / (col("na") + col("nb") - shared), 6)
          .as("jaccard"))
    }
      .where(col("containment") >= ContainmentThreshold)
      .select("doc_a", "doc_b", "containment", "jaccard")

  /** Per-doc minhash signature as an array column `mh` — ONE map-side
    * codegen pass ([[graft.functions.ShingleMinhash]]): no shingle explode,
    * no shuffle. Docs with < K tokens (no shingles) drop out, matching the
    * explode/groupBy formulation. */
  def minhashSignatureArray(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.Minhash.shingleMinhash(
          Text.tokens(col("text")), ShingleK, Perms).as("mh"))
      .where(col("mh").isNotNull)

  /** Per-doc minhash signature (one column per permutation, `mh0..mh31`). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignatureArray(Sources.documents(spark, dir))
      .select(col("doc_id") +:
        (0 until MinhashK).map(i => element_at(col("mh"), i + 1).as(s"mh$i")): _*)

  /** Band bucket = left fold of the band's minhashes (read from the `mh`
    * array): acc ← (acc·1000003 + mh) mod P (stays < 2⁵² pre-mod). */
  private def bandBucket(band: Int): Column =
    (0 until RowsPerBand).foldLeft(lit(0L): Column) {
      (acc, r) => (acc * 1000003L + element_at(col("mh"), band * RowsPerBand + r + 1)) % P
    }

  /** MinHash-LSH near-dup pairs: band-bucket candidates, then exact-Jaccard
    * verification of candidates only (the planted near-dups at J ≥ 0.8 have
    * ≥ 98.5% per-pair collision probability with 8×4 banding; both engines
    * compute identical bands, so the result set is deterministic).
    *
    * Pipeline shape at scale: signatures are map-only (fused codegen kernel),
    * so the FIRST shuffle is the band-bucket join at 8 rows/doc, and the
    * shingle explode happens only for the candidate docs the verify needs. */
  /** (doc_id, band, bucket) LSH index rows for `docs` — 8 rows/doc, straight
    * off the fused signature kernel (map-only until the explode). This is
    * the unit a STREAMING ingester appends to its dedup store. */
  def bandBuckets(docs: DataFrame): DataFrame =
    minhashSignatureArray(docs).select(col("doc_id"),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), bandBucket(b).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairsOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — MinHash-LSH near-dup pairs over ANY (doc_id, text)
    * frame, so a pipeline can run the text arm on the corpus it actually
    * ships (the scrubbed frame), not the raw lake (ADVICE r10). */
  def minhashLshPairsOf(docs: DataFrame): DataFrame = {
    // The band self-join's two SIDES share one exchange via AQE reuse (no
    // cache needed there — identical subplans). But `candidates` itself is
    // consumed THREE ways inside jaccardVerify (doc-id union ×2 + the pair
    // join), each under a differently-shaped parent, so AQE does NOT reuse
    // the distinct's exchange across them — unpinned, the whole band-join
    // pipeline recomputes per consumer (measured 4.6 s -> 10.9 s when the
    // pin was dropped in r5). Persist exactly this frame: it is the pair
    // CANDIDATE set — thousands of rows at any corpus size (LSH exists to
    // make it so), never the corpus. Bench's per-query clearCache() frees it.
    val bands = bandBuckets(docs)
    val candidates = bands.as("x").join(bands.as("y"), Seq("band", "bucket"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .persist()
    // exact verification on candidates only
    jaccardVerify(docs, candidates)
  }

  /** Exact Jaccard of each candidate (doc_a, doc_b) pair, keeping pairs at
    * τ ≥ [[JaccardThreshold]]. Set-intersection form (OPTIMIZATION r16):
    * one row per CANDIDATE DOC carrying its full shingle set as an array,
    * then two broadcast joins attach both sides' sets to each pair and the
    * shared count is a map-side `array_intersect` — exact on these inputs
    * because [[shingles]] emits each doc's DISTINCT shingles. The previous
    * formulation joined pair × shingle rows on (doc, shingle) — 3
    * recomputes of the explode subtree (sizes + both join sides) and ~7
    * exchanges per verify; this is 1 explode, 1 doc-grain exchange, 0
    * pair-grain exchanges (measured: minhashLshPairs 3.0 → 2.1 s min).
    * The sets frame is bounded by the same contract that already lets
    * `docIds` broadcast: candidate docs are a vanishing fraction of the
    * corpus (LSH/the df-cap exist to make them so), and each row's array
    * is bounded by its own document's length — the broadcast carries the
    * candidate docs' text mass, which is what the old shape shuffled. */
  private[graft] def jaccardVerify(docsDf: DataFrame, candidates: DataFrame): DataFrame =
    verifyOverSets(docsDf, candidates) { shared =>
      Seq(r(shared.cast("double") / (col("na") + col("nb") - shared), 6)
        .as("jaccard"))
    }
      .where(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Shared candidate-verify core: attach both candidate docs' shingle
    * sets, compute `shared` = |A ∩ B| map-side, and emit the caller's
    * measure columns over (na, nb, shared). `sets` is persisted so the two
    * broadcast builds evaluate the explode once (the same multi-consumer
    * pin as `candidates` itself; bench/session teardown reclaims it). */
  private def verifyOverSets(docsDf: DataFrame, candidates: DataFrame)
                            (measures: Column => Seq[Column]): DataFrame = {
    val docIds = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val sets = shingles(docsDf.join(broadcast(docIds), Seq("doc_id"), "left_semi"))
      .groupBy("doc_id")
      .agg(collect_list(col("shingle")).as("sh"), count(lit(1)).as("n"))
      .persist()
    val shared = size(array_intersect(col("sha"), col("shb"))).cast("long")
    candidates
      .join(broadcast(sets.select(col("doc_id").as("doc_a"),
        col("sh").as("sha"), col("n").as("na"))), "doc_a")
      .join(broadcast(sets.select(col("doc_id").as("doc_b"),
        col("sh").as("shb"), col("n").as("nb"))), "doc_b")
      .select(Seq(col("doc_a"), col("doc_b")) ++ measures(shared): _*)
  }

  /** 32-bit SimHash per document: token-hash bit votes weighted by
    * occurrence (sum of ±1 per bit over all token instances). */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val toks = Sources.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .where(col("t") =!= "")
      .select(col("doc_id"), Text.rollingHash(col("t")).as("h"))
    val bitCols = (0 until SimhashBits).map { j =>
      when(sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
        lit(1L << j)).otherwise(lit(0L)).as(s"b$j")
    }
    toks.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(j => col(s"b$j")).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs at hamming ≤ [[SimhashMaxHamming]], candidates by
    * 8-bit chunk pigeonhole (4 chunks cover hamming ≤ 3 ⊇ ≤ 2). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = simhashSignatures(spark, dir) // groupBy-ending: exchange reused
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashChunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 8).bitwiseAND(255).as("v"))): _*)).as("cv"))
      .select(col("doc_id"), col("simhash"), col("cv.chunk").as("chunk"), col("cv.v").as("v"))
    chunks.as("x").join(chunks.as("y"), Seq("chunk", "v"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= SimhashMaxHamming)
  }

  /** Near-duplicate CLUSTERS: connected components over the MinHash-LSH pair
    * graph, so transitive chains (a~b, b~c) collapse into one group with one
    * canonical id — the grouping a pipeline needs to keep exactly one survivor
    * per duplicate family (pairs alone can't express chains).
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING — every
    * node adopts the minimum label among itself and its neighbors, then
    * label(x) ← label(label(x)) (path halving), so a chain of length d
    * converges in O(log d) rounds rather than d. Each round is two equi-joins
    * + one min-aggregate, all keyed on doc ids (no single-task step
    * anywhere); the per-round convergence check is a scalar count. Labels
    * are cached per round to cut lineage (at 100 TB: localCheckpoint).
    * Jumping preserves the invariant that a node's label is always a member
    * of its own component (the label's label lives in the same component and
    * is ≤), so the fixpoint is the component minimum either way.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    componentsOf(
      Sources.documents(spark, dir).select("doc_id"),
      // componentsOf reads the pair set twice (the undirected union with its
      // swap); pin it — it is the VERIFIED near-dup pair set, tiny at any
      // corpus size — so the LSH+verify pipeline runs once, not twice
      minhashLshPairs(spark, dir).select("doc_a", "doc_b").persist())
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))

  /** Connected components of (`nodes.doc_id`, undirected `pairs`) —
    * (doc_id, cluster_id = component minimum). Separated from [[clusters]]
    * so the convergence behavior is unit-testable on synthetic graphs. */
  private[graft] def componentsOf(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // Both edges AND each round's labels MUST be plan LEAVES (lazy
    // localCheckpoint — justified here, unlike the ranks, because the
    // convergence LOOP genuinely needs an action per round). Dataset
    // construction analyzes its whole tree eagerly, the round plans
    // reference edges every round, and persist() does NOT truncate the
    // logical plan — only a checkpoint leaf does. Measured on a 500-doc
    // graph: untruncated labels = 2^rounds blowup (49 s); truncated labels
    // but persisted-only edges still re-analyzed the entire upstream LSH
    // pipeline several times per round (31 s of driver-side plan analysis
    // vs 0.08 s of execution). With both as leaves: sub-second.
    //
    // Round discipline (the round-4 regression was violating both rules):
    //  1. `next` is checkpointed BEFORE the pointer-jump self-join —
    //     otherwise the two join sides each evaluate the round's
    //     edges⋈labels pass, doubling every round's work.
    //  2. Checkpoint RDDs of superseded rounds are UNPERSISTED — a lazy
    //     localCheckpoint pins its RDD in the storage pool forever;
    //     5-20 convergence rounds were accumulating that many stale label
    //     sets (at 100 TB label sets are corpus-sized: a genuine leak).
    val sc = nodes.sparkSession.sparkContext
    def checkpointLeaf(df: DataFrame): (DataFrame, scala.collection.Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val leaf = df.localCheckpoint(false)
      (leaf, sc.getPersistentRDDs.keySet.diff(before))
    }
    def free(ids: scala.collection.Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    val (edges, edgeIds) = checkpointLeaf(pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    var (labels, labelIds) = checkpointLeaf(
      nodes.select(col("doc_id"), col("doc_id").as("cluster_id")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) {
      // one neighbor-min pass per round; the convergence signal rides on the
      // SAME action that materializes the round's labels (a separate isEmpty
      // probe would run the edges⋈labels join a second time per round)
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id")), "doc_b")
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val (next, nextIds) = checkpointLeaf(
        labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("cluster_id"),
            (col("nbr_min") < col("cluster_id")).as("_chg")))
      val changed = // materialize + count improved labels in one job
        next.agg(count(when(col("_chg"), 1))).first().getLong(0)
      if (changed == 0) { // fixpoint: next ≡ labels; skip the jump entirely
        free(nextIds)
        converged = true
      } else if (rounds == 0) {
        // defer pointer jumping until a SECOND improving round
        // (OPTIMIZATION r16): near-dup duplicate families are typically
        // STARS around their minimum (LSH pairs every member with the
        // survivor), so one min-propagation already labels everything and
        // round 1 merely confirms changed == 0 — a round-0 jump is then a
        // no-op that costs a checkpoint + an action (measured: 2 rounds,
        // jump changed nothing, ~0.4 s/query). A deep chain makes round 1
        // improve again, which turns jumping on from there — one extra
        // propagation round at most, the O(log d) bound intact.
        free(labelIds)
        labels = next.select("doc_id", "cluster_id"); labelIds = nextIds
      } else {
        // pointer jump: label(x) <- label(label(x)) — labels are doc ids, so
        // the parent lookup is a self-equi-join on the CHECKPOINTED leaf
        // (both sides read the materialized rows; nothing recomputes)
        val (jumped, jumpedIds) = checkpointLeaf(next
          .join(next.select(col("doc_id").as("_pid"), col("cluster_id").as("_pcid")),
            col("cluster_id") === col("_pid"), "left")
          .select(col("doc_id"),
            coalesce(col("_pcid"), col("cluster_id")).as("cluster_id")))
        jumped.count() // materialize so the inputs below can be freed
        free(labelIds); free(nextIds)
        labels = jumped; labelIds = jumpedIds
      }
      rounds += 1
    }
    // the returned labels leaf is materialized (every round's checkpoint
    // rode a counting action), so the edge set is no longer reachable from
    // it — free the corpus-sized edges checkpoint now rather than pinning
    // it for session life. The labels checkpoint itself stays pinned by
    // design: it backs the returned frame.
    free(edgeIds)
    labels.select("doc_id", "cluster_id")
  }

  /** Embedding near-dup pairs: exact pairwise cosine ≥ [[CosineThreshold]].
    * O(n²) by definition — the correctness baseline for [[Similarity]]'s ANN;
    * at scale run the ANN and only verify its candidates. Norms are
    * precomputed once per vector; dot products fold left in index order for
    * bitwise oracle parity. */
  def embeddingCosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.withNorm(Sources.embeddings(spark, dir))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    a.crossJoin(b).where(col("vec_a") < col("vec_b"))
      .withColumn("cosine", r(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .where(col("cosine") >= CosineThreshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Tokens per span for [[chunkSpans]] — the grain at which exact substring
    * dedup is approximated (Lee et al. use 50-token spans on real corpora;
    * the fixture's docs are 10-100 tokens, so 10 keeps the check non-vacuous). */
  val ChunkTokens = 10

  /** Exact span dedup at fixed chunk grain — the tractable approximation of
    * Lee et al. (arXiv:2107.06499) suffix-array substring dedup: cut every
    * doc into non-overlapping [[ChunkTokens]]-token chunks and flag chunks
    * whose exact text occurs ≥2 times anywhere in the corpus. Per doc:
    * how many of its chunks are corpus-duplicated spans and the fraction of
    * its (chunked) text that is boilerplate. Scale shape: explode to chunk
    * grain → ONE shuffle on the chunk key (count-over-window) → one shuffle
    * back to doc grain; at 100 TB the chunk key would be a 128-bit hash of
    * the chunk text rather than the text itself (smaller shuffle payload) —
    * the string key here keeps the DuckDB twin exact. */
  def chunkSpans(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Sources.documents(spark, dir)
    val base = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n_chunks",
        graft.engine.Num.idiv(size(col("toks")).cast("long"), lit(ChunkTokens.toLong)))
    val occ = base.where(col("n_chunks") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), col("n_chunks").cast("int"))).as("i"))
      .select(col("doc_id"),
        array_join(slice(col("toks"), (col("i") - 1) * ChunkTokens + 1,
          lit(ChunkTokens)), " ").as("chunk"))
    val agg = occ
      .withColumn("occ_n", count(lit(1)).over(w.partitionBy("chunk")))
      .groupBy("doc_id")
      .agg(sum(when(col("occ_n") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
    base.select(col("doc_id"), col("n_chunks"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
        when(col("n_chunks") > 0,
          r(coalesce(col("dup_chunks"), lit(0L)) / col("n_chunks"), 4))
          .as("dup_chunk_fraction"),
        (coalesce(col("dup_chunks"), lit(0L)) > 0).as("has_dup_span"))
  }

  /** Exact span dedup made a REWRITE — [[chunkSpans]] flags boilerplate;
    * this removes it, the way Lee et al. (arXiv:2107.06499) actually
    * train: every duplicated [[ChunkTokens]]-token chunk keeps its FIRST
    * corpus occurrence (ordered by (doc_id, chunk index) — deterministic at
    * any parallelism) and later occurrences are cut out of the text; the
    * sub-chunk tail always survives. Per doc: chunk counts, how many were
    * dropped, and the rewritten text.
    *
    * Scale shape, same two exchanges as [[chunkSpans]]: explode to chunk
    * grain → one shuffle on the chunk key (the first-occurrence
    * row_number) → one shuffle back to doc grain for the ordered
    * reassembly. The reassembly aggregates struct(i, chunk) through
    * collect_list + sort_array — per-doc payload, bounded by the doc
    * itself. */
  def chunkRewrite(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val base = chunkBase(Sources.documents(spark, dir))
    val flagged = chunkOcc(base)
      .withColumn("_first", row_number().over(
        w.partitionBy("chunk").orderBy(col("doc_id"), col("i"))) === 1)
    chunkReassemble(base, flagged)
  }

  /** Chunk-grain frames shared by the batch rewrite and the streaming
    * span-store ingest ([[graft.streaming.Streams.ingestChunkBatch]]), so
    * their outputs agree structurally, not coincidentally. */
  private[graft] def chunkBase(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n_chunks",
        graft.engine.Num.idiv(size(col("toks")).cast("long"), lit(ChunkTokens.toLong)))
      // the sub-chunk remainder, kept verbatim
      .withColumn("tail_toks",
        slice(col("toks"), (col("n_chunks") * ChunkTokens + 1).cast("int"),
          size(col("toks"))))

  /** One row per (doc, chunk index, chunk text). */
  private[graft] def chunkOcc(base: DataFrame): DataFrame =
    base.where(col("n_chunks") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n_chunks").cast("int"))).as("i"),
        col("toks"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("toks"), (col("i") - 1) * ChunkTokens + 1,
          lit(ChunkTokens)), " ").as("chunk"))

  /** Rebuild each doc from its `_first`-flagged chunk occurrences (doc_id,
    * i, chunk, _first) + the verbatim tail. */
  private[graft] def chunkReassemble(base: DataFrame,
                                     flagged: DataFrame): DataFrame = {
    val kept = flagged
      .groupBy("doc_id")
      .agg(
        sum(when(col("_first"), 0L).otherwise(1L)).as("dropped_chunks"),
        sort_array(collect_list(when(col("_first"),
          struct(col("i"), col("chunk"))))).as("_kept"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("dropped_chunks"), lit(0L)).as("dropped_chunks"),
        array_join(concat(
          transform(coalesce(col("_kept"),
            array().cast("array<struct<i:int,chunk:string>>")), _("chunk")),
          col("tail_toks")), " ").as("text_rewritten"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup that only
    * compares vectors INSIDE the same coarse cluster. [[embeddingCosinePairs]]
    * is the O(n²) ground truth; this is its scale path — assign every vector
    * to its nearest centroid (one broadcast join against ~|labels| centroids,
    * the same coarse quantizer [[Similarity.annIvf]] uses), then pair-compare
    * within clusters only: O(Σ cᵢ²) work, shuffled on the cluster key. A
    * vector is dropped when a lower-id member of its cluster sits at cosine ≥
    * [[CosineThreshold]] — the identical keep-lowest rule as
    * [[nearDupFiltered]], so survivors are deterministic at any parallelism.
    * Output: every vector with its cluster and the keep/drop verdict. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Sources.embeddings(spark, dir)
    val v = transform(col("embedding"), x => x.cast("double"))
    val vecs = base.select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("norm", sqrt(Similarity.dot(col("v"), col("v"))))
    val cents = Similarity.ivfCentroids(vecs).withColumnRenamed("label", "cl")
    semanticVerdictOver(vecs.drop("label"), cents)
  }

  /** [[semanticDedup]] with the label-free ⌈√n⌉-cell k-means quantizer
    * ([[Similarity.kmeansCentroids]]) — the deployment path on corpora that
    * carry NO fixture labels, and the scale path: cells grow with √n, so
    * the within-cluster pair scan stays O(Σ cᵢ²) ≈ O(n^1.5) instead of
    * O(n²/K) at a fixed cell count. Cluster id = k-means seed vec_id;
    * keep/drop verdicts use the identical keep-lowest-id rule, and the
    * DuckDB twin replays seeds + Lloyd rounds bit-for-bit. */
  def semanticDedupKmeans(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Similarity.withNorm(Sources.embeddings(spark, dir))
    // session-shared √n quantizer (r15) — same key as the balanced
    // sampler: identical frame, identical Lloyd chain
    val cents = Similarity.kmeansCentroidsLocalShared(vecs, s"$dir#sqrt-base")
    // map-only assignment (Similarity.nearestCells): no n×K shuffle — the
    // first exchange in the whole operator is the pair scan's cluster join
    verdictFromAssigned(vecs
      .withColumn("cluster",
        element_at(Similarity.nearestCells(cents, 1), 1).getField("cl"))
      .select(col("vec_id"), col("cluster"), col("v"), col("norm")))
  }

  /** SemDeDup over the JL-PROJECTED corpus — reduce-THEN-dedup (r15,
    * VERDICT r14 #6): [[Similarity.rpProject]]'s 16-dim output fed into
    * the SAME √n k-means quantizer + within-cluster pair scan +
    * keep-lowest-id verdict as [[semanticDedupKmeans]], so every pairwise
    * op in the dedup — Lloyd dots, assignment, the O(Σcᵢ²) cluster pair
    * scan — runs at [[Similarity.RpDims]]/[[Similarity.Dim]] (= 1/4) of
    * the flop, storage, and shuffle width. This is the rp deployment story
    * applied to the dedup side: at 100 TB the pair scan IS SemDeDup's
    * cost, and it shrinks 4× through the map-only projection. What the
    * projection changes in the VERDICTS (vs full-space SemDeDup) is
    * measured, not asserted: [[semanticDedupRpAgreement]] is the
    * agreement row. Thresholding happens in projected space — the same
    * [[CosineThreshold]], since JL preserves cosines in expectation
    * (distortion audited per-vector by `sim_rp_distortion`). */
  def semanticDedupRp(spark: SparkSession, dir: String): DataFrame = {
    val rvecs = Similarity.rpVecsOf(
      Similarity.withNorm(Sources.embeddings(spark, dir)))
    // session-shared √n quantizer over the projected corpus (r15); the
    // count that sizes k rides the memoized body
    val cents = SessionVal(s"kmcents#$dir#sqrt-rp") {
      val k = math.ceil(math.sqrt(rvecs.count().toDouble)).toInt
      Similarity.kmeansCentroidsLocalK(
        rvecs, k, Similarity.KmeansIters, Similarity.RpDims)
    }
    // map-only assignment against the driver-resident centroid literal —
    // the first exchange in the operator is the pair scan's cluster join,
    // exactly like the full-space kmeans path
    verdictFromAssigned(rvecs
      .withColumn("cluster",
        element_at(Similarity.nearestCells(cents, 1), 1).getField("cl"))
      .select(col("vec_id"), col("cluster"), col("v"), col("norm")))
  }

  /** The projected-vs-full-space SemDeDup AGREEMENT row: how much of the
    * 4×-cheaper [[semanticDedupRp]] verdict set matches
    * [[semanticDedupKmeans]] on the same corpus — one row of exact counts
    * (BIGINT in both engines) plus rounded rates. `drop_jaccard` is the
    * overlap of the two DROP sets (NULL when neither arm drops anything);
    * `agree_rate` the per-vector verdict agreement. The deployment read:
    * if agreement is high, run dedup at 1/4 width and bank the pair-scan
    * flops — the same decision the recall audit's two-regime rows inform
    * for search. */
  def semanticDedupRpAgreement(spark: SparkSession, dir: String): DataFrame = {
    val full = semanticDedupKmeans(spark, dir)
      .select(col("vec_id"), col("kept").as("_kf"))
    val rp = semanticDedupRp(spark, dir)
      .select(col("vec_id"), col("kept").as("_kr"))
    full.join(rp, "vec_id")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("_kf"), 1L).otherwise(0L)).as("kept_full"),
        sum(when(col("_kr"), 1L).otherwise(0L)).as("kept_rp"),
        sum(when(col("_kf") === col("_kr"), 1L).otherwise(0L)).as("n_agree"),
        sum(when(!col("_kf") && !col("_kr"), 1L).otherwise(0L)).as("drop_both"),
        sum(when(!col("_kf") || !col("_kr"), 1L).otherwise(0L)).as("drop_union"))
      .select(col("n_vecs"), col("kept_full"), col("kept_rp"), col("n_agree"),
        r(col("n_agree").cast("double") / col("n_vecs"), 4).as("agree_rate"),
        col("drop_both"), col("drop_union"),
        when(col("drop_union") > 0,
          r(col("drop_both").cast("double") / col("drop_union"), 4))
          .as("drop_jaccard"))
  }

  /** Label-quantizer SemDeDup assignment: nearest-centroid by broadcast
    * rank over the fixture's ~|labels| centroids (K is FIXED here, so the
    * n×K window stays n×10 at any corpus size — harmless, unlike the √n
    * k-means case which goes map-only). `vecs` must be (vec_id, v, norm);
    * `cents` must be (cl, cv, cnorm). */
  private def semanticVerdictOver(vecs: DataFrame, cents: DataFrame): DataFrame =
    verdictFromAssigned(vecs.crossJoin(broadcast(cents))
      .withColumn("_cos",
        Similarity.dot(col("v"), col("cv")) / (col("norm") * col("cnorm")))
      .withColumn("_crank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("_cos").desc, col("cl"))))
      .where(col("_crank") === 1)
      .select(col("vec_id"), col("cl").as("cluster"), col("v"), col("norm")))

  /** Shared SemDeDup tail: within-cluster pair scan + keep-lowest-id
    * verdict over an assignment frame (vec_id, cluster, v, norm) — one
    * implementation so the label and k-means quantizer paths cannot
    * drift. */
  private def verdictFromAssigned(preAssigned: DataFrame): DataFrame = {
    // `assigned` is consumed THREE ways (both self-join sides + the final
    // verdict join) under differently-shaped parents, so AQE exchange reuse
    // does not cover it — unpinned, the assignment pipeline recomputes per
    // consumer (measured 2.3 s -> 5.0 s when the pin was dropped in r5).
    // Persist exactly this frame: one row per vector with its cluster id.
    val assigned = preAssigned.persist()
    val a = assigned.select(col("cluster"), col("vec_id").as("ia"),
      col("v").as("va"), col("norm").as("na"))
    val b = assigned.select(col("cluster"), col("vec_id").as("ib"),
      col("v").as("vb"), col("norm").as("nb"))
    val dups = a.join(b, "cluster").where(col("ia") < col("ib"))
      .withColumn("cosine",
        r(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .where(col("cosine") >= CosineThreshold)
      .select(col("ib").as("dup_id")).distinct()
    assigned.join(dups, col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_id").isNull.as("kept"))
  }

  // ------------------------------------------------- corpus source overlap

  /** Corpus-overlap matrix between SOURCES — "how much of this dump is
    * already in the corpus", answered at corpus grain instead of doc grain
    * (the decision that gates re-ingesting a monthly crawl). Per unordered
    * source pair: exact shingle-set Jaccard (audit arm) and the
    * [[MinhashK]]-permutation MinHash ESTIMATE from per-source signatures.
    *
    * The estimate arm is the deployment path. A per-source signature is
    * min-per-permutation over the source's shingle hashes — a partial-merge
    * aggregate emitting [[MinhashK]] longs per source, and MERGEABLE (min
    * is associative): sketch each new dump independently, fold into the
    * stored signature by elementwise min — no re-scan of old data, the
    * same incrementality contract as [[Sketch]]'s KMV profile (DedupSpec
    * pins sketch(A ∪ B) == min(sketch(A), sketch(B))). The exact arm
    * self-joins the distinct (source, h) sets; its per-key fanout is
    * bounded by |sources| (h is distinct within a source), but the join is
    * corpus-sized — at 100 TB a deployment drops it and trusts the
    * estimate's published ~1/√K stderr; here it oracle-pins the estimate.
    * Plan shape: ONE distinct-shuffle on (source, h); sizes and signatures
    * partial-merge off it; the pair grid is a broadcast cross of the
    * ≤|sources| summary rows. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val t = Text.tokens(col("text"))
    val idx = sequence(lit(0), size(t) - ShingleK)
    // (source, shingle-hash) sets, carried through the explode — joining
    // shingles back to doc attributes would be a second corpus shuffle
    val srcSh = Sources.documents(spark, dir)
      .where(size(t) >= ShingleK)
      .select(col("source"),
        explode(array_distinct(transform(idx,
          i => concat_ws(" ", slice(t, i + 1, lit(ShingleK)))))).as("shingle"))
      .select(col("source"), Text.rollingHash(col("shingle")).as("h"))
      .distinct()
      .persist() // consumed 3 ways: sizes, signatures, both exact-join sides
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
    val sigs = srcSh.groupBy("source").agg(minhashSigCols.head, minhashSigCols.tail: _*)
    val summary = sizes.join(sigs, "source")
    val grid = summary.select(summary.columns.map(c => col(c).as(c + "_a")): _*)
      .crossJoin(broadcast(summary.select(summary.columns.map(c => col(c).as(c + "_b")): _*)))
      .where(col("source_a") < col("source_b"))
    val shared = srcSh.as("x").join(srcSh.as("y"), "h")
      .where(col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    val matches = (0 until MinhashK)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val sh0 = coalesce(col("shared"), lit(0L))
    grid.join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        sh0.as("shared"),
        r(sh0.cast("double") / (col("n_a") + col("n_b") - sh0), 6).as("jaccard"),
        (matches.cast("double") / MinhashK).as("minhash_est"))
  }

  /** The DEPLOYMENT twin of [[sourceOverlap]] — signatures only, no exact
    * audit arm. The full operator's sf0.1→sf1 cost exponent is 0.74,
    * dominated by the corpus-sized (source, h) self-join the audit needs;
    * this arm stops at the per-source signatures (one distinct shuffle +
    * a partial-merge agg to ≤|sources| rows, exponent ≈ the scan's), which
    * is what a 100-TB corpus runs per dump — the same audit-vs-deployment
    * split as `sim_recall_audit` / `sim_recall_audit_sampled`. The
    * estimate column is bit-identical to the full operator's (same
    * signatures), which the shared oracle formula pins. */
  def sourceOverlapEstimate(spark: SparkSession, dir: String): DataFrame = {
    // fused per-doc signature kernel (map-only, no shingle strings, no
    // explode), then elementwise min per source: min over per-doc minima ==
    // min over the source's shingle set (min is idempotent — duplicates
    // across docs change nothing), so these signatures are bit-identical
    // to the distinct-set formulation the oracle states. Measured: the
    // string-explode + distinct formulation ran at sf0.1→sf1 exponent
    // 0.68 (shuffle-bound on shingle grain); this one's only exchange is
    // the ≤|sources|-row partial agg.
    val perDoc = Sources.documents(spark, dir)
      .select(col("source"),
        graft.functions.Minhash.shingleMinhash(
          Text.tokens(col("text")), ShingleK, Perms).as("mh"))
      .where(col("mh").isNotNull)
    val sigCols = (0 until MinhashK)
      .map(i => min(element_at(col("mh"), i + 1)).as(s"mh$i"))
    val sigs = perDoc.groupBy("source").agg(sigCols.head, sigCols.tail: _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    sigs.select(col("source").as("source_a") +:
        (0 until MinhashK).map(i => col(s"mh$i").as(s"mh${i}_a")): _*)
      .crossJoin(broadcast(sigs.select(col("source").as("source_b") +:
        (0 until MinhashK).map(i => col(s"mh$i").as(s"mh${i}_b")): _*)))
      .where(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (matches.cast("double") / MinhashK).as("minhash_est"))
  }

  /** min-per-permutation signature columns (`mh0..mh31`) over a 31-bit hash
    * column `h` — shared by [[sourceOverlap]] and its mergeability spec. */
  private[graft] def minhashSigCols: Seq[Column] =
    Perms.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"mh$i")
    }

  // --------------------------------------- incremental ingest (bloom-gated)

  /** Store/incoming split for [[incrementalNew]]: the fixture's stand-in
    * for "durable deduplicated corpus" (store) vs "today's ingest batch" —
    * the same key-derived mixer as [[Sampling.trainValTestSplit]], so the
    * DuckDB twin replays the assignment exactly. */
  val StorePct = 80

  /** Bloom sizing for the store-key prefilter. The bits budget is a FIXED
    * constant: the blob the driver holds and embeds is O(bits), never
    * O(store) — the bounded-literal rule the hier quantizer established for
    * centroids applies here too. In production, size bits from the store's
    * NDV in the statistics catalog ([[Sketch.tableProfile]]'s KMV NDV,
    * ~10 bits/key ⇒ fpp≈1%); a store too large for one filter shards by
    * key range with one blob per shard applied per matching partition.
    * Sizing never affects CORRECTNESS — an undersized filter only admits
    * more rows into the exact confirm join. */
  val BloomExpectedItems = 60000L
  val BloomNumBits = 1L << 20 // 128 KiB blob

  /** Incremental exact dedup: which of today's batch is genuinely NEW
    * against a durable corpus — the ingest-time shape of [[exact]], and at
    * 100 TB the shape that matters: a full-corpus re-dedup per day is a
    * 100-TB shuffle; this is O(batch) + a blob of the store's keys.
    *
    * Fixture framing: store = the [[StorePct]]% "already ingested" arm of
    * the mixer split, incoming = the rest; production callers use
    * [[incrementalNewOver]] on a real batch + key store. */
  def incrementalNew(spark: SparkSession, dir: String): DataFrame = {
    val bucket = Sampling.mixHash(col("doc_id")) % 100
    val keyed = Sources.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("md5_hex"), bucket.as("_b"))
    val store = keyed.where(col("_b") < StorePct).select("md5_hex").distinct()
    val incoming = keyed.where(col("_b") >= StorePct).drop("_b")
    incrementalNewOver(incoming, store)
  }

  /** Production entry: first-seen keys of `incoming` (doc_id, md5_hex)
    * against a durable `store` of md5 keys, EXACTLY — the bloom is a
    * prefilter, not an approximation.
    *
    * Three-arm plan, built from Spark's own runtime-filter expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain` — what
    * `InjectRuntimeFilter` plants under equi-joins; planted here by hand
    * because an optimizer-injected filter may be dropped on cost grounds,
    * and this operator's contract REQUIRES the cheap path):
    *  1. build: one partial-merge aggregate over the store keys → a single
    *     ≤ [[BloomNumBits]]/8-byte blob, collected to the driver (bounded
    *     control-plane, like the calibration thresholds) and embedded as a
    *     literal so `might_contain` stays inside whole-stage codegen;
    *  2. definite-new arm: `NOT might_contain` rows ship straight to the
    *     output — a Bloom filter has NO false negatives, so these rows
    *     never pay the join. On a mostly-novel batch (the common ingest
    *     case) this is nearly everything: the batch never shuffles;
    *  3. confirm arm: `might_contain` rows (true dups + ~fpp of the batch)
    *     — only these reach the exact left-anti join against the store.
    * The union then collapses to first-seen per key (min doc_id), the same
    * canonical rule as [[exact]]. Result is bit-equal to a plain anti-join
    * at ANY filter sizing; DedupSpec pins that equality. */
  def incrementalNewOver(incoming: DataFrame, store: DataFrame): DataFrame =
    firstSeenOver(incoming, store, bloomOf(store))

  /** Build the store-key bloom blob: one partial-merge aggregate over
    * `store.md5_hex`, collected as a single ≤ [[BloomNumBits]]/8-byte row
    * (bounded control-plane). None ⇔ empty store. The blob's serialized
    * form is `org.apache.spark.util.sketch.BloomFilter`'s, so blobs are
    * durable AND mergeable (bitwise-OR via `mergeInPlace` at equal sizing)
    * — the streaming ingest folds each batch's keys into the stored blob
    * instead of rescanning history. */
  private[graft] def bloomOf(store: DataFrame): Option[Array[Byte]] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.{ColumnBridge => EU}
    val blobRow = store.select(EU.column(new BloomFilterAggregate(
        EU.expression(xxhash64(col("md5_hex"))),
        Literal(BloomExpectedItems), Literal(BloomNumBits))
      .toAggregateExpression()).as("bf")).head()
    if (blobRow.isNullAt(0)) None else Some(blobRow.getAs[Array[Byte]]("bf"))
  }

  /** The probe half of [[incrementalNewOver]], with the blob supplied by
    * the caller (the batch path builds it fresh; the streaming ingest
    * reads the durable one). CONTRACT: the blob must have been built over
    * a SUPERSET of `store`'s keys (None ⇔ store is empty) — bloom
    * no-false-negatives then guarantees every store key reaches the exact
    * confirm join. Extra keys in the blob (undersizing, a wider history)
    * only cost selectivity, never correctness. */
  private[graft] def firstSeenOver(incoming: DataFrame, store: DataFrame,
                                   blob: Option[Array[Byte]]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.{ColumnBridge => EU}
    import org.apache.spark.sql.types.BinaryType
    val survivors = blob match {
      case None => incoming // empty store: the whole batch is new
      case Some(bytes) =>
        val might = EU.column(BloomFilterMightContain(
          Literal(bytes, BinaryType),
          EU.expression(xxhash64(col("md5_hex")))))
        incoming.where(!might).unionByName(
          incoming.where(might).join(store, Seq("md5_hex"), "left_anti"))
    }
    survivors.groupBy("md5_hex")
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies_in_batch"))
  }
}
