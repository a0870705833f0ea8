package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Num, Sources}
import Num._

/** Text analysis over the `documents` table — the language-ID / quality /
  * token-counting / fingerprinting layer a training-data pipeline runs before
  * dedup and filtering.
  *
  * Everything here is per-row columnar expression work (no UDFs): at 100 TB
  * these are map-only stages that stay inside whole-stage codegen and
  * vectorized parquet reads; the only shuffle in this file is the token
  * frequency groupBy, which partial-aggregates map-side first.
  *
  * Cross-engine parity: every formula has a textual twin in
  * [[graft.OraclesExt]]. The primitives were probed bitwise-identical in
  * DuckDB (rolling hash of "abc" = 1677554 in both engines).
  */
object Text {

  /** Whitespace tokens — single-space split, keeping empty tokens, exactly
    * like DuckDB `string_split(text, ' ')`. */
  def tokens(c: Column): Column = split(c, " ")

  /** BPE-ish subword pieces: maximal letter runs, digit runs, single
    * punctuation marks. A real BPE vocab is model-specific; this regex is the
    * deterministic stand-in with the same cost shape (one pass per row). */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpePattern), lit(0))

  /** Polynomial rolling hash over every character (spaces included):
    * h ← (h·131 + codepoint) mod (2³¹−1). Native codegen loop; identical to
    * the interpreted aggregate(split(c,''), ...) fold (NativeSpec pins the
    * equality corpus-wide). */
  def rollingHash(c: Column): Column = graft.functions.Native.polyHash(c)

  /** Language marker words (function words a real n-gram language-ID keys on;
    * ordered — ties resolve to the earlier language). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "les", "et", "est", "une", "du"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  def markerHits(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), w => w.isInCollection(words)))

  val Stopwords: Seq[String] = Markers.head._2

  // ------------------------------------------------------------- queries

  /** Per-document statistics + composite quality score (length, stopword
    * density, punctuation noise, vocabulary diversity — the Gopher-style
    * heuristic family, re-weighted). */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(spark, dir)
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val nChars = length(col("text")).cast("long")
    val punctCount = nChars - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
    val stopRatio = markerHits(col("text"), Stopwords).cast("double") / nTok
    val punctRatio = punctCount.cast("double") / nChars
    val uniqRatio = size(array_distinct(t)).cast("double") / nTok
    d.select(
      col("doc_id"), col("lang"), col("source"),
      nChars.as("n_chars_measured"),
      nTok.as("n_tokens"),
      size(bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
      r2(length(regexp_replace(col("text"), " ", "")).cast("double") / nTok).as("avg_token_len"),
      r4(stopRatio).as("stopword_ratio"),
      r4(punctRatio).as("punct_ratio"),
      r4(uniqRatio).as("uniq_token_ratio"),
      r4(least(nTok.cast("double"), lit(100.0)) / 100 * 0.3 +
        least(stopRatio * 5, lit(1.0)) * 0.2 +
        greatest(lit(1.0) - punctRatio * 10, lit(0.0)) * 0.2 +
        uniqRatio * 0.3).as("quality_score"))
  }

  /** Marker-word language ID: hit counts per language, argmax with fixed
    * precedence (en > de > es > fr > zh), `und` when nothing matches. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(spark, dir)
    val hits = Markers.map { case (l, ws) => l -> markerHits(col("text"), ws) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val predicted = hits.foldLeft(when(best === 0, "und")) {
      case (acc, (l, h)) => acc.when(h === best, l)
    }
    d.select(
      Seq(col("doc_id"), col("lang").as("declared_lang")) ++
        hits.map { case (l, h) => h.as(s"${l}_hits") } :+
        predicted.otherwise("und").as("predicted_lang"): _*)
  }

  /** Language-ID CONFUSION MATRIX — the audit of the [[langId]] heuristic
    * against the declared labels: one row per (declared, predicted) pair
    * with its count and share of the declared class. The off-diagonal mass
    * is where the n-gram heuristic needs better markers (or where the
    * declared labels are wrong — at web scale both happen); a production
    * pipeline gates lang routing on exactly this table. Grain is
    * |langs|² — one hash agg over the map-only classifier. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val perClass = org.apache.spark.sql.expressions.Window
      .partitionBy("declared_lang")
    langId(spark, dir)
      .groupBy("declared_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("declared_total", sum(col("n_docs")).over(perClass))
      .select(col("declared_lang"), col("predicted_lang"), col("n_docs"),
        r4(lit(100.0) * col("n_docs").cast("double") /
          col("declared_total").cast("double")).as("pct_of_declared"),
        (col("declared_lang") === col("predicted_lang")).as("is_correct"))
  }

  /** Rolling-hash fingerprints: raw text and whitespace-normalized text
    * (document identity for exact/near-exact dedup joins). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(spark, dir)
    val normalized = trim(regexp_replace(col("text"), " +", " "))
    d.select(
      col("doc_id"),
      rollingHash(col("text")).as("fingerprint"),
      rollingHash(normalized).as("fingerprint_normalized"),
      md5(col("text")).as("md5_hex"))
  }

  /** Exact length quantiles per language: Spark `percentile` (sort-based
    * exact, linear interpolation at rank p·(n−1)) — the same formula DuckDB's
    * quantile_cont computes, so the oracle matches to the rounding digit.
    * At 100 TB swap for approx_percentile (t-digest) and drop the oracle to
    * rows-only; the exact form is the correctness anchor. */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        r2(percentile(col("n_chars"), lit(0.5))).as("p50_chars"),
        r2(percentile(col("n_chars"), lit(0.9))).as("p90_chars"),
        r2(percentile(col("n_chars"), lit(0.99))).as("p99_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Corpus token frequency: explode → hash-aggregate. The one shuffle here;
    * partial aggregation collapses each partition's counts map-side, so the
    * shuffle volume is ~|vocab| per partition, not |tokens|. */
  def tokenFrequency(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy("token")
      .agg(
        count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_frequency"))

  /** Merge candidates kept by [[bpeMergeCandidatesOf]]. */
  val BpeTopMerges = 32

  /** BPE MERGE MINING — one training round of byte-pair encoding
    * (Sennrich et al., ACL 2016) over the corpus: the adjacent
    * character-pair frequencies whose argmax IS the next BPE merge, and
    * whose top-[[BpeTopMerges]] table is the tokenizer-induction report a
    * corpus release reviews (which merges this data would teach a fresh
    * tokenizer). Iterating = apply the top merge to the vocab and re-run —
    * each round is this same fold.
    *
    * Scale shape: the ONLY corpus-grain work is the token-count hash-agg
    * (map-side partials over the scan); pair explosion happens at
    * DISTINCT-TOKEN grain — vocabulary, not corpus — so a 100 TB corpus
    * pays one token shuffle and then |vocab|·avg_len cheap rows. The
    * top-K is a bounded TakeOrdered, never a global sort. */
  def bpeMergeCandidatesOf(docs: DataFrame): DataFrame = {
    val tokCounts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("c"))
    tokCounts
      .where(length(col("token")) >= 2)
      .select(col("token"), col("c"),
        explode(sequence(lit(1), length(col("token")) - 1)).as("i"))
      .select(col("token").substr(col("i"), lit(1)).as("a"),
        col("token").substr(col("i") + 1, lit(1)).as("b"), col("c"))
      .groupBy("a", "b").agg(sum(col("c")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("a"), col("b"))
      .limit(BpeTopMerges)
  }

  def bpeMergeCandidates(spark: SparkSession, dir: String): DataFrame =
    bpeMergeCandidatesOf(Sources.documents(spark, dir))

  /** TOKENIZER APPLY — encode the corpus with the [[bpeMergeCandidatesOf]]
    * merge table and count the resulting BPE tokens per document: the
    * "how many tokens is this corpus under the tokenizer we just induced"
    * report that sizes a training run (mining tells you WHAT the merges
    * are; this is what they DO to the data).
    *
    * Representation: a token is encoded as space-wrapped symbol units
    * (`"the"` → `" t  h  e "`); merge (a,b) is one literal replace of
    * `" a  b "` with `" ab "`, applied in mined rank order. Tokens are
    * whitespace-split so a symbol can never contain the delimiter, every
    * unit carries its OWN pair of spaces (no boundary sharing between
    * adjacent matches — `"a a a"` merges left-to-right greedily, exactly
    * like the DuckDB twin's `replace`), and a merged unit's interior
    * characters can no longer match a later single-character pair. Both
    * engines apply the same M sequential non-overlapping left-to-right
    * literal replaces, so parity is structural.
    *
    * Scale shape: the merge table is a bounded driver-side collect
    * (≤ [[BpeTopMerges]] rows — the frozen-model pattern every classifier
    * here uses); the M replaces run at DISTINCT-TOKEN grain (vocabulary,
    * not corpus) inside whole-stage codegen; the corpus pays one shuffle
    * joining tokens back to their encodings and one for the per-doc agg —
    * the same two exchanges as [[graft.ext.Dedup.chunkSpans]]. At 100 TB
    * the vocab side is millions of rows against trillions of corpus
    * tokens; AQE broadcasts it. */
  def bpeTokenizeOf(docs: DataFrame): DataFrame =
    bpeTokenizeWith(docs, bpeMergesLocal(docs))

  /** The frozen merge table: mined once ([[bpeMergeCandidatesOf]]'s rank
    * order preserved), bounded at [[BpeTopMerges]] rows — the driver-side
    * artifact a deployment trains offline and applies to every later
    * batch. */
  def bpeMergesLocal(docs: DataFrame): Seq[(String, String)] =
    bpeMergeCandidatesOf(docs)
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  /** TOKENIZER APPLY with a FROZEN merge table (VERDICT r12 #5): the
    * deployment split of [[bpeTokenizeOf]] — train once (mine
    * [[bpeMergesLocal]] on a reference corpus), then encode ANY batch with
    * that fixed table; the registered harness twin mines and applies on
    * the same corpus, a production pipeline mines on the training corpus
    * and applies per arriving batch ([[graft.streaming.Streams
    * .bpeTokenizeIngest]] — the LM/NB frozen-scorer discipline: the model
    * never retrains inside the stream). Encoding semantics and the two
    * corpus exchanges are exactly [[bpeTokenizeOf]]'s. */
  def bpeTokenizeWith(docs: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val sym0 = regexp_replace(col("token"), "(.)", " $1 ")
    val applied = merges.foldLeft(sym0) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    val enc = tok.select("token").distinct()
      .select(col("token"),
        idiv((length(applied) -
          length(replace(applied, lit(" "), lit("")))).cast("long"), lit(2L)).as("n_bpe"))
    tok.join(enc, Seq("token"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("token")).cast("long")).as("n_chars"),
        sum(col("n_bpe")).as("n_bpe_tokens"))
      .withColumn("chars_per_bpe_token", r(col("n_chars") / col("n_bpe_tokens"), 4))
  }

  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    bpeTokenizeOf(Sources.documents(spark, dir))

  /** TOKENIZER GENERALIZATION twin — [[bpeTokenizeWith]] driven the way a
    * deployment actually is: the merge table is mined on the deterministic
    * TRAIN half (mixHash parity split — the same split family every
    * sampler here uses) and applied FROZEN to the WHOLE corpus, so half
    * the encoded documents never influenced the table. chars_per_bpe_token
    * on the held-out half vs the train half is the generalization report a
    * tokenizer ships with. Same two corpus exchanges as the harness twin;
    * the mining pass reads half the corpus. */
  def bpeTokenizeFrozen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val train = docs.where(graft.ext.Sampling.mixHash(col("doc_id")) % 2 === 0)
    bpeTokenizeWith(docs, bpeMergesLocal(train))
  }

  /** Count-min sketch geometry: [[CmsDepth]] independent hash rows ×
    * [[CmsWidth]] counters. Width is deliberately far below the fixture's
    * vocabulary so collisions (and therefore real overestimates) occur —
    * the property the spec and the oracle both exercise. */
  val CmsDepth = 4
  val CmsWidth = 64

  /** COUNT-MIN HEAVY HITTERS (Cormode & Muthukrishnan, J.Alg 2005) —
    * BIGRAM frequency under a BOUNDED-STATE sketch instead of a
    * full-universe hash-agg, plus the top-K bigrams by estimate with their
    * exact counts beside (est ≥ exact always; `overestimated` marks
    * collisions). Bigrams, not unigrams: the fixture's word list is 31
    * words (every one would own its cells — a vacuous sketch) while its
    * bigram universe is ~900 against [[CmsWidth]]=64 counters, so the
    * sketch genuinely compresses, exactly the n-gram-collocation regime
    * the sketch exists for.
    *
    * Why it matters at 100 TB: [[bigramFrequency]]'s agg state is the
    * whole bigram universe (quadratic in vocabulary — a shuffle of
    * billions of keys); the sketch's state is a constant
    * [[CmsDepth]]×[[CmsWidth]] integer grid that partial-aggregates
    * map-side and MERGES additively — the same fold-don't-rescan contract
    * as the drift states, so a streaming twin is a sum of per-batch grids.
    * Hash rows use the cross-engine [[rollingHash]] salted by row index,
    * so the DuckDB twin lands every bigram in the identical cell.
    *
    * Grain: the corpus pays ONE bigram hash-agg (to (bigram, count) —
    * needed anyway for the exact-count column); sketch build and probe
    * then run at universe grain (explode ×[[CmsDepth]] over distinct
    * bigrams, two bounded shuffles on (row, bucket)). A deployment that
    * wants ONLY the sketch skips the exact agg and folds the grid straight
    * off the scan. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    cmsHeavyHittersOf(Sources.documents(spark, dir))

  /** (bigram, c) corpus bigram counts — the shared exact side (same
    * extraction as [[bigramFrequency]]). */
  private[graft] def cmsKeyCountsOf(docs: DataFrame): DataFrame =
    docs.where(size(tokens(col("text"))) >= 2)
      .select(explode(ngrams(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c"))

  /** One row per (bigram, c, hash row, bucket) — the bigram's [[CmsDepth]]
    * sketch cells. */
  private[graft] def cmsCellsOf(tc: DataFrame): DataFrame = {
    val cells = (0 until CmsDepth).map { rr =>
      struct(lit(rr).as("r"),
        pmod(graft.functions.Native.polyHash(
          concat(lit(s"$rr:"), col("bigram"))), lit(CmsWidth.toLong)).as("bucket"))
    }
    tc.select(col("bigram"), col("c"), explode(array(cells: _*)).as("rb"))
      .select(col("bigram"), col("c"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
  }

  /** The sketch itself: the [[CmsDepth]]×[[CmsWidth]] counter grid. ADDITIVE
    * in the corpus — sketch(A ∪ B) = cell-wise sketch(A) + sketch(B) (the
    * spec pins it), so per-batch grids fold instead of rescanning. */
  private[graft] def cmsCountersOf(tc: DataFrame): DataFrame =
    cmsCellsOf(tc).groupBy("r", "bucket").agg(sum(col("c")).as("cnt"))

  /** Cell-wise sum of sketch grids — the fold
    * [[graft.streaming.Streams.foldCmsBatch]] applies per batch
    * (sparse representation: an absent cell is zero, so a plain union+agg
    * IS the cell-wise sum). */
  private[graft] def mergeCmsGrids(grids: Seq[DataFrame]): DataFrame =
    grids.reduce(_ unionByName _)
      .groupBy("r", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Heavy-hitter estimates from a MAINTAINED grid, no corpus rescan:
    * probe the candidate bigrams' cells against the folded counters.
    * Exact counts are absent BY DESIGN — the sketch's point is that the
    * corpus is gone; candidates come from the caller (the current batch's
    * bigrams, or the previously reported top-K being re-checked). The grid
    * is SPARSE (absent cell = 0), so the probe left-joins from the
    * candidate cells: a key the sketch never saw reports estimate 0, and a
    * key with only some cells present takes min over true zeros — the
    * count-min contract for NOVEL keys, not just batch-derived ones
    * (ADVICE r12: the old inner join silently dropped all-absent keys and
    * inflated partial-cell ones). */
  def cmsEstimateOver(grid: DataFrame, keys: DataFrame): DataFrame =
    cmsCellsOf(keys.select(col("bigram")).distinct()
        .withColumn("c", lit(0L)))
      .join(grid, Seq("r", "bucket"), "left")
      .groupBy("bigram")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))

  def cmsHeavyHittersOf(docs: DataFrame): DataFrame = {
    val tc = cmsKeyCountsOf(docs)
    val hashed = cmsCellsOf(tc)
    hashed.join(cmsCountersOf(tc), Seq("r", "bucket"))
      .groupBy("bigram")
      .agg(max(col("c")).as("exact_count"), min(col("cnt")).as("cms_estimate"))
      .withColumn("overestimated", col("cms_estimate") > col("exact_count"))
      .orderBy(col("cms_estimate").desc, col("bigram"))
      .limit(CmsTopK)
  }

  /** Heavy hitters reported by [[cmsHeavyHitters]]. */
  val CmsTopK = 25

  // ------------------------------------------ persisted count-min grid ---

  private def cmsStoreFor(spark: SparkSession, dir: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")}" +
      s"/graft_cmsgrid_${VectorIndex.sha12(dir)}"

  /** The (session, corpus)-memoized persisted grid — the frozen-store
    * pattern of [[TextIndex.sessionStore]]: built (one corpus pass) at most
    * once per session, reused across sessions via the version log. The
    * stored table is EXACTLY the state [[graft.streaming.Streams
    * .foldCmsBatch]] maintains per batch (StreamingSpec pins
    * streamed == from-scratch cell-for-cell), so a corpus streamed through
    * the fold is already queryable by [[cmsIndexed]] with no batch build. */
  private[graft] def sessionCmsGrid(spark: SparkSession, dir: String): String = {
    val store = cmsStoreFor(spark, dir)
    SessionOnce(store) {
      if (graft.sources.Versioned.latestVersion(spark, store).isEmpty)
        graft.sources.Versioned.write(
          cmsCountersOf(cmsKeyCountsOf(Sources.documents(spark, dir))), store)
    }
    store
  }

  /** COUNT-MIN DEPLOYMENT TWIN (VERDICT r12 #3) — heavy-hitter estimates
    * from the PERSISTED grid, the shape a live pipeline actually queries:
    * the sketch state (constant [[CmsDepth]]×[[CmsWidth]] cells — 256 rows
    * at ANY corpus size) is read from the store and probed via
    * [[cmsEstimateOver]] with the current batch's candidate bigrams; the
    * corpus is never rescanned for exact counts. Estimates are cell-wise
    * identical to [[cmsHeavyHitters]]'s (same grid, same probe hash), so
    * the reported top-[[CmsTopK]] agrees with the batch twin on (bigram,
    * cms_estimate) under the same total (estimate desc, bigram) order.
    * Scale shape: one bounded-state store read (256 rows, broadcast-sized)
    * + candidate extraction at vocabulary grain; per-query work is
    * O(candidates·depth), flat in corpus size. */
  def cmsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val grid = graft.sources.Versioned.read(spark, sessionCmsGrid(spark, dir))
    val cand = Sources.documents(spark, dir)
      .where(size(tokens(col("text"))) >= 2)
      .select(explode(ngrams(col("text"), 2)).as("bigram"))
    cmsEstimateOver(grid, cand)
      .orderBy(col("cms_estimate").desc, col("bigram"))
      .limit(CmsTopK)
  }

  /** All word n-grams in position order (NOT distinct — frequency weighting
    * wants every occurrence; [[graft.ext.Dedup.shingles]] is the distinct
    * set variant). */
  def ngrams(c: Column, n: Int): Column =
    transform(sequence(lit(0), size(tokens(c)) - n),
      i => concat_ws(" ", slice(tokens(c), i + 1, lit(n))))

  /** Corpus bigram frequency — same explode → hash-agg shape as
    * [[tokenFrequency]] over 2-grams. */
  def bigramFrequency(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .where(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(ngrams(col("text"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(
        count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_frequency"))

  // ------------------------------------------- Gopher-style quality gates

  /** Gopher-rule thresholds (Rae et al. 2021 §A.1.1's shape, re-calibrated to
    * the fixture's 10-99-token synthetic docs so both verdicts occur).
    * Single source of truth for the DuckDB twins. */
  val MinWords = 20
  val MaxWords = 80
  val MinMeanWordLen = 3.0
  val MaxMeanWordLen = 10.0
  val MinStopwordHits = 2
  val MaxSymbolRatio = 0.1
  val MinAlphaRatio = 0.8

  /** The Gopher gate expressions over a `text` column — one definition
    * shared by [[gopherRules]] (which reports every flag) and the
    * weak-supervision labeler in [[nbQuality]] (which keys on the
    * conjunction), so the two surfaces cannot drift. */
  private[ext] case class GopherGate(nTok: Column, meanLen: Column,
                                     stopHits: Column, symbolRatio: Column,
                                     alphaRatio: Column) {
    val passWords: Column = nTok >= MinWords && nTok <= MaxWords
    val passLen: Column = meanLen >= MinMeanWordLen && meanLen <= MaxMeanWordLen
    val passStop: Column = stopHits >= MinStopwordHits
    val passSymbol: Column = symbolRatio <= MaxSymbolRatio
    val passAlpha: Column = alphaRatio >= MinAlphaRatio
    val passesAll: Column =
      passWords && passLen && passStop && passSymbol && passAlpha
  }

  private[ext] def gopherGate: GopherGate = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val nChars = length(col("text")).cast("long")
    GopherGate(
      nTok,
      length(regexp_replace(col("text"), " ", "")).cast("double") / nTok,
      markerHits(col("text"), Stopwords),
      (nChars - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).cast("double") / nChars,
      size(filter(t, w => w.rlike("^[a-z]+$"))).cast("double") / nTok)
  }

  /** Per-document Gopher-style filter verdicts — the boolean gate family a
    * training pipeline applies before tokenization (word-count bounds, mean
    * word length, stopword evidence, symbol noise, alphabetic fraction).
    * Map-only columnar work: stays inside whole-stage codegen, no shuffle. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — [[gopherRules]] over ANY (doc_id, lang, text)
    * frame; [[graft.engine.Pipeline.runCorpusPipeline]] runs it on the
    * SCRUBBED corpus so its verdicts describe the text the training
    * products are actually built from (ADVICE r9). */
  def gopherRulesOf(docs: DataFrame): DataFrame = {
    val g = gopherGate
    docs.select(
      col("doc_id"), col("lang"),
      g.nTok.as("n_tokens"),
      r4(g.meanLen).as("mean_word_len"),
      g.stopHits.as("stopword_hits"),
      r4(g.symbolRatio).as("symbol_ratio"),
      r4(g.alphaRatio).as("alpha_ratio"),
      g.passWords.as("pass_word_count"),
      g.passLen.as("pass_word_length"),
      g.passStop.as("pass_stopwords"),
      g.passSymbol.as("pass_symbol_ratio"),
      g.passAlpha.as("pass_alpha_ratio"),
      g.passesAll.as("passes_all"))
  }

  /** Repetition-ratio thresholds (the C4/Gopher repetitive-content family),
    * set at the fixture's ~95th percentile so both verdicts occur at every
    * SF (the synthetic docs are mildly repetitive by construction). */
  val MaxTopBigramFraction = 0.08
  val MaxDupTrigramFraction = 0.04

  /** Per-document repetition metrics: the most-frequent-n-gram fraction and
    * the duplicate-n-gram fraction for word 2/3-grams — the signals used to
    * drop boilerplate and looping text. Shape: explode n-grams →
    * (doc, gram) partial count → per-doc max/sum/distinct; both shuffles are
    * map-side combined and keyed on (doc_id, gram), so no hot keys. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    def grams(n: Int, top: String, dup: String): DataFrame =
      Sources.documents(spark, dir)
        .where(size(tokens(col("text"))) >= n)
        .select(col("doc_id"), explode(ngrams(col("text"), n)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          r4(max(col("c")).cast("double") / sum(col("c"))).as(top),
          r4((sum(col("c")) - count(lit(1))).cast("double") / sum(col("c"))).as(dup))
    Sources.documents(spark, dir).select("doc_id", "lang", "n_chars")
      .join(grams(2, "top_bigram_fraction", "dup_bigram_fraction"), Seq("doc_id"), "left")
      .join(grams(3, "top_trigram_fraction", "dup_trigram_fraction"), Seq("doc_id"), "left")
      .withColumn("is_repetitive",
        coalesce(col("top_bigram_fraction") > MaxTopBigramFraction, lit(false)) ||
          coalesce(col("dup_trigram_fraction") > MaxDupTrigramFraction, lit(false)))
  }

  // ------------------------------------------- LM perplexity quality filter

  /** Vocabulary cap for the corpus unigram LM: the model keeps the
    * [[LmVocabCap]] most frequent tokens (ties → lexicographic) plus one
    * `<unk>` bucket holding every out-of-vocabulary occurrence. Bounds the
    * model at a broadcastable 4 KB–4 MB regardless of corpus size — the
    * property that keeps scoring a broadcast-hash-join at 100 TB. */
  val LmVocabCap = 4096

  /** Cross-entropy (nats/token) above which a document is flagged as an LM
    * outlier — the "perplexity filter" verdict. Calibrated to the fixture's
    * ~98.5th percentile so both verdicts occur at every SF (measured CE spans
    * 3.38–3.72 at sf0.001–0.1; 3.5 flags 7–8 docs per 500). */
  val LmCeOutlier = 3.5

  /** Per-token surprise −ln p(w) pre-rounded to integer MICRO-NATS
    * (floor(x·10⁶+0.5), the [[Num.r]] device): per-doc totals then sum as
    * exact BIGINTs — order-free in both engines — instead of accumulating
    * raw doubles whose partial-sum order differs between Spark and DuckDB. */
  private def microNats(p: Column): Column = floor(-log(p) * 1e6 + 0.5)

  /** Non-empty whitespace tokens with a carried key column. */
  private def tokensBy(docs: DataFrame, key: String): DataFrame =
    docs.select(col(key), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")

  /** Corpus token counts → (vocab, stats) for the capped-vocab LM: vocab =
    * top-[[LmVocabCap]] by (count desc, token asc) via TakeOrdered (bounded,
    * no global sort); stats = (t total tokens, veff smoothing denominator
    * term, coov pooled out-of-vocab count) — a one-row frame for broadcast. */
  private def lmModel(counts: DataFrame): (DataFrame, DataFrame) = {
    val vocab = counts.orderBy(col("c").desc, col("token")).limit(LmVocabCap)
    val stats = counts
      .agg(sum(col("c")).as("t"), count(lit(1)).as("d"))
      .crossJoin(vocab.agg(coalesce(sum(col("c")), lit(0L)).as("vsum")))
      .select(col("t"),
        (least(col("d"), lit(LmVocabCap.toLong)) + lit(1L)).as("veff"),
        (col("t") - col("vsum")).as("coov"))
    (vocab, stats)
  }

  /** Train the LM on a corpus and freeze it as two broadcastable frames:
    * (token → micro-nat surprise) of ≤ [[LmVocabCap]] rows, and the one-row
    * `<unk>` surprise. This is the offline half of the deployment split —
    * [[graft.streaming.Streams]] scores arriving documents against these
    * frozen frames without ever retraining on the hot path. */
  def lmModelFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val counts = tokensBy(docs, "doc_id")
      .groupBy("token").agg(count(lit(1)).as("c"))
    val (vocab, stats) = lmModel(counts)
    val denom = (col("t") + col("veff")).cast("double")
    val model = vocab.crossJoin(broadcast(stats))
      .select(col("token"), microNats((col("c") + 1).cast("double") / denom).as("mn"))
    val unk = stats.select(
      microNats((col("coov") + 1).cast("double") / denom).as("unk_mn"))
    (model, unk)
  }

  /** Score any documents frame (batch or a streaming micro-batch) against a
    * frozen LM: broadcast model hash-join + per-doc partial agg — no state,
    * no retraining, scoring cost O(tokens in `docs`) regardless of the
    * corpus the model was trained on. */
  /** Per-doc micro-nat totals under a frozen LM: (doc_id, n_scored_tokens,
    * s) with s the exact BIGINT surprise sum — the integer frame both
    * [[lmScoreWith]] and the per-source aggregates in [[Corpus.dataCard]]
    * finalize from (rounded CE cannot be re-aggregated exactly); PUBLIC
    * for callers building their own exact CE aggregates. */
  def lmPerDoc(docs: DataFrame, model: DataFrame,
               unk: DataFrame): DataFrame =
    tokensBy(docs, "doc_id")
      .join(broadcast(model), Seq("token"), "left")
      .crossJoin(broadcast(unk))
      .select(col("doc_id"), coalesce(col("mn"), col("unk_mn")).as("mn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored_tokens"), sum(col("mn")).as("s"))

  def lmScoreWith(docs: DataFrame, model: DataFrame, unk: DataFrame): DataFrame = {
    val perDoc = lmPerDoc(docs, model, unk)
    val ceRaw =
      col("s").cast("double") / (col("n_scored_tokens").cast("double") * 1e6)
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_scored_tokens"), lit(0L)).as("n_scored_tokens"),
        r4(ceRaw).as("cross_entropy"),
        r2(exp(ceRaw)).as("perplexity"),
        coalesce(r4(ceRaw) > LmCeOutlier, lit(false)).as("is_lm_outlier"))
  }

  /** CCNet-style LM quality scoring (Wenzek et al., arXiv:1911.00359): score
    * every document by its cross-entropy under a unigram LM trained on the
    * corpus itself, and flag the high-perplexity tail. The classical recipe
    * uses a KenLM 5-gram; the unigram form keeps the exact same pipeline
    * shape (train on corpus → broadcast model → map-side score) with a
    * deterministic, oracle-replayable model.
    *
    * Model: Laplace-smoothed capped-vocab unigram —
    * p(w) = (c(w)+1)/(T+V_eff), vocabulary = top-[[LmVocabCap]] tokens by
    * (count desc, token asc), all other occurrences pooled into `<unk>`,
    * V_eff = min(distinct, cap)+1. Score: cross-entropy = mean −ln p over the
    * doc's non-empty tokens; perplexity = e^CE.
    *
    * Scale shape: training is ONE token shuffle (explode → partial-agg count,
    * identical to [[tokenFrequency]]) + a bounded top-K (TakeOrdered, no
    * global sort); the model is ≤ [[LmVocabCap]]+1 rows → broadcast; scoring
    * is a broadcast hash join + per-doc partial-agg. The repeated `counts`
    * subtree collapses via exchange reuse. No driver-side loops; the one
    * collect-free bounded structure is the broadcast model itself. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val (model, unk) = lmModelFrames(docs)
    lmScoreWith(docs, model, unk)
  }

  /** Per-source KL divergence KL(p_source ‖ p_corpus) over the shared
    * capped-vocab Laplace unigram model — the data-mixture diagnostic: which
    * sources' token distributions sit far from the corpus (candidates for
    * up-/down-weighting in [[Corpus]] mixing), plus each source's OOV rate
    * under the global vocabulary.
    *
    * Both distributions smooth over the SAME alphabet (global top-
    * [[LmVocabCap]] vocab + `<unk>`), so KL is finite by construction.
    * Per-term parity uses the nano-nat integer device (floor(x·10⁹+0.5) as
    * BIGINT, exact order-free sums) — terms here are signed and tiny.
    *
    * Scale shape: the grid is |sources|·(cap+1) rows — sources here are the
    * fixture's curated handful; at web scale (millions of domains) the same
    * plan holds but the grid is the cost driver, so restrict to the sources
    * under tuning or drop the zero-count smoothing terms to make it sparse. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val toksS = tokensBy(docs, "source")
    val counts = toksS.groupBy("token").agg(count(lit(1)).as("c"))
    val (vocab, stats) = lmModel(counts)
    val srcDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val srcToks = toksS.groupBy("source").agg(count(lit(1)).as("ts"))
    val cs = toksS
      .join(broadcast(vocab.select("token")), Seq("token"), "leftsemi")
      .groupBy("source", "token").agg(count(lit(1)).as("cs"))
    val grid = srcToks.crossJoin(broadcast(vocab))
      .join(cs, Seq("source", "token"), "left")
      .select(col("source"), col("ts"), col("c"),
        coalesce(col("cs"), lit(0L)).as("cs"))
    val srcOov = srcToks
      .join(cs.groupBy("source").agg(sum(col("cs")).as("svsum")), Seq("source"), "left")
      .crossJoin(broadcast(stats.select("coov")))
      .select(col("source"), col("ts"), col("coov").as("c"),
        (col("ts") - coalesce(col("svsum"), lit(0L))).as("cs"))
    val ps = (col("cs") + 1).cast("double") / (col("ts") + col("veff")).cast("double")
    val p = (col("c") + 1).cast("double") / (col("t") + col("veff")).cast("double")
    val scored = grid.unionByName(srcOov)
      .crossJoin(broadcast(stats))
      .select(col("source"), col("ts"),
        floor(ps * log(ps / p) * 1e9 + 0.5).as("term"))
    val oovRate =
      col("oov_cs").cast("double") / col("ts").cast("double")
    scored.groupBy("source")
      .agg(first(col("ts")).as("ts"), sum(col("term")).as("s"))
      .join(srcDocs, Seq("source"))
      .join(srcOov.select(col("source"), col("cs").as("oov_cs")), Seq("source"))
      .select(col("source"), col("n_docs"), col("ts").as("n_tokens"),
        r4(oovRate).as("oov_rate"),
        r(col("s").cast("double") / 1e9, 6).as("kl_nats"))
  }

  /** Top-5 TF-IDF terms per document: tf·ln(N/df) over non-empty tokens.
    * Two shuffles (per-doc tf, per-token df) + a broadcast of the token df
    * table; per-doc ranking is a window over that doc's distinct tokens —
    * bounded by vocabulary-per-doc, not corpus size. */
  def topTfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = Sources.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
    val n = Sources.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("doc_id"), col("token"), col("tf"),
        graft.engine.Num.r4(col("tfidf")).as("tfidf"), col("rank"))
  }

  /** Naive-Bayes quality CLASSIFIER — the fastText-style learned filter
    * every large pretraining pipeline layers on top of its heuristic gates
    * (CCNet, GPT-3's curated-vs-crawl classifier, LLaMA's Wikipedia-ref
    * classifier): train a token model on weak labels, then score every
    * document by its class log-odds. Here the weak supervision is the
    * repo's own [[gopherRules]] conjunction (the [[GopherGate]] expression
    * is SHARED, so labeler and gate cannot drift), and the model is
    * multinomial NB with Laplace smoothing over the capped vocabulary —
    * the linear-classifier form whose training is exact integer counting,
    * hence deterministic and oracle-replayable (a production deployment
    * swaps in curated positive sets; the pipeline shape is identical).
    *
    * The load-bearing output is `agrees`: documents where the learned
    * token distribution CONTRADICTS the heuristic gate — gate-passing docs
    * that read like rejects (candidates for stricter review) and
    * gate-failing docs the model vouches for (recall the gates lost).
    *
    * Model: shared vocabulary = top-[[LmVocabCap]] tokens by total count
    * (ties → lexicographic); per class c ∈ {good, bad}:
    * p(w|c) = (count_c(w)+1)/(T_c+V_eff), out-of-vocab occurrences pooled
    * into one `<unk>` bucket per class; priors Laplace-smoothed
    * (n_c+1)/(n+2) so an empty class never divides by zero. Scoring uses
    * the [[microNats]] integer device: per-token −ln p pre-rounded to
    * micro-nat BIGINTs, per-doc sums exact and order-free, and the
    * predicted class is an INTEGER comparison — bit-identical across
    * engines even at log-odds ≈ 0.
    *
    * Scale shape: labeling is map-only (the gate rides the explode);
    * training is ONE token shuffle carrying both classes as conditional
    * counts (no per-class pass) + a bounded TakeOrdered vocab; the model is
    * ≤ cap+1 rows → broadcast; scoring is a broadcast hash join + per-doc
    * partial agg. Same plan family as [[lmScore]] — at 100 TB the token
    * shuffle is the cost, everything else is bounded. */
  def nbQuality(spark: SparkSession, dir: String): DataFrame =
    nbQualityOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — [[nbQuality]] over ANY (doc_id, lang, text) frame:
    * trains on and scores the frame itself (the corpus pipeline passes the
    * scrubbed corpus so report and sampler agree doc-for-doc, ADVICE r9). */
  def nbQualityOf(docs: DataFrame): DataFrame = {
    val (model, unk) = nbModelFrames(docs)
    nbScoreWith(docs, model, unk)
  }

  /** Train the NB quality model on a corpus and freeze it as two
    * broadcastable frames — the offline half of the deployment split
    * (same contract as [[lmModelFrames]]): (token → per-class micro-nat
    * surprises mg/mb) of ≤ [[LmVocabCap]] rows, and one row carrying the
    * `<unk>` surprises + the class-prior surprises. Weak labels are the
    * [[gopherGate]] conjunction, computed map-side on the training pass. */
  def nbModelFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val labeled = docs.withColumn("weak_good", gopherGate.passesAll)
    val nzl = labeled
      .select(col("doc_id"), col("weak_good"),
        explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val counts = nzl.groupBy("token").agg(
      sum(when(col("weak_good"), 1L).otherwise(0L)).as("cg"),
      sum(when(col("weak_good"), 0L).otherwise(1L)).as("cb"))
    val vocab = counts
      .orderBy((col("cg") + col("cb")).desc, col("token")).limit(LmVocabCap)
    val stats = counts
      .agg(sum(col("cg")).as("tg"), sum(col("cb")).as("tb"),
        count(lit(1)).as("d"))
      .crossJoin(vocab.agg(
        coalesce(sum(col("cg")), lit(0L)).as("vg"),
        coalesce(sum(col("cb")), lit(0L)).as("vb")))
      .crossJoin(labeled.agg(
        sum(when(col("weak_good"), 1L).otherwise(0L)).as("ng"),
        count(lit(1)).as("nd")))
      .select(col("tg"), col("tb"),
        (least(col("d"), lit(LmVocabCap.toLong)) + lit(1L)).as("veff"),
        (col("tg") - col("vg")).as("coovg"),
        (col("tb") - col("vb")).as("coovb"),
        col("ng"), col("nd"))
    val dg = (col("tg") + col("veff")).cast("double")
    val db = (col("tb") + col("veff")).cast("double")
    val model = vocab.crossJoin(broadcast(stats))
      .select(col("token"),
        microNats((col("cg") + 1).cast("double") / dg).as("mg"),
        microNats((col("cb") + 1).cast("double") / db).as("mb"))
    val unk = stats.select(
      microNats((col("coovg") + 1).cast("double") / dg).as("umg"),
      microNats((col("coovb") + 1).cast("double") / db).as("umb"),
      microNats((col("ng") + 1).cast("double") /
        (col("nd") + 2).cast("double")).as("pmg"),
      microNats((col("nd") - col("ng") + 1).cast("double") /
        (col("nd") + 2).cast("double")).as("pmb"))
    (model, unk)
  }

  /** Score any documents frame (batch or a streaming micro-batch) against
    * a frozen NB model: broadcast hash join + per-doc partial agg, no state
    * — the online half of the deployment split ([[graft.streaming.Streams]]
    * runs it per micro-batch). The weak label is re-derived map-side (it is
    * a pure expression over `text`), so `agrees` — the
    * classifier-vs-heuristic disagreement audit — is available on arriving
    * data too. */
  def nbScoreWith(docs: DataFrame, model: DataFrame, unk: DataFrame): DataFrame =
    nbMicroWith(docs, model, unk)
      .select(col("doc_id"), col("lang"), col("source"), col("weak_good"),
        col("n_scored_tokens"),
        r4(col("lo_micro").cast("double") / 1e6).as("log_odds"),
        (col("lo_micro") > 0).as("predicted_good"))
      .withColumn("agrees", col("predicted_good") === col("weak_good"))

  /** The banned-term list for [[blocklistFilter]] — the fixture stand-in
    * for a real deployment's C4-style "List of Dirty, Naughty … Words"
    * (swap the constant; the plan is list-size-independent for any list
    * that fits a task binary). `dup` occurs in a small fraction of fixture
    * docs at every SF, so both verdicts are always exercised;
    * `zzzbanned` never occurs (the multi-term path stays live). */
  val Blocklist: Seq[String] = Seq("dup", "zzzbanned")

  /** C4-style blocklist gate (Raffel et al. 2020, §2.2: drop any document
    * containing a banned word): per-doc hit count over [[Blocklist]] and
    * the drop verdict. Map-only token-set membership — stays inside
    * whole-stage codegen, no shuffle; at 100 TB this is scan-bandwidth
    * bound like the PII scan it usually runs beside. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame =
    blocklistFilterOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — [[blocklistFilter]] over ANY (doc_id, text)
    * frame. */
  def blocklistFilterOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      markerHits(col("text"), Blocklist).cast("long").as("n_blocklist_hits"))
      .withColumn("blocked", col("n_blocklist_hits") > 0)

  /** Absolute per-million frequency shift past which a vocabulary token is
    * flagged surged/collapsed by [[vocabDrift]]. */
  val VocabDriftPpm = 500L

  /** Vocabulary DRIFT between two corpus versions — the token-side sibling
    * of [[graft.ext.Similarity.embeddingDriftOf]]: freeze the top-
    * [[LmVocabCap]] vocabulary on the OLD corpus, then compare each
    * token's per-million frequency across versions, plus one `<unk>` row
    * pooling all out-of-vocabulary mass (a surging `<unk>` is the headline
    * signal: the new data speaks words the old model never saw — retrain
    * the tokenizer/LM before trusting downstream scores). Counts are exact
    * BIGINTs; ppm = (c·10⁶) div t is PURE BIGINT division in both engines
    * (no float surface at all — a 1-ulp floor() divergence across DuckDB
    * builds cost this query its driver-green row in round 9; overflow
    * needs c > 9.2×10¹²).
    *
    * Scale shape: one token shuffle per version (explode → partial-agg) +
    * a bounded TakeOrdered vocab; both count maps are additive, so at
    * 100 TB the per-version counts come from the maintained statistics
    * fold rather than a rescan. */
  def vocabDriftOf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val onz = tokensBy(oldDocs, "doc_id")
    val nnz = tokensBy(newDocs, "doc_id")
    val oc = onz.groupBy("token").agg(count(lit(1)).as("c_old"))
    val nc = nnz.groupBy("token").agg(count(lit(1)).as("c_new"))
    val vocab = oc.orderBy(col("c_old").desc, col("token")).limit(LmVocabCap)
    val tots = onz.agg(count(lit(1)).as("t_old"))
      .crossJoin(nnz.agg(count(lit(1)).as("t_new")))
      .crossJoin(vocab.agg(coalesce(sum(col("c_old")), lit(0L)).as("vo")))
      .crossJoin(vocab.join(nc, Seq("token"), "left")
        .agg(coalesce(sum(col("c_new")), lit(0L)).as("vn")))
    val rows = vocab.join(nc, Seq("token"), "left")
      .select(col("token"), col("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
      .unionByName(tots.select(lit("<unk>").as("token"),
        (col("t_old") - col("vo")).as("c_old"),
        (col("t_new") - col("vn")).as("c_new")))
    def ppm(c: Column, t: Column): Column =
      call_function("div", c * lit(1000000L), t)
    rows.crossJoin(broadcast(tots.select(col("t_old"), col("t_new"))))
      .select(col("token"), col("c_old"), col("c_new"),
        ppm(col("c_old"), col("t_old")).as("ppm_old"),
        ppm(col("c_new"), col("t_new")).as("ppm_new"))
      .withColumn("ppm_shift", col("ppm_new") - col("ppm_old"))
      .withColumn("surged", col("ppm_shift") > VocabDriftPpm)
      .withColumn("collapsed", col("ppm_shift") < -VocabDriftPpm)
  }

  /** Registered harness for [[vocabDriftOf]]: the fixture corpus split into
    * a deterministic old/new pair by the shared mixer (production callers
    * pass two [[graft.sources.Versioned]] reads). */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val bucket = graft.ext.Sampling.mixHash(col("doc_id")) % 100
    vocabDriftOf(docs.where(bucket < 50), docs.where(bucket >= 50))
  }

  /** [[nbScoreWith]] with the class log-odds kept as the exact micro-nat
    * BIGINT `lo_micro` (positive = good) — the integer form downstream
    * gates compare and sample on without any float boundary
    * ([[Corpus.qualitySample]]); PUBLIC so a production caller with a
    * pre-trained model can gate on it directly. */
  def nbMicroWith(docs: DataFrame, model: DataFrame,
                  unk: DataFrame): DataFrame = {
    val labeled = docs.withColumn("weak_good", gopherGate.passesAll)
    val nzl = labeled
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val perDoc = nzl
      .join(broadcast(model), Seq("token"), "left")
      .crossJoin(broadcast(unk))
      .select(col("doc_id"),
        coalesce(col("mg"), col("umg")).as("mg"),
        coalesce(col("mb"), col("umb")).as("mb"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored_tokens"),
        sum(col("mg")).as("sg"), sum(col("mb")).as("sb"))
    val goodSide = coalesce(col("sg"), lit(0L)) + col("pmg")
    val badSide = coalesce(col("sb"), lit(0L)) + col("pmb")
    labeled.select(col("doc_id"), col("lang"), col("source"), col("weak_good"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(unk))
      .select(col("doc_id"), col("lang"), col("source"), col("weak_good"),
        coalesce(col("n_scored_tokens"), lit(0L)).as("n_scored_tokens"),
        (badSide - goodSide).as("lo_micro"))
  }

  /** Global deciles for [[nbCalibration]]. */
  val CalibrationDeciles = 10

  /** NB classifier CALIBRATION CURVE — the reliability diagram as data:
    * rank every document by the exact integer log-odds (lo_micro desc,
    * doc_id), cut into [[CalibrationDeciles]] GLOBAL deciles, and report
    * per decile the gate-agreement rate (weak-label pass rate as an exact
    * ppm), predicted-good count, and the decile's log-odds bounds. A
    * healthy classifier's gate-pass rate falls monotonically across
    * deciles; inversions in this table are the retrain signal a corpus
    * release review reads next to the data card. No float surface: scores
    * are the micro-nat BIGINTs, rates are idiv ppm.
    *
    * Scale shape: scoring is the broadcast-model map-only pass; the decile
    * cut rides the distributed [[graft.engine.Rank.globalNtile]] (no
    * single-partition sort); the final agg is 10 groups with map-side
    * partials. */
  def nbCalibration(spark: SparkSession, dir: String): DataFrame =
    nbCalibrationOf(Sources.documents(spark, dir))

  /** PRODUCTION ENTRY — [[nbCalibration]] over ANY documents frame. */
  def nbCalibrationOf(docs: DataFrame): DataFrame = {
    val (model, unk) = nbModelFrames(docs)
    val scored = nbMicroWith(docs, model, unk)
    val dec = graft.engine.Rank.globalNtile(scored, CalibrationDeciles,
      "decile", col("lo_micro").desc, col("doc_id").asc)
    dec.groupBy("decile").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("weak_good"), 1L).otherwise(0L)).as("n_gate_pass"),
        sum(when(col("lo_micro") > 0, 1L).otherwise(0L)).as("n_pred_good"),
        max(col("lo_micro")).as("lo_micro_max"),
        min(col("lo_micro")).as("lo_micro_min"))
      .select(col("decile"), col("n_docs"), col("n_gate_pass"),
        Num.idiv(col("n_gate_pass") * 1000000L, col("n_docs"))
          .as("gate_pass_ppm"),
        col("n_pred_good"), col("lo_micro_max"), col("lo_micro_min"))
  }

  // ------------------------------- DSIR importance-weighted data selection

  /** Hashed n-gram feature-space size for [[dsirSelect]] — DSIR's hashed
    * bag-of-bigrams device: every bigram maps to one of this many buckets
    * via the shared rolling hash, bounding BOTH distribution models at a
    * broadcastable 8 KB whatever the corpus size. */
  val DsirBuckets = 1024L
  /** Keep the top 1/this of documents by importance weight. */
  val DsirKeepDen = 4L

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score each raw document by how much more likely its hashed-bigram bag
    * is under a TARGET distribution than under the raw-corpus distribution,
    * then keep the top fraction. The published method resamples with Gumbel
    * noise; this is the deterministic rank analog (same estimator,
    * reproducible selection — the same stand-in [[graft.ext.Corpus.curriculum]]
    * makes for curriculum shuffling).
    *
    * Target here = the Gopher-gate-passing subset (the same weak
    * supervision [[nbQuality]] trains on — DSIR shifts the corpus toward
    * that distribution by CONTENT, not by re-running the gate: a doc can
    * fail a length gate yet select, because its n-grams look like quality
    * text). Production callers pass any target frame via [[dsirSelectOf]]
    * (e.g. a trusted high-quality corpus — DSIR's Wikipedia-target setup).
    *
    * Exactness: both unigram-over-features models use the established
    * micro-nat device — per-feature weight m(f) = microNats(p_raw) −
    * microNats(p_target) with Laplace (+1)/(T+B) smoothing — and the
    * per-doc importance log-weight is an exact BIGINT sum of m(f) over the
    * doc's feature OCCURRENCES. Selection is the distributed global rank
    * with a pure integer quota.
    *
    * Scale shape: one bigram-explode shuffle per model (raw and target,
    * counts at B-bucket grain with map-side combine), the ≤[[DsirBuckets]]-row
    * weight table broadcasts back, scoring is map-only + one doc-grain agg;
    * ranking rides [[graft.plans.GlobalRank]]. At 100 TB the target model
    * folds incrementally like every other count state. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    dsirSelectOf(docs, docs.where(gopherGate.passesAll))
  }

  /** PRODUCTION ENTRY — [[dsirSelect]] over ANY (doc_id, lang, source,
    * text) frame and explicit target frame. */
  def dsirSelectOf(docs: DataFrame, target: DataFrame): DataFrame = {
    def feats(d: DataFrame): DataFrame = d
      .where(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(ngrams(col("text"), 2)).as("bg"))
      .select(col("doc_id"),
        pmod(rollingHash(col("bg")), lit(DsirBuckets)).as("f"))
    val rawC = feats(docs).groupBy("f").agg(count(lit(1)).as("cr"))
    val tgtC = feats(target).groupBy("f").agg(count(lit(1)).as("ct"))
    val tots = rawC.agg(sum(col("cr")).as("tr"))
      .crossJoin(tgtC.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    // per-feature importance weight in exact micro-nats; ≤ B rows
    val weights = rawC.join(tgtC, Seq("f"), "left").crossJoin(broadcast(tots))
      .select(col("f"),
        (microNats((col("cr") + 1).cast("double") /
            (col("tr") + DsirBuckets).cast("double")) -
          microNats((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("tt") + DsirBuckets).cast("double"))).cast("long").as("m"))
    val perDoc = feats(docs)
      .join(broadcast(weights), Seq("f")) // every doc feature is in rawC
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"), sum(col("m")).as("lw"))
    val scored = docs.select(col("doc_id"), col("lang"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("lw"), lit(0L)).as("_lw"))
    val ranked = graft.plans.GlobalRank.withRankColumns(scored,
      Seq(col("_lw").desc, col("doc_id").asc), "_rn", "_rk", "_tot")
    ranked.select(col("doc_id"), col("lang"), col("source"), col("n_features"),
      Num.r4(col("_lw").cast("double") / 1e6).as("log_weight"),
      col("_rn").as("dsir_rank"),
      (col("_rn") <= Num.idiv(col("_tot"), lit(DsirKeepDen))).as("selected"))
  }

  // --------------------------- eval-set decontamination (n-gram collision)

  /** N-gram size for [[decontaminate]]. Published decontamination filters
    * key on 8-13-gram collisions (GPT-3's 13-gram appendix-C filter and its
    * descendants); 5 matches this fixture's 10-99-token documents so both
    * verdicts occur. One knob, shared with the DuckDB twin. */
  val ContamN = 5
  /** Percent of the mix split held out as the eval set. */
  val ContamEvalPct = 10

  /** Benchmark DECONTAMINATION — the filter every serious pretraining run
    * applies before training: flag TRAIN documents that share any
    * [[ContamN]]-gram with a held-out EVAL set, so eval answers can't leak
    * into the training corpus. Per train doc: its distinct n-gram count,
    * how many of those collide with the eval set, the collision rate as an
    * exact BIGINT ppm ([[Num.idiv]] — zero float surface), and the flag.
    *
    * The fixture split is the shared [[graft.ext.Sampling.mixHash]] device
    * (top [[ContamEvalPct]]% of buckets = eval); production callers pass a
    * real benchmark suite via [[decontaminateOf]].
    *
    * Scale shape — the reason this works at 100 TB: eval suites are tiny
    * and FIXED (a few MB of n-grams) while the corpus is the 100-TB side,
    * so the eval n-gram set BROADCASTS and the train side is one map-only
    * semi-join over the exploded n-gram stream (no shuffle of corpus
    * n-grams at all), followed by a single doc-grain count aggregation
    * with map-side partials. Nothing in the plan grows with corpus size
    * except the linear scan itself. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val bucket = graft.ext.Sampling.mixHash(col("doc_id")) % 100
    decontaminateOf(docs.where(bucket < 100 - ContamEvalPct),
      docs.where(bucket >= 100 - ContamEvalPct))
  }

  /** The distinct [[ContamN]]-gram stream of a documents frame — per
    * (doc_id, g). Exposed so the streaming ingest can FREEZE an eval
    * suite's gram set once instead of recomputing it per micro-batch. */
  private[graft] def contamGrams(d: DataFrame): DataFrame = d
    .where(size(tokens(col("text"))) >= ContamN)
    .select(col("doc_id"),
      explode(array_distinct(ngrams(col("text"), ContamN))).as("g"))

  /** PRODUCTION ENTRY — [[decontaminate]] of ANY (doc_id, lang, source,
    * text) train frame against an explicit eval frame. */
  def decontaminateOf(train: DataFrame, eval: DataFrame): DataFrame =
    decontaminateAgainstGrams(train, contamGrams(eval).select("g").distinct())

  /** [[decontaminateOf]] with the eval side already reduced to its distinct
    * gram set (one `g` column) — the frozen-reference form the streaming
    * gate broadcasts per micro-batch. */
  private[graft] def decontaminateAgainstGrams(train: DataFrame,
                                               evalGrams: DataFrame): DataFrame = {
    val hits = contamGrams(train)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    val base = train.select(col("doc_id"), col("lang"), col("source"),
      when(size(tokens(col("text"))) >= ContamN,
        size(array_distinct(ngrams(col("text"), ContamN))).cast("long"))
        .otherwise(lit(0L)).as("n_ngrams"))
    base.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("n_ngrams"),
        coalesce(col("hits"), lit(0L)).as("n_contaminated"),
        when(col("n_ngrams") > 0,
          Num.idiv(coalesce(col("hits"), lit(0L)) * 1000000L, col("n_ngrams")))
          .otherwise(lit(0L)).as("contamination_ppm"),
        (coalesce(col("hits"), lit(0L)) >= 1).as("contaminated"))
  }

  // ------------------------------------ BM25 retrieval (integer-exact top-k)

  /** Top percent of the mix split whose documents become queries. */
  val Bm25QueryPct = 5
  /** A query is the first this-many tokens of its source document. */
  val Bm25QueryTokens = 6
  /** Results kept per query. */
  val Bm25TopK = 5

  /** BM25 top-k retrieval — the lexical search layer of a RAG / data-audit
    * stack, with the ENTIRE score in exact integer arithmetic so the DuckDB
    * twin hashes bit-identically:
    *
    *  - idf: BM25's ln(1 + (N−df+½)/(df+½)) collapses to the single-ratio
    *    form ln((2N+2)/(2df+1)), evaluated once per TERM via the
    *    [[microNats]] device (same contract as the NB/LM models: one
    *    identical IEEE ln at model grain, pre-rounded to a BIGINT).
    *  - tf saturation with k1=1.2, b=0.75: tf·(k1+1)/(tf+k1(1−b+b·dl/avgdl)).
    *    Clearing denominators (k1=6/5, b=3/4, avgdl=T/N) gives
    *    22·tf / (10·tf + 3 + 9·dl·N/T); with dl·N/T pre-rounded to micro
    *    units by [[Num.idiv]], the saturation is one BIGINT quotient —
    *    every step after the per-term ln is integer-exact in both engines.
    *    (Overflow bound: dl·N·10⁶ < 2⁶³ holds to N·dl ≈ 9·10¹²; a 100-TB
    *    deployment with more documents pre-divides T/N once.)
    *
    * Fixture queries are known-item probes: the first [[Bm25QueryTokens]]
    * tokens of the top-[[Bm25QueryPct]]% mix-split docs (production passes
    * real queries via [[bm25TopKOf]]). The fixture's synthetic ~40-token
    * vocabulary is deliberately non-discriminative, so self-retrieval@1 is
    * NOT expected there — the operator's contract is the deterministic
    * ranking, pinned by the oracle.
    *
    * Scale shape: the query term set broadcasts (queries ≪ corpus), so tf
    * postings for query terms come off ONE map-side-filtered scan with a
    * (doc,term)-grain partial agg; df derives from the postings (no second
    * scan); scoring is map-only; one (qid,doc) shuffle aggregates scores and
    * the per-query top-k rides WindowGroupLimit — per-partition heads of k,
    * never a full sort of the candidate set. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    bm25TopKOf(docs, bm25FixtureQueries(docs))
  }

  /** The fixture's known-item probe queries — shared with the persisted
    * index twins so all three arms score the identical query set. */
  private[graft] def bm25FixtureQueries(docs: DataFrame): DataFrame = {
    val bucket = graft.ext.Sampling.mixHash(col("doc_id")) % 100
    docs.where(bucket >= 100 - Bm25QueryPct)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(tokens(col("text")), 1, Bm25QueryTokens))
          .as("qtext"))
  }

  /** Query-batch size of the SEARCH-ONLY index arm. The fixture query set
    * grows with the corpus (a fixed percent of docs), which is the right
    * harness for the batch operator and the build+search idempotence twin —
    * but it conflates query-batch growth with corpus growth, so a
    * "search-only" bench number over it measures an ever-larger workload,
    * not the index. A deployment search is a FIXED query batch against a
    * growing corpus; this cap (the [[Similarity.CalQueries]] device) makes
    * `text_bm25_index_search`'s number exactly that. */
  val Bm25SearchQueries = 200

  /** The first [[Bm25SearchQueries]] fixture queries by (mix, qid) — a
    * deterministic bounded TakeOrdered, portable to the DuckDB twin. */
  private[graft] def bm25BoundedQueries(docs: DataFrame): DataFrame =
    bm25FixtureQueries(docs)
      .orderBy(graft.ext.Sampling.mixHash(col("qid")), col("qid"))
      .limit(Bm25SearchQueries)

  /** [[bm25BoundedQueries]] as a session-shared LocalRelation
    * (OPTIMIZATION r15). The batch is a deterministic, BOUNDED
    * (≤ [[Bm25SearchQueries]] rows) function of the immutable corpus — the
    * frozen-model contract [[graft.ext.SessionVal]] serves — and before
    * this every consumer plan (the search-only arm, the RM3 arm, the
    * hybrid's two arms, the retrieval-quality audit and its `n_queries`
    * aggregate) re-derived it with its OWN corpus scan + TakeOrdered
    * subtree: 2–4 redundant corpus passes per query at any scale. A
    * deployment's query batch is a small fixed INPUT to search, not
    * something each probe re-mines from the corpus. Rows are identical by
    * determinism (TextIndexSpec/HybridSpec pin consumers row-for-row). */
  private[graft] def bm25BoundedQueriesShared(spark: SparkSession,
                                              dir: String): DataFrame = {
    val (schema, rows) = SessionVal(s"bm25q#$dir") {
      val df = bm25BoundedQueries(Sources.documents(spark, dir))
      (df.schema, df.collect())
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** (qid, token) distinct query terms of a (qid, qtext) frame. */
  private[graft] def bm25QueryTerms(queries: DataFrame): DataFrame =
    queries.select(col("qid"),
      explode(array_distinct(filter(tokens(col("qtext")), t => t =!= "")))
        .as("token"))

  /** PRODUCTION ENTRY — [[bm25TopK]] of ANY (qid, qtext) query frame
    * against a (doc_id, text) corpus. Distinct query terms (6-token probe
    * queries carry no meaningful within-query tf). */
  def bm25TopKOf(docs: DataFrame, queries: DataFrame): DataFrame = {
    val nzTokens = filter(tokens(col("text")), t => t =!= "")
    val tots = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(size(nzTokens)), lit(0)).cast("long").as("t"))
    val qterms = bm25QueryTerms(queries)
    val tf = docs
      .select(col("doc_id"), size(nzTokens).cast("long").as("dl"),
        explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .join(broadcast(qterms.select("token").distinct()), Seq("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    bm25Tail(qterms, tf, tots)
  }

  /** The BM25 scoring tail shared by the batch operator and the persisted
    * index ([[TextIndex.search]]): df derived from the (token, doc_id,
    * tf, dl) postings of the QUERY TERMS (postings are unique per
    * (token, doc) by construction in both producers, so count == df),
    * then the integer-exact score and the WindowGroupLimit top-k. The two
    * producers feed bit-identical postings frames, so their outputs are
    * bit-identical — the indexed twins share the batch operator's DuckDB
    * oracle. */
  private[graft] def bm25Tail(qterms: DataFrame, tf: DataFrame,
                              tots: DataFrame): DataFrame =
    bm25WeightedTail(qterms.withColumn("w", lit(1000000L)), tf, tots)

  /** [[bm25Tail]] over a tf frame already carrying `df` (the index search's
    * window-derived form — see [[bm25WeightedTail]]'s df note). */
  private[ext] def bm25TailWithDf(qterms: DataFrame, tfWithDf: DataFrame,
                                  tots: DataFrame): DataFrame =
    bm25WeightedTailWithDf(qterms.withColumn("w", lit(1000000L)), tfWithDf, tots)

  /** The weighted form of [[bm25Tail]]: each (qid, token) carries a ppm
    * weight `w` and the per-term integer score multiplies by `w // 1e6`
    * AFTER the exact BM25 score — `w = 1e6` is BIT-IDENTICAL to the
    * unweighted tail (`idiv(s·1e6, 1e6) ≡ s`), so the batch/index
    * bit-identity contract is untouched (TextIndexSpec re-pins it).
    * Weighted terms are the RM3 expansion device ([[bm25Rm3Of]]). */
  private[ext] def bm25WeightedTail(qterms: DataFrame, tf: DataFrame,
                                    tots: DataFrame): DataFrame = {
    // df(token) = number of tf rows per token, derived the way each
    // producer's layout makes cheap (OPTIMIZATION r16): the batch
    // operator's tf ends in a (doc, token) agg whose exchange does NOT
    // cluster tokens, so it keeps the groupBy + broadcast-back (the
    // duplicated subtree collapses via exchange reuse there — a window
    // would add a real exchange, measured +6% on text_bm25_topk); the
    // INDEX search passes tf with df already counted over its bucketed
    // scan ([[bm25WeightedTailWithDf]]) — no second postings scan.
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    bm25WeightedTailWithDf(qterms,
      tf.join(broadcast(dfreq), Seq("token")), tots)
  }

  /** The scoring tail over a tf frame that ALREADY carries `df` — both
    * entry points end here, so the integer score expression exists once. */
  private[ext] def bm25WeightedTailWithDf(qterms: DataFrame, tf: DataFrame,
                                          tots: DataFrame): DataFrame = {
    // the unweighted per-(token, doc) score depends only on the posting
    // (tf, dl) and the model scalars (df, N, T) — NOT on the query — so it
    // is computed ON the postings BEFORE the query fan-out (OPTIMIZATION
    // r16): the ln + BIGINT saturation run once per posting row instead of
    // once per (qid, token, doc) joined row (the fixture's ~40-token
    // vocabulary fans each posting out to ~30 queries — 4.5M score
    // evaluations where 150k suffice; a production corpus fans out less,
    // but the factoring is free). The weight multiply stays after the
    // fan-out, splitting the SAME expression tree at its existing
    // idiv(·,1e6) boundary — bit-identical by construction.
    val base = tf
      .crossJoin(broadcast(tots))
      .select(col("token"), col("doc_id"),
        Num.idiv(
          microNats((col("df") * 2 + 1).cast("double") /
            (col("n") * 2 + 2).cast("double")).cast("long") *
            Num.idiv(col("tf") * lit(22000000000000L),
              (col("tf") * 10L + 3L) * 1000000L +
                Num.idiv(col("dl") * col("n") * 1000000L, col("t")) * 9L),
          lit(1000000L)).as("s0"))
    val scored = qterms.join(base, Seq("token"))
      .select(col("qid"), col("doc_id"),
        Num.idiv(col("s0") * col("w"), lit(1000000L)).as("s"))
    val agg = scored.groupBy("qid", "doc_id")
      .agg(sum(col("s")).as("score_mn"), count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score_mn").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w))
      .where(col("rank") <= Bm25TopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("score_mn"),
        col("n_terms"), (col("qid") === col("doc_id")).as("self_hit"))
  }

  /** Expansion terms mined per query by the PRF pass. */
  val Rm3ExpTerms = 3
  /** Expansion-term weight, ppm of an original term (RM3's interpolation
    * as one exact integer: originals 1e6, expansions 5e5 — a 2:1 mix). */
  val Rm3ExpWeightPpm = 500000L

  /** PSEUDO-RELEVANCE-FEEDBACK RETRIEVAL — the RM3 recipe (Lavrenko &
    * Croft, SIGIR 2001; Abdul-Jaleel et al., TREC 2004) on the
    * integer-exact BM25 stack: (1) first-pass top-k per query; (2) mine
    * the [[Rm3ExpTerms]] most frequent NON-query terms from each query's
    * top docs (ties → token order); (3) re-score with the expanded term
    * set, expansion terms at [[Rm3ExpWeightPpm]] weight through
    * [[bm25WeightedTail]]. Every step BIGINT — both engines rank
    * bit-identically.
    *
    * Scale shape: the first pass is the standard BM25 probe; mining joins
    * the corpus token stream against the BROADCAST (qid, top-doc) list —
    * queries·k rows, map-side — with a bounded per-qid window; the second
    * pass is one more postings probe over ≤ |q|+[[Rm3ExpTerms]] terms per
    * query. At deployment both probes ride the persisted [[TextIndex]]
    * postings instead of scans. */
  def bm25Rm3Of(docs: DataFrame, queries: DataFrame): DataFrame = {
    val first = bm25TopKOf(docs, queries).select("qid", "doc_id")
    val qt = bm25QueryTerms(queries)
    val docToks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val exp = docToks.join(broadcast(first), Seq("doc_id"))
      .join(qt, Seq("qid", "token"), "left_anti")
      .groupBy("qid", "token").agg(count(lit(1)).as("etf"))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("etf").desc, col("token"))))
      .where(col("_rk") <= Rm3ExpTerms)
      .select(col("qid"), col("token"), lit(Rm3ExpWeightPpm).as("w"))
    val qt2 = qt.withColumn("w", lit(1000000L)).unionByName(exp)
    val nzTokens = filter(tokens(col("text")), t => t =!= "")
    val tots = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(size(nzTokens)), lit(0)).cast("long").as("t"))
    val tf = docs
      .select(col("doc_id"), size(nzTokens).cast("long").as("dl"),
        explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .join(broadcast(qt2.select("token").distinct()), Seq("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    bm25WeightedTail(qt2, tf, tots)
  }

  /** Registered harness: RM3 over the fixed bounded query batch. */
  def bm25Rm3(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    bm25Rm3Of(docs, bm25BoundedQueries(docs))
  }
}
