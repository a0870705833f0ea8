package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.Num._

/** Structured Streaming incrementalization of the engine.
  *
  * The reference is batch snapshot-overwrite (SURVEY.md §2.8: "incremental"
  * = idempotent re-run + keep-latest dedup). This module is the true
  * incremental form: the same semantics computed over an unbounded stream
  * with bounded state.
  *
  *  - [[tumblingHourly]] / [[sessionWindows]]: watermarked windowed aggs —
  *    streaming twins of [[graft.ext.Events.tumblingHourly]]/`sessions`
  *    (state evicted once the watermark passes the window end).
  *  - [[keepLatest]]: the reference's W1 ROW_NUMBER dedup as
  *    `dropDuplicatesWithinWatermark` — first row per key wins within the
  *    watermark horizon, state bounded by the horizon.
  *  - [[sessionize]]: custom per-user session state via
  *    flatMapGroupsWithState (event-time timeout) for semantics
  *    session_window can't express (e.g. emitting evolving session
  *    snapshots or per-session custom payloads).
  *  - [[mergeStream]]: foreachBatch → [[graft.sources.Sinks.mergeKeepLatest]]
  *    — the MERGE-into-snapshot loop that makes the lakehouse incremental.
  *
  * All operators take a DataFrame so they run identically on a batch frame
  * (spark.read) and a stream (spark.readStream) — StreamingSpec pins the
  * batch/stream equivalence on the events fixture.
  */
object Streams {

  val DefaultWatermark = "1 hour"

  /** Hourly tumbling counts/value per event type. `countDistinct` is not
    * incrementalizable (needs full per-window user sets); streaming swaps it
    * for the mergeable HLL sketch `approx_count_distinct` — the one
    * intentional delta vs the batch twin. */
  def tumblingHourly(events: DataFrame, watermark: String = DefaultWatermark): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct("user_id").as("n_users_approx"),
        r2(dsum(col("value"))).as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("n_users_approx"), col("total_value"))

  /** 60-minute windows sliding every 15 — each event lands in 4 windows;
    * state evicts as the watermark passes each window end. */
  def slidingHourly(events: DataFrame, watermark: String = DefaultWatermark): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        r2(dsum(col("value"))).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("total_value"))

  /** Gap-based sessions via Spark's native session_window (merges windows
    * within the gap; streaming state closes when watermark passes). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = DefaultWatermark): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        r2(dsum(col("value"))).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Keep-first-per-key within the watermark horizon (streaming form of the
    * reference's keep-latest W1: upstream retries/duplicates collapse). */
  def keepLatest(df: DataFrame, keys: Seq[String], tsCol: String = "ts",
                 watermark: String = DefaultWatermark): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  // ------------------------------------------------- custom session state

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class SessionAcc(startUs: Long, endUs: Long, n: Long, value: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Long, session_value: Double, duration_sec: Double)

  val SessionGapMinutes = 30

  private def toUs(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
  private def fromUs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  private def emit(uid: Long, s: SessionAcc): Session =
    Session(uid, fromUs(s.startUs), fromUs(s.endUs), s.n,
      math.floor(s.value * 100 + 0.5) / 100,
      math.floor((s.endUs - s.startUs) / 1e6 * 100 + 0.5) / 100)

  /** Per-user gap sessionization with explicit state: events fold into the
    * open session; a gap > [[SessionGapMinutes]] closes it (emitted) and
    * opens the next; event-time timeout (watermark + gap) flushes sessions
    * whose user went quiet. State per user is one fixed-size record —
    * bounded by |active users|, not by event volume. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = SessionGapMinutes * 60L * 1000000L

    def fn(uid: Long, rows: Iterator[Ev], state: GroupState[SessionAcc]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit(uid, _)).iterator
        state.remove()
        return out
      }
      var acc = state.getOption.orNull
      val closed = Seq.newBuilder[Session]
      rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
        val us = toUs(e.ts)
        acc match {
          case null =>
            acc = SessionAcc(us, us, 1, e.value)
          case a if us - a.endUs > gapUs =>
            closed += emit(uid, a)
            acc = SessionAcc(us, us, 1, e.value)
          case a =>
            acc = SessionAcc(a.startUs, math.max(a.endUs, us), a.n + 1, a.value + e.value)
        }
      }
      if (acc != null) {
        state.update(acc)
        // wake when the watermark passes the gap after the last event
        state.setTimeoutTimestamp((acc.endUs + gapUs) / 1000)
      }
      closed.result().iterator
    }

    events.withWatermark("ts", DefaultWatermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Stream-stream INTERVAL JOIN: each purchase paired with the same user's
    * view events from the preceding hour — the canonical attribution join.
    * Both sides are watermarked and the range condition bounds the join
    * state to interval + watermark horizon, so state never grows with the
    * stream. On a batch frame the identical code is a plain range join
    * (StreamingSpec pins the batch/stream pair equality). */
  def purchaseViewPairs(events: DataFrame, watermark: String = DefaultWatermark): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id").as("view_user"), col("event_id").as("view_event_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(views,
      col("view_user") === col("user_id") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") < col("purchase_ts"))
      .select("purchase_event_id", "user_id", "purchase_ts", "view_event_id", "view_ts")
  }

  /** The incremental-lakehouse write loop: every micro-batch MERGEs into the
    * parquet snapshot at `path` (keep-highest-`seqCol` per `keys`). */
  def mergeStream(df: DataFrame, path: String, keys: Seq[String], seqCol: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.mergeKeepLatest(batch, path, keys, seqCol)
      }
      .start()

  /** STREAMING LM QUALITY SCORING — the online half of the perplexity
    * filter's train-offline/score-online deployment split: every arriving
    * document is scored against a FROZEN corpus LM
    * ([[graft.ext.Text.lmModelFrames]], built by the scheduled offline
    * pass) and appended with its cross-entropy/perplexity/outlier verdict.
    * foreachBatch keeps the batch scorer's exact plan per micro-batch
    * (broadcast model hash-join + per-doc agg over the batch's own rows
    * only), so stream and batch scores are bit-identical for any batching
    * (StreamingSpec proves row equality against
    * [[graft.ext.Text.lmScore]] on the real corpus). No state store: the
    * model is static and scoring is per-doc independent.
    *
    * Replay safety (same convention as every incremental sink here —
    * [[ingestDedupBatch]], [[graft.ext.VectorIndex.ingest]]): each
    * micro-batch lands in its OWN `batch=<id>` directory with overwrite
    * semantics, so a crash between the write and the checkpoint advance
    * replays the batch INTO THE SAME DIRECTORY instead of appending a
    * duplicate copy — foreachBatch is at-least-once, and a plain append
    * sink would double the replayed rows.
    *
    * Model freezing: the frames from [[graft.ext.Text.lmModelFrames]] are
    * lazy plans; executed per batch they would re-run the whole training
    * pass on every micro-batch AND drift if the underlying corpus mutates
    * mid-stream. They are bounded (≤ [[graft.ext.Text.LmVocabCap]]+1 rows
    * by construction — the broadcastability invariant), so this entrypoint
    * MATERIALIZES them to local relations once, before the stream starts:
    * train-offline is made literal, no pins to manage, nothing re-executes
    * on the hot path. */
  def lmScoredIngest(docs: DataFrame, model: DataFrame, unk: DataFrame,
                     outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    frozenScoredIngest(docs, model, unk, outPath, checkpoint)(
      graft.ext.Text.lmScoreWith)

  /** STREAMING TOKENIZER APPLY (VERDICT r12 #5) — the online half of the
    * BPE deployment split: [[graft.ext.Text.bpeMergesLocal]] mines the
    * merge table ONCE, offline, on the training corpus; every arriving
    * micro-batch is then encoded against that frozen table
    * ([[graft.ext.Text.bpeTokenizeWith]] — the M literal replaces at
    * distinct-token grain, per-doc independent, so stream/batch parity is
    * structural for any batching). The table is already a bounded
    * driver-side Seq (≤ [[graft.ext.Text.BpeTopMerges]] rows), so there is
    * nothing to re-freeze: it ships with the lambda, nothing retrains or
    * drifts on the hot path. Same replay discipline as every scored
    * ingest: one `batch=<id>` overwrite partition per micro-batch
    * (at-least-once replays rewrite, never append). */
  def bpeTokenizeIngest(docs: DataFrame, merges: Seq[(String, String)],
                        outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Text.bpeTokenizeWith(batch, merges)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** STREAMING NB QUALITY SCORING — the online half of the learned quality
    * classifier's deployment split ([[graft.ext.Text.nbModelFrames]] trains
    * offline; this scores every arriving document against the frozen
    * model). Same harness and guarantees as [[lmScoredIngest]]: bounded
    * model frames materialized once before the stream starts, stateless
    * per-batch scoring bit-identical to the batch scorer, and replay-safe
    * `batch=<id>` overwrite partitions. */
  def nbScoredIngest(docs: DataFrame, model: DataFrame, unk: DataFrame,
                     outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    frozenScoredIngest(docs, model, unk, outPath, checkpoint)(
      graft.ext.Text.nbScoreWith)

  /** The shared frozen-model scored-ingest harness behind
    * [[lmScoredIngest]] and [[nbScoredIngest]]: materialize the two bounded
    * model frames to local relations once (train-offline made literal —
    * nothing re-executes or drifts on the hot path), then per micro-batch
    * apply the batch scorer to the batch's own rows and land them in their
    * `batch=<id>` overwrite partition (at-least-once replays rewrite). */
  private def frozenScoredIngest(docs: DataFrame, model: DataFrame,
                                 unk: DataFrame, outPath: String, checkpoint: String)
                                (score: (DataFrame, DataFrame, DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    def frozen(df: DataFrame): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    val (fModel, fUnk) = (frozen(model), frozen(unk))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        score(batch, fModel, fUnk)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()
  }

  /** STREAMING PII SCRUB — the redaction gate run at the ingest boundary,
    * so raw identifiers never land in the durable corpus: every arriving
    * document passes through [[graft.ext.Pii.redactedOf]] (map-only codegen
    * regex — no state, no shuffle, per-doc independent) and is written with
    * its redaction count for the scrub audit. Stream/batch parity is
    * structural: foreachBatch applies the exact batch operator to each
    * micro-batch's own rows, so any batching yields the same rows
    * (StreamingSpec proves sorted-sequence equality against the batch
    * scrubber on the synthetic-PII corpus).
    *
    * Replay safety: the standard convention here — each micro-batch owns a
    * `batch=<id>` overwrite partition, so at-least-once foreachBatch
    * replays REWRITE rather than append. The raw `text` column is dropped
    * from the sink on purpose: a scrubbed store that also carries the
    * unscrubbed text has scrubbed nothing. */
  def piiScrubIngest(docs: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Pii.redactedOf(batch)
          .drop("text")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** STREAMING DECONTAMINATION GATE — eval-suite n-gram collision flagging
    * at the ingest boundary, so benchmark leakage is caught on ARRIVAL
    * rather than in a pre-release sweep. Eval suites are tiny, fixed, and
    * version-pinned per corpus release, so the suite's distinct gram set is
    * FROZEN once at query start (a local frame — same bounded-control-plane
    * contract as the frozen LM/NB model frames) and broadcast into each
    * micro-batch's map-side semi-join: the arriving corpus n-gram stream is
    * never shuffled, exactly the batch operator's plan
    * ([[graft.ext.Text.decontaminateOf]]). Stateless per doc → stream ==
    * batch for any batching; replay rewrites its own `batch=<id>`
    * overwrite partition. */
  def decontaminateIngest(docs: DataFrame, evalDocs: DataFrame,
                          outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val gramsDf = graft.ext.Text.contamGrams(evalDocs).select("g").distinct()
    val frozenGrams = spark.createDataFrame(
      java.util.Arrays.asList(gramsDf.collect(): _*), gramsDf.schema)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Text.decontaminateAgainstGrams(batch, frozenGrams)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()
  }

  /** STREAMING MEDIA FEATURE EXTRACTION — the multimodal ingest plumbing:
    * each micro-batch of media blobs is byte-balanced (blob-size skew, not
    * row count, is the media failure mode) and decoded through the REAL
    * codec leaf ([[graft.ext.Multimodal.extractFeatures]] — batched
    * mapPartitions, one codec init per [[graft.ext.Multimodal.DecodeBatch]]
    * rows), features landing in the standard replay-safe `batch=<id>`
    * overwrite partition. Stateless: stream == batch for any batching. */
  def mediaFeatureIngest(media: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestMediaBatch(batch, outPath, batchId)
      }
      .start()

  /** One micro-batch of [[mediaFeatureIngest]]. */
  private[graft] def ingestMediaBatch(batch: DataFrame, outPath: String,
                                      batchId: Long): Unit = {
    import batch.sparkSession.implicits._
    import graft.ext.Multimodal
    Multimodal.extractFeatures(
      Multimodal.balancedByBytes(batch.as[Multimodal.MediaFile],
        batch.sparkSession.sparkContext.defaultParallelism))
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
  }

  /** THE COMPOSED CORPUS WRITE PATH — one streaming ingest running the
    * whole quality stack per micro-batch, in the order a production corpus
    * builder runs it: PII scrub at the boundary (raw text never lands),
    * LSH near-dup gate against everything ever seen (the
    * [[ingestDedupBatch]] store + semantics — transitive chains included),
    * then frozen-model LM + NB scoring of the SURVIVORS only (dedup first:
    * scoring rejected copies is wasted compute at 100 TB). Store layout
    * under `storePath`: `dedup/` (the band index + all arrivals + per-batch
    * kept sets) and `scored/batch=<id>` (the scored training corpus).
    *
    * Replay safety: every write inside is either a batch-owned overwrite
    * partition or the band table's replay-scoped dynamic overwrite, so
    * at-least-once foreachBatch rewrites instead of appending. Stream ==
    * batch: under in-order arrival the kept set reproduces
    * [[graft.ext.Dedup.nearDupFiltered]] exactly, and scoring is the batch
    * scorer per micro-batch (StreamingSpec proves sorted-row equality of
    * the final scored store against the batch chain). */
  def corpusIngest(docs: DataFrame, storePath: String,
                   lmModel: DataFrame, lmUnk: DataFrame,
                   nbModel: DataFrame, nbUnk: DataFrame,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    def frozen(df: DataFrame): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    val (fLm, fLmU, fNb, fNbU) =
      (frozen(lmModel), frozen(lmUnk), frozen(nbModel), frozen(nbUnk))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestCorpusBatch(batch, storePath, batchId, fLm, fLmU, fNb, fNbU)
      }
      .start()
  }

  /** One micro-batch of [[corpusIngest]]: scrub → dedup gate → score. */
  private[graft] def ingestCorpusBatch(batch0: DataFrame, storePath: String,
                                       batchId: Long,
                                       lmModel: DataFrame, lmUnk: DataFrame,
                                       nbModel: DataFrame, nbUnk: DataFrame): Unit = {
    import graft.ext.{Pii, Text}
    val spark = batch0.sparkSession
    val scrubbed = Pii.redactedOf(batch0)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_redactions"), col("redacted_text").as("text"))
    ingestDedupBatch(scrubbed, s"$storePath/dedup", batchId)
    // the dedup gate's own durable output is the batch's kept partition —
    // reading it back (not re-deriving) keeps scrub/dedup/score agreeing
    // byte-for-byte on replay
    val kept = spark.read.parquet(s"$storePath/dedup/kept/batch=$batchId")
    val lm = Text.lmScoreWith(kept, lmModel, lmUnk)
      .select(col("doc_id"), col("n_scored_tokens"), col("cross_entropy"),
        col("perplexity"), col("is_lm_outlier"))
    val nb = Text.nbScoreWith(kept, nbModel, nbUnk)
      .select(col("doc_id"), col("weak_good"), col("log_odds"),
        col("predicted_good"), col("agrees"))
    kept.join(lm, Seq("doc_id")).join(nb, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$storePath/scored/batch=$batchId")
  }

  /** STREAMING NEAR-DUP INGESTION — the corpus-building write path: each
    * micro-batch of documents is LSH-checked against everything ever seen
    * (and against itself), verified duplicates are rejected, and survivors
    * append to the kept corpus. The dedup store indexes ALL arrivals —
    * including rejected ones — because a future doc can duplicate a doc
    * that was itself rejected (transitive chains).
    *
    * Semantics: a new doc is rejected iff it forms a verified (exact
    * Jaccard ≥ τ) pair with ANY earlier-id doc seen so far. Under in-order
    * arrival this reproduces [[graft.ext.Dedup.nearDupFiltered]]'s
    * keep-lowest rule EXACTLY (StreamingSpec proves set equality on the
    * real corpus).
    *
    * Store layout at `storePath`: `bands/` (doc_id, band, bucket — 8
    * rows/doc) registered as an EXTERNAL TABLE BUCKETED on (band, bucket)
    * ([[bandsTable]]), and `docs/` (full rows, plain parquet) — O(delta)
    * written per batch; the collision join reads the band index, not the
    * corpus. The bucketing means the per-batch probe join needs NO exchange
    * on the store side at any history size — only the micro-batch's own 8
    * rows/doc shuffle (StreamingSpec pins the plan shape). */
  def nearDupIngest(docs: DataFrame, storePath: String,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestDedupBatch(batch, storePath, batchId)
      }
      .start()

  /** STREAMING VECTOR-INDEX MAINTENANCE — continuous embedding ingest into
    * a [[graft.ext.VectorIndex]] store built beforehand: each micro-batch
    * of raw (vec_id, embedding) rows is normalized and folded in map-only
    * against the store's frozen quantizer. No k-means re-run on the hot
    * path — the build is the scheduled heavy step, the stream pays
    * O(delta) centroid dots + one bucketed partition write per batch.
    * foreachBatch ids are offset by one: `batch=0` is the bulk load,
    * stream batch b lands in `batch=b+1`, so a crash-replayed batch
    * rewrites ITS OWN partition ([[graft.ext.VectorIndex.ingest]]'s
    * dynamic overwrite) and can never clobber the bulk load or a
    * neighboring batch. */
  def vectorIngest(embs: DataFrame, storePath: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    embs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.VectorIndex.ingest(batch.sparkSession, storePath,
          graft.ext.Similarity.withNorm(batch), batchId + 1L)
      }
      .start()

  /** STREAMING LEXICAL-INDEX MAINTENANCE — the [[vectorIngest]] twin for
    * the persisted BM25 index ([[graft.ext.TextIndex]]): each micro-batch
    * of (doc_id, text) documents folds its postings and additive (n, t)
    * stats into the store. The per-batch cost is the honest indexing
    * shuffle (one (doc, token) aggregation over the DELTA only — the
    * corpus-sized postings are never touched), and search stays
    * bit-identical to the batch operator at any batching because df/N/T
    * derive from the store at query time. Same id-offset replay discipline
    * as [[vectorIngest]]: bulk load owns `batch=0`, stream batch b lands
    * in `batch=b+1` via dynamic partition overwrite in BOTH tables, so a
    * crash-replay rewrites its own partitions and the additive stats never
    * double-count. */
  def bm25IndexIngest(docs: DataFrame, storePath: String,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.TextIndex.ingest(batch.sparkSession, storePath,
          batch, batchId + 1L)
      }
      .start()

  /** One micro-batch of [[nearDupIngest]], REPLAY-IDEMPOTENT by layout:
    * foreachBatch is at-least-once (a crash between the data write and the
    * checkpoint advance replays the batch), and replaying a plain append
    * would duplicate the store. Every output instead lands in its own
    * `batch=<id>` partition with overwrite semantics, so a replay rewrites
    * the same partition rather than adding rows — no commit marker needed.
    * History reads exclude the current batch's partition (a crashed earlier
    * attempt may have left a partial copy there); partition pruning makes
    * the exclusion free. */
  /** Buckets of the band-index table. At 100 TB raise so one bucket's files
    * stay executor-sized; the probe cost is per-bucket, not per-store. */
  val LshStoreBuckets = 8

  /** Catalog name of the band-index table for a store path (external table
    * LOCATION'd at `storePath/bands`, so the DATA survives the session and a
    * new session just re-registers the same layout). The name embeds 96 bits
    * of SHA-256 of the path — a 32-bit String.hashCode here would let two
    * distinct store paths silently share one catalog entry and cross-wire
    * their band indexes (inserts and probes hitting the first-registered
    * LOCATION) with no error. */
  private[graft] def bandsTable(storePath: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(storePath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_lsh_bands_" + sha.take(12).map("%02x".format(_)).mkString
  }

  /** Marker file recording that `bands/` holds the CLUSTERED BY (band,
    * bucket) layout. A non-empty bands dir WITHOUT it was written by the
    * pre-bucketed code: registering the bucketed table straight over it
    * would fail history reads (bucket-id file names absent) or mis-prune. */
  private val StoreFormatMarker = "_graft_format_v2_bucketed"

  /** Ensure the band-index table exists: external parquet at
    * `storePath/bands`, PARTITIONED BY batch (replay-idempotent overwrite
    * unit) and CLUSTERED BY (band, bucket) — the join key — so every future
    * probe join reads the store side already hash-distributed: no exchange,
    * however large the history grows. Re-registering over an existing
    * location recovers its partitions. A legacy (pre-bucketed) store is
    * migrated in place: its rows are moved aside, re-inserted through the
    * bucketed table, then [[StoreFormatMarker]] is written. A crash mid-
    * migration resumes from the moved-aside copy (per-partition dynamic
    * overwrite makes the re-insert idempotent). */
  private def ensureBandsTable(spark: org.apache.spark.sql.SparkSession,
                               storePath: String): String = {
    val tbl = bandsTable(storePath)
    if (!spark.catalog.tableExists(tbl)) {
      // CREATE TABLE registers the location but does not create it; the
      // first history scan of an empty store must see an empty dir, not ENOENT
      val loc = new org.apache.hadoop.fs.Path(s"$storePath/bands")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(loc, StoreFormatMarker)
      val legacyDir = new org.apache.hadoop.fs.Path(s"$storePath/bands_prebucketed")
      val resuming = fs.exists(legacyDir)
      val legacy = resuming || (fs.exists(loc) && !fs.exists(marker) &&
        fs.listStatus(loc).nonEmpty)
      if (legacy && !resuming) fs.rename(loc, legacyDir)
      fs.mkdirs(loc)
      spark.sql(
        s"""CREATE TABLE $tbl (doc_id BIGINT, band INT, bucket BIGINT, batch BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch)
           |CLUSTERED BY (band, bucket) INTO $LshStoreBuckets BUCKETS
           |LOCATION '$storePath/bands'""".stripMargin)
      spark.catalog.recoverPartitions(tbl)
      if (legacy) {
        graft.sources.DynamicOverwrite(spark) {
          spark.read.parquet(legacyDir.toString)
            .select("doc_id", "band", "bucket", "batch") // insertInto is positional
            .write.mode("overwrite").insertInto(tbl)
        }
        fs.delete(legacyDir, true)
        spark.catalog.recoverPartitions(tbl)
      }
      fs.create(marker, true).close()
    }
    tbl
  }

  private[graft] def ingestDedupBatch(batch0: DataFrame, storePath: String,
                                      batchId: Long): Unit = {
    import graft.ext.Dedup
    val spark = batch0.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = batch0.persist()
    val newBands = Dedup.bandBuckets(batch).persist()
    val bandsTbl = ensureBandsTable(spark, storePath)
    val seen = fs.exists(new org.apache.hadoop.fs.Path(s"$storePath/docs"))
    // history reads exclude the current batch's partition (a crashed earlier
    // attempt may have left a partial copy); pruning makes the exclusion free
    val histBands = spark.table(bandsTbl)
      .where(col("batch") =!= batchId).drop("batch")
    val histDocs =
      if (!seen) batch.limit(0)
      else spark.read.parquet(s"$storePath/docs")
        .where(col("batch") =!= batchId).drop("batch")
    // candidate = new doc (right) colliding with ANY lower-id doc seen so
    // far: history ⋈ batch + batch ⋈ batch (within-batch dups count too),
    // kept as two joins so the history side rides the table's (band,
    // bucket) bucketing — no exchange on the store side of the probe
    // (newDupProbe is the spec-pinned plan); a single union'd left side
    // would re-shuffle the whole history every micro-batch
    val cand = newDupProbe(histBands, newBands)
      .unionByName(newDupProbe(newBands, newBands))
      .distinct().persist()
    val allDocs = histDocs.unionByName(batch)
    val dups = Dedup.jaccardVerify(allDocs, cand)
      .select(col("doc_b").as("doc_id")).distinct()
    val kept = batch.join(dups, Seq("doc_id"), "left_anti")
    kept.write.mode("overwrite").parquet(s"$storePath/kept/batch=$batchId")
    // index EVERY arrival (kept or not) so future dups of rejected docs
    // are still caught; per-batch partitions — never a history rewrite
    batch.write.mode("overwrite").parquet(s"$storePath/docs/batch=$batchId")
    // dynamic overwrite: replace ONLY this batch's partition (replay-safe),
    // never the history. Via [[graft.sources.DynamicOverwrite]] — the
    // per-write option is not honored on the insertInto path, and the
    // session-conf window must be serialized against concurrent ingests.
    graft.sources.DynamicOverwrite(spark) {
      newBands.withColumn("batch", lit(batchId))
        .select("doc_id", "band", "bucket", "batch") // insertInto is positional
        .write.mode("overwrite")
        .insertInto(bandsTbl)
    }
    batch.unpersist(); newBands.unpersist(); cand.unpersist()
    ()
  }

  /** Buckets of the span store. Same sizing rule as [[LshStoreBuckets]]. */
  val ChunkStoreBuckets = 8

  /** Catalog name of the span-store table for a store path — same
    * 96-bit-SHA naming rationale as [[bandsTable]]. */
  private[graft] def chunksTable(storePath: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(storePath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_chunk_store_" + sha.take(12).map("%02x".format(_)).mkString
  }

  /** Ensure the span-store table: external parquet at `storePath/chunks`,
    * PARTITIONED BY batch (replay-overwrite unit), CLUSTERED BY (chunk) —
    * the probe key — so history-side probe joins read pre-distributed
    * buckets with no exchange at any store size. (No legacy migration arm:
    * span stores never shipped unbucketed.) */
  private def ensureChunksTable(spark: org.apache.spark.sql.SparkSession,
                                storePath: String): String = {
    val tbl = chunksTable(storePath)
    if (!spark.catalog.tableExists(tbl)) {
      val loc = new org.apache.hadoop.fs.Path(s"$storePath/chunks")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(loc)
      spark.sql(
        s"""CREATE TABLE $tbl (chunk STRING, doc_id BIGINT, i INT, batch BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch)
           |CLUSTERED BY (chunk) INTO $ChunkStoreBuckets BUCKETS
           |LOCATION '$storePath/chunks'""".stripMargin)
      spark.catalog.recoverPartitions(tbl)
    }
    tbl
  }

  /** Streaming SPAN dedup — [[graft.ext.Dedup.chunkRewrite]] as an ingest:
    * each arriving doc is rewritten against every chunk EVER SEEN, not just
    * its own batch, and only first-ever chunk occurrences enter the store —
    * the store is the corpus' distinct-span set, growing with unique
    * content only. Per batch: one chunk-key join against the bucketed
    * store (no history exchange), one within-batch window, one doc-grain
    * reassembly. When batches arrive in doc-id order the concatenated
    * rewrites equal the batch operator's output exactly (StreamingSpec). */
  def chunkDedupIngest(docs: DataFrame, storePath: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestChunkBatch(batch, storePath, batchId)
      }
      .start()

  /** One micro-batch of [[chunkDedupIngest]] — replay-idempotent by the
    * same per-batch-overwrite-partition layout as [[ingestDedupBatch]]. */
  private[graft] def ingestChunkBatch(batch0: DataFrame, storePath: String,
                                      batchId: Long): Unit = {
    import graft.ext.Dedup
    val w = org.apache.spark.sql.expressions.Window
    val spark = batch0.sparkSession
    val base = Dedup.chunkBase(batch0).persist()
    val tbl = ensureChunksTable(spark, storePath)
    // literal-only projection preserves the table's bucket distribution;
    // the store holds each distinct chunk exactly once (only first-ever
    // occurrences are inserted), so this join cannot fan out
    val hist = spark.table(tbl).where(col("batch") =!= batchId)
      .select(col("chunk"), lit(true).as("_seen"))
    val flagged = Dedup.chunkOcc(base)
      .withColumn("_rn", row_number().over(
        w.partitionBy("chunk").orderBy(col("doc_id"), col("i"))))
      .join(hist, Seq("chunk"), "left")
      .withColumn("_first", col("_seen").isNull && col("_rn") === 1)
      .persist()
    Dedup.chunkReassemble(base, flagged)
      .write.mode("overwrite").parquet(s"$storePath/rewritten/batch=$batchId")
    graft.sources.DynamicOverwrite(spark) {
      flagged.where(col("_first"))
        .select(col("chunk"), col("doc_id"), col("i"), lit(batchId).as("batch"))
        .write.mode("overwrite").insertInto(tbl)
    }
    base.unpersist(); flagged.unpersist()
    ()
  }

  // ------------------------------------------------- exact-dedup key store

  /** Buckets of the md5 key-store table — same sizing rule as
    * [[LshStoreBuckets]]. */
  val KeyStoreBuckets = 8

  /** Catalog name of the key-store table for a store path — same 96-bit
    * SHA naming rationale as [[bandsTable]]. */
  private[graft] def keysTable(storePath: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(storePath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_md5_keys_" + sha.take(12).map("%02x".format(_)).mkString
  }

  /** Ensure the key-store table: external parquet at `storePath/keys`,
    * PARTITIONED BY batch (replay-overwrite unit), CLUSTERED BY (md5_hex) —
    * the confirm join's key — so the history side of every probe reads
    * pre-distributed buckets with no exchange at any store size. */
  private def ensureKeysTable(spark: org.apache.spark.sql.SparkSession,
                              storePath: String): String = {
    val tbl = keysTable(storePath)
    if (!spark.catalog.tableExists(tbl)) {
      val loc = new org.apache.hadoop.fs.Path(s"$storePath/keys")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(loc)
      spark.sql(
        s"""CREATE TABLE $tbl (md5_hex STRING, doc_id BIGINT, batch BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch)
           |CLUSTERED BY (md5_hex) INTO $KeyStoreBuckets BUCKETS
           |LOCATION '$storePath/keys'""".stripMargin)
      spark.catalog.recoverPartitions(tbl)
    }
    tbl
  }

  /** STREAMING EXACT-DEDUP INGESTION — [[graft.ext.Dedup.incrementalNewOver]]
    * as a continuous write path: each micro-batch keeps only documents whose
    * content hash was never seen before, at O(batch) cost per batch.
    *
    * The bloom prefilter's build side is DURABLE: the blob covering all
    * keys through batch b is stored at `bloom/bloom-<b>.bin`, and batch b+1
    * folds its own new keys in by `BloomFilter.mergeInPlace` (bitwise OR —
    * the sketch is mergeable at equal sizing) instead of re-aggregating the
    * history. So per batch: read one ≤ [[graft.ext.Dedup.BloomNumBits]]/8-byte
    * blob, map-scan the batch, exact-confirm only `might_contain` rows
    * against the CLUSTERED BY (md5_hex) key store (no history-side
    * exchange), write O(new keys). The blob write is LAST — its presence
    * implies the batch's key partition is complete, which is exactly the
    * superset contract [[graft.ext.Dedup.firstSeenOver]] requires on
    * replay. Store layout: `keys/batch=<id>` (first-seen md5 → doc_id),
    * `kept/batch=<id>` (surviving rows), `bloom/bloom-<id>.bin`; all three
    * are per-batch overwrite units, so a crash-replayed batch rewrites
    * rather than appends (the repo-wide at-least-once convention). */
  def exactDedupIngest(docs: DataFrame, storePath: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestExactBatch(batch, storePath, batchId)
      }
      .start()

  private def bloomPath(storePath: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(s"$storePath/bloom/bloom-$batchId.bin")

  /** Latest durable blob with id < batchId — a blob a crashed attempt of
    * THIS batch may have left is ignored, because the current attempt's
    * history reads exclude its own partition. */
  private def priorBloom(fs: org.apache.hadoop.fs.FileSystem,
                         storePath: String, batchId: Long): Option[Array[Byte]] = {
    val dir = new org.apache.hadoop.fs.Path(s"$storePath/bloom")
    if (!fs.exists(dir)) None
    else {
      val ids = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("bloom-") && n.endsWith(".bin") =>
          n.stripPrefix("bloom-").stripSuffix(".bin").toLong }
        .filter(_ < batchId)
      if (ids.isEmpty) None
      else {
        val in = fs.open(bloomPath(storePath, ids.max))
        try Some(in.readAllBytes()) finally in.close()
      }
    }
  }

  /** Bitwise-OR union of two serialized blooms (both sides are built at
    * [[graft.ext.Dedup.BloomExpectedItems]]/[[graft.ext.Dedup.BloomNumBits]]
    * sizing, the compatibility `mergeInPlace` requires). */
  private def mergeBlobs(a: Option[Array[Byte]],
                         b: Option[Array[Byte]]): Option[Array[Byte]] = (a, b) match {
    case (Some(x), Some(y)) =>
      import org.apache.spark.util.sketch.BloomFilter
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(x))
      fa.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(y)))
      val bos = new java.io.ByteArrayOutputStream()
      fa.writeTo(bos)
      Some(bos.toByteArray)
    case (x, y) => x.orElse(y)
  }

  /** One micro-batch of [[exactDedupIngest]]. The `orElse(bloomOf(hist))`
    * arm makes a MISSING blob safe, not just a stale one: pointing a fresh
    * checkpoint at a pre-existing store (no blob for batch 0's probe)
    * rebuilds the filter from the history scan once, then the durable fold
    * takes over. */
  private[graft] def ingestExactBatch(batch0: DataFrame, storePath: String,
                                      batchId: Long): Unit = {
    import graft.ext.Dedup
    val spark = batch0.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = batch0.persist()
    val keyed = batch.select(col("doc_id"), md5(col("text")).as("md5_hex"))
    val tbl = ensureKeysTable(spark, storePath)
    val hist = spark.table(tbl).where(col("batch") =!= batchId).select("md5_hex")
    val blob = priorBloom(fs, storePath, batchId).orElse(Dedup.bloomOf(hist))
    val firstSeen = Dedup.firstSeenOver(keyed, hist, blob).persist()
    // kept corpus rows: the first-seen representative of every new key
    batch.join(firstSeen.select("doc_id"), Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$storePath/kept/batch=$batchId")
    graft.sources.DynamicOverwrite(spark) {
      firstSeen
        .select(col("md5_hex"), col("doc_id"), lit(batchId).as("batch"))
        .write.mode("overwrite").insertInto(tbl)
    }
    // fold this batch's new keys into the durable blob LAST (see scaladoc)
    mergeBlobs(blob, Dedup.bloomOf(firstSeen.select("md5_hex"))).foreach { bytes =>
      val out = fs.create(bloomPath(storePath, batchId), true)
      try out.write(bytes) finally out.close()
    }
    batch.unpersist(); firstSeen.unpersist()
    ()
  }

  /** The probe join of one ingest batch: (earlier doc, new doc) pairs
    * colliding in any LSH band bucket. Left side is the (possibly huge)
    * already-indexed history; right side is the micro-batch's bands. */
  private[graft] def newDupProbe(earlier: DataFrame, fresh: DataFrame): DataFrame =
    earlier.as("x").join(fresh.as("y"), Seq("band", "bucket"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))

  /** Streaming GOLD maintenance: each micro-batch of orders folds into the
    * persisted monthly-revenue STATE table ([[graft.engine.Incremental]]'s
    * mergeable partials, versioned via [[graft.sources.Versioned]] so every
    * step is atomic + time-travelable). Maintenance cost per batch is
    * O(delta) + O(state), and state is group-grain (months × 1 row) — the
    * incremental alternative to re-aggregating full history every run.
    * `finalize(read(path))` at any instant is the exact from-scratch
    * aggregate of everything ingested so far (LakehouseSpec / the
    * incr_monthly_revenue oracle prove the algebra). */
  def maintainMonthlyRevenue(orders: DataFrame, path: String,
                             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    orders.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldMonthlyRevenueBatch(batch, path, batchId)
      }
      .start()

  /** Streaming STATISTICS maintenance: each micro-batch folds its mergeable
    * per-column stats state ([[graft.ext.Sketch.statsState]] — counts,
    * min/max, the KMV hash set) into the same versioned profile
    * [[graft.engine.Pipeline.runStatsIncrement]] maintains in batch mode.
    * The stats catalog then tracks a live stream:
    * [[graft.ext.Sketch.advisedJoin]] plans against a profile as fresh as
    * the last micro-batch, not the last scheduled ANALYZE. Exactly-once by
    * the same batch-tagged version commit as the revenue fold (merge is
    * additive in n_rows — a double fold would inflate counts). Per-batch
    * cost O(batch) + O(state); state is profiled-columns-grain. */
  def maintainStats(stream: DataFrame, table: String, cols: Seq[String],
                    path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldStatsBatch(batch, table, cols, path, batchId)
      }
      .start()

  /** Streaming EMBEDDING-OCCUPANCY maintenance — the live half of the
    * [[graft.ext.Similarity.embeddingDriftOf]] monitor: each micro-batch of
    * normalized vectors is assigned map-only to the FROZEN quantizer
    * (trained offline on the reference corpus) and its additive cell state
    * (n, micro-cosine sum) folds into a versioned occupancy table.
    * A monitoring query then runs
    * [[graft.ext.Similarity.embeddingDriftFromStates]] over (reference
    * state, live state) — or any two versions of the live state — without
    * rescanning either corpus: drift detection at O(batch) per micro-batch
    * + O(√n) state. Exactly-once by the batch-tagged version commit (the
    * fold is additive — a double fold would inflate occupancy). */
  def maintainCellOccupancy(stream: DataFrame,
                            cents: Array[graft.ext.Similarity.Cent],
                            path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldCellOccupancyBatch(batch, cents, path, batchId)
      }
      .start()

  /** Streaming COUNT-MIN maintenance — the live half of
    * [[graft.ext.Text.cmsHeavyHitters]]'s sketch: each micro-batch's
    * bigram counts fold CELL-WISE into a versioned
    * CmsDepth×CmsWidth grid (the sketch is additive — DedupSpec pins
    * sketch(A∪B) = sketch(A)+sketch(B)), so n-gram heavy-hitter estimates
    * stay queryable ([[graft.ext.Text.cmsEstimateOver]]) at O(batch) work
    * per micro-batch + O(d·w) constant state — never a corpus rescan, and
    * the corpus itself need not be retained. Exactly-once by the
    * batch-tagged version commit (same discipline as the occupancy fold:
    * a replayed batch must not double-fold an additive state). */
  def maintainCmsGrid(docs: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldCmsBatch(batch, path, batchId)
      }
      .start()

  // --------------------- streaming IMAGE near-dup ingest (phash gate) ----

  /** STREAMING IMAGE NEAR-DUP INGESTION — the image-side sibling of
    * [[nearDupIngest]]: each micro-batch of media rows is perceptually
    * hashed ([[graft.ext.Multimodal.phashOf]] — real decode, map-only),
    * Hamming-LSH-banded against every image ever seen, and a new image is
    * REJECTED iff it lands within Hamming ≤
    * [[graft.ext.Multimodal.PhashHammingMax]] of ANY earlier-id image
    * (history or lower id in the same batch) — under in-order arrival this
    * reproduces the batch keep-lowest rule over
    * [[graft.ext.Multimodal.phashPairsOf]] exactly (StreamingSpec proves
    * set equality). The store indexes ALL arrivals (rejects included —
    * transitive chains), but persists only (media_id, fp) ≈ 16 B/row: the
    * raster never lands in the dedup store.
    *
    * Store = the persisted [[graft.ext.FpStore]] itself (VERDICT r11 #3 —
    * through r11 the streaming gates kept their own `hashes/` + bucketed
    * `bands/` store while batch audits read FpStore: two persisted sources
    * of truth for the same per-file fingerprints, double decode + double
    * storage on the ingest path). Now the gate WRITES the modality's
    * fps table (batch-owned partition — at-least-once replays rewrite,
    * never duplicate) and derives the probe bands AT READ TIME from the
    * stored fp (bands are a pure function of the 64-bit hash,
    * [[graft.ext.Multimodal.phashBands]]): a corpus streamed through the
    * gate is ALREADY fingerprint-indexed for the batch release audit
    * ([[graft.ext.Multimodal.crossModalDupsFromStore]]) — each file
    * decodes exactly ONCE across ingest + audit (StreamingSpec proves it
    * by decode counter). The probe join shuffles only ~16 B/row
    * fingerprints (both sides are hash+band projections, never blobs);
    * what the store's media_id bucketing keeps exchange-free is the
    * anti-join path every delta-ingest runs. `kept/modality=<m>/batch=<id>`
    * records the gate verdicts, one batch-owned partition per write. */
  def phashIngest(media: DataFrame, storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestPhashBatch(batch, storePath, batchId)
      }
      .start()

  /** STREAMING AUDIO NEAR-DUP INGESTION — the same gate over the audio
    * energy fingerprint ([[graft.ext.Multimodal.audioFingerprintOf]] —
    * real WAV decode, map-only): fingerprints land in one 64-bit hash
    * space, so the band store, probe join, keep-lowest rule and replay
    * discipline are the [[phashIngest]] machinery verbatim. */
  def audioDupIngest(media: DataFrame, storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestAudioDupBatch(batch, storePath, batchId)
      }
      .start()

  /** One micro-batch of [[phashIngest]]. */
  private[graft] def ingestPhashBatch(batch0: DataFrame, storePath: String,
                                      batchId: Long): Unit =
    ingestFingerprintBatch(batch0, storePath, batchId, "image")

  /** One micro-batch of [[audioDupIngest]]. */
  private[graft] def ingestAudioDupBatch(batch0: DataFrame, storePath: String,
                                         batchId: Long): Unit =
    ingestFingerprintBatch(batch0, storePath, batchId, "audio")

  /** STREAMING VIDEO NEAR-DUP INGESTION — the video arm of the shared
    * fingerprint gate ([[graft.ext.Multimodal.videoFingerprintOf]] — real
    * AVI chunk-walk decode, map-only). */
  def videoDupIngest(media: DataFrame, storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestVideoDupBatch(batch, storePath, batchId)
      }
      .start()

  /** One micro-batch of [[videoDupIngest]]. */
  private[graft] def ingestVideoDupBatch(batch0: DataFrame, storePath: String,
                                         batchId: Long): Unit =
    ingestFingerprintBatch(batch0, storePath, batchId, "video")

  /** The shared micro-batch body: any real-decode 64-bit fingerprint
    * ([[graft.ext.Multimodal.PhashRow]]) rides the ONE persisted
    * fingerprint store — the gate's history side IS
    * [[graft.ext.FpStore]]'s modality table, bands derived at read time. */
  private[graft] def ingestFingerprintBatch(
      batch0: DataFrame, storePath: String, batchId: Long,
      modality: String): Unit = {
    import graft.ext.{FpStore, Multimodal}
    val spark = batch0.sparkSession
    import spark.implicits._
    val hashFn = Multimodal.dupModalities.collectFirst {
      case (m, _, fp) if m == modality => fp
    }.getOrElse(sys.error(s"unknown media modality: $modality"))
    val hashes = hashFn(
      Multimodal.balancedByBytes(batch0.as[Multimodal.MediaFile],
        spark.sparkContext.defaultParallelism)).toDF().persist()
    val newBands = Multimodal.phashBands(hashes).persist()
    // history = the persisted fingerprints, excluding this batch's own
    // partition (crash-replay safety), mirroring ingestDedupBatch
    val tbl = FpStore.ensureTable(spark, storePath, modality)
    val histHashes = FpStore.live(spark, storePath, tbl)
      .where(col("batch") =!= batchId)
      .select(col("media_id"), col("fp").as("phash"))
    val histBands = Multimodal.phashBands(histHashes)
    def probe(left: DataFrame, right: DataFrame): DataFrame =
      left.select(col("b"), col("v"), col("media_id").as("media_id_a"))
        .join(right.select(col("b"), col("v"), col("media_id").as("media_id_b")),
          Seq("b", "v"))
        .where(col("media_id_a") < col("media_id_b"))
        .select("media_id_a", "media_id_b")
    val cand = probe(histBands, newBands)
      .unionByName(probe(newBands, newBands))
      .distinct()
    val allHashes = histHashes.unionByName(hashes.select("media_id", "phash"))
    val dups = cand
      .join(allHashes.select(col("media_id").as("media_id_a"),
        col("phash").as("pa")), "media_id_a")
      .join(allHashes.select(col("media_id").as("media_id_b"),
        col("phash").as("pb")), "media_id_b")
      .where(bit_count(col("pa").bitwiseXOR(col("pb")))
        <= Multimodal.PhashHammingMax)
      .select(col("media_id_b").as("media_id")).distinct()
    val kept = hashes.join(dups, Seq("media_id"), "left_anti")
    kept.write.mode("overwrite")
      .parquet(s"$storePath/kept/modality=$modality/batch=$batchId")
    FpStore.writeBatch(spark, storePath, modality, hashes, batchId)
    hashes.unpersist(); newBands.unpersist()
    ()
  }

  // ------------------- end-to-end INCREMENTAL CORPUS RELEASE (versioned) --

  /** STREAMING CORPUS-RELEASE FOLD — the repo's lakehouse-incremental story
    * applied to its corpus product (VERDICT r10 #8): every micro-batch of
    * raw documents runs the FULL release gauntlet — PII scrub → text
    * near-dup gate → image/audio/video fingerprint gates → frozen-classifier
    * quality sample → frozen-eval-suite decontamination — and appends ONLY
    * its own released rows as `release/batch=<id>`, so each batch produces
    * a new release VERSION in O(delta): version v ≡ the union of partitions
    * ≤ v, and [[releaseManifest]] at the final version is bit-identical to
    * [[graft.engine.Pipeline.runCorpusPipeline]]'s from-scratch
    * `corpus_release_manifest` (ReleaseSpec proves it).
    *
    * Why a per-batch append is CORRECT (no retro-invalidation): every gate
    * verdict for a doc is decided at the doc's own arrival —
    *  - the four dup gates use the keep-lowest rule under in-order arrival
    *    (a doc is rejected iff it pairs with an EARLIER-id doc; later
    *    arrivals can only be rejected themselves, never flag history) —
    *    the proven [[nearDupIngest]]/[[phashIngest]] semantics;
    *  - the quality verdict is map-only against the FROZEN classifier
    *    ([[graft.ext.Corpus.qualitySampleWith]]);
    *  - contamination is map-only against the FROZEN eval suite's
    *    broadcast gram set ([[decontaminateIngest]]'s device) — eval
    *    benchmarks are fixed external inputs in production, which is
    *    exactly what makes streaming decontamination possible.
    * The classifier and eval suite are refresh-by-scheduled-job inputs (the
    * [[corpusIngest]] frozen-model pattern); re-freezing them starts a new
    * release lineage.
    *
    * Store layout under `storePath`: `dedup/` (the text LSH gate's store),
    * `media/` (ONE [[graft.ext.FpStore]] shared by all three fingerprint
    * gates — the same store a batch release audit reads, so streamed
    * corpora are audit-ready with zero re-decode, VERDICT r11 #3),
    * `release/batch=<id>` (this batch's released rows — the ONLY rows this
    * batch adds to the product), `versions/batch=<id>` (the release log:
    * one row per version with its released-row delta). All writes are
    * batch-owned partitions — at-least-once replays rewrite, never
    * duplicate. */
  def releaseIngest(docs: DataFrame, dir: String, storePath: String,
                    nbModel: DataFrame, nbUnk: DataFrame, evalDocs: DataFrame,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    def frozen(df: DataFrame): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    val (fNb, fNbU) = (frozen(nbModel), frozen(nbUnk))
    val fGrams = frozen(
      graft.ext.Text.contamGrams(evalDocs).select("g").distinct())
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestReleaseBatch(batch, dir, storePath, batchId, fNb, fNbU, fGrams)
      }
      .start()
  }

  /** One micro-batch of [[releaseIngest]]: the full gate chain over the
    * delta, ending in the batch's own `release/` and `versions/`
    * partitions. `evalGrams` must already be the frozen distinct gram set
    * (one `g` column). */
  private[graft] def ingestReleaseBatch(batch0: DataFrame, dir: String,
      storePath: String, batchId: Long, nbModel: DataFrame, nbUnk: DataFrame,
      evalGrams: DataFrame): Unit = {
    import graft.ext.{Corpus, Multimodal, Pii, Text}
    val spark = batch0.sparkSession
    import spark.implicits._
    // the scrub boundary: every downstream verdict describes SHIPPED text
    val scrubbed = Pii.redactedOf(batch0)
      .select(col("doc_id"), col("lang"), col("source"),
        col("redacted_text").as("text"))
      .persist()
    // the four modality dup gates, each appending to its own sub-store;
    // the fixture's media lake is keyed by doc_id, so the batch's media is
    // the corpora restricted to the batch's ids (in production the media
    // rows arrive alongside the documents)
    ingestDedupBatch(scrubbed, s"$storePath/dedup", batchId)
    val ids = scrubbed.select(col("doc_id").as("media_id"))
    // all three media gates write ONE FpStore at media/ (VERDICT r11 #3):
    // the streamed corpus is fingerprint-indexed as a side effect, so a
    // later batch release audit (crossModalDupsFromStore) decodes nothing
    Multimodal.dupModalities.foreach { case (m, corpus, _) =>
      ingestFingerprintBatch(
        corpus(spark, dir).join(ids, Seq("media_id"), "left_semi"),
        s"$storePath/media", batchId, m)
    }
    // this batch's rejects per arm = batch ids minus the arm's kept
    // partition (keep-lowest: a doc's verdict is final at its own batch)
    def rejectsOf(keptDir: String, idCol: String): DataFrame =
      scrubbed.select("doc_id").join(
        spark.read.parquet(s"$storePath/$keptDir/batch=$batchId")
          .select(col(idCol).as("doc_id")), Seq("doc_id"), "left_anti")
    val dupped = rejectsOf("dedup/kept", "doc_id")
      .unionByName(rejectsOf("media/kept/modality=image", "media_id"))
      .unionByName(rejectsOf("media/kept/modality=audio", "media_id"))
      .unionByName(rejectsOf("media/kept/modality=video", "media_id"))
      .distinct()
    // quality + decontamination against the frozen references (map-only),
    // then the same release algebra as the batch pipeline's manifest:
    // kept ∧ train ∧ ¬contaminated ∧ ¬any-modality-dup
    val trainPred = graft.ext.Sampling.mixHash(col("doc_id")) % 100 <
      lit(100 - Text.ContamEvalPct)
    val flags = Text.decontaminateAgainstGrams(
      scrubbed.where(trainPred), evalGrams)
    val released = Corpus.qualitySampleWith(scrubbed, nbModel, nbUnk)
      .where(col("kept")).select("doc_id", "lang", "source")
      .join(flags.select(col("doc_id"),
        col("n_contaminated"), col("contaminated")), Seq("doc_id"))
      .where(!col("contaminated"))
      .join(dupped, Seq("doc_id"), "left_anti")
      .persist()
    released.write.mode("overwrite")
      .parquet(s"$storePath/release/batch=$batchId")
    // the version log: one row per release version with its O(delta) size
    Seq(released.count()).toDF("n_released")
      .write.mode("overwrite").parquet(s"$storePath/versions/batch=$batchId")
    scrubbed.unpersist(); released.unpersist()
    ()
  }

  /** A release VERSION of the streamed corpus: the union of released
    * partitions up to `upTo` (None = latest). Column-for-column the batch
    * pipeline's `corpus_release_manifest` schema. Partitions at or below
    * the [[vacuumReleases]] floor live consolidated in one negative-id
    * partition (always ≤ any retained `upTo`, so the union is unchanged);
    * time travel BELOW the floor is gone by design — asking for it fails
    * loudly instead of returning a silently truncated corpus. */
  def releaseManifest(spark: SparkSession, storePath: String,
                      upTo: Option[Long] = None): DataFrame = {
    val st = graft.ext.VectorIndex.compactState(spark, storePath)
    upTo.foreach(v => require(v > st._1,
      s"release version $v is below the retention floor ${st._1} (vacuumed)"))
    val rel = spark.read.parquet(s"$storePath/release")
      .where(graft.ext.VectorIndex.livePred(st))
    upTo.map(v => rel.where(col("batch") <= v)).getOrElse(rel)
      .select("doc_id", "lang", "source", "n_contaminated", "contaminated")
  }

  /** The release log: (version, n_released) per streamed batch. The cast
    * pins the partition-inferred `batch` (int) to the batch-id type.
    * Vacuumed versions' log rows survive retention (they are one row each —
    * [[vacuumReleases]] consolidates them into the floor partition with an
    * explicit `version` column), so the full release history stays
    * queryable even after its data partitions are consolidated. */
  def releaseVersions(spark: SparkSession, storePath: String): DataFrame = {
    val st = graft.ext.VectorIndex.compactState(spark, storePath)
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(s"$storePath/versions")
      .where(graft.ext.VectorIndex.livePred(st))
    val versionCol =
      if (raw.columns.contains("version"))
        coalesce(col("version"), col("batch").cast("long"))
      else col("batch").cast("long")
    raw.select(versionCol.as("version"), col("n_released"))
  }

  /** RELEASE RETENTION (VERDICT r11 #8) — the continuous release chain
    * accretes one `release/batch=` + one `versions/batch=` partition per
    * micro-batch forever; this is the [[graft.sources.Maintenance.vacuum]]
    * discipline applied to them. Consolidates every live partition with
    * id ≤ `upTo` into one fresh negative-generation partition per subdir
    * behind [[graft.ext.VectorIndex]]'s atomic floor pointer (the proven
    * compact protocol: write → swap → lazy sweep; a crash at any point
    * leaves a readable store), then deletes the dead directories.
    *
    * What retention means here: the CURRENT manifest (and every retained
    * `upTo` > floor) is BIT-IDENTICAL before and after — consolidation
    * moves rows, never drops them. What ends is time travel at or below the
    * floor: those versions' manifests are no longer addressable (the
    * latest version is refused as `upTo` for the same reason the pointer
    * target is never vacuumed in [[graft.sources.Maintenance.vacuum]]).
    * The version LOG is fully preserved: vacuumed versions' (version,
    * n_released) rows ride the consolidated partition as explicit data. */
  def vacuumReleases(spark: SparkSession, storePath: String, upTo: Long): Unit = {
    import graft.ext.VectorIndex
    require(upTo >= 0, s"vacuum upTo=$upTo must be a real release version")
    val (ceil, gen) = VectorIndex.compactState(spark, storePath)
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs(subdir: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$storePath/$subdir"))
        .toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .map(p => (p.getName.stripPrefix("batch=").toLong, p))
    val liveRel = batchDirs("release").filter { case (b, _) => b == -gen || b > ceil }
    val latest = liveRel.map(_._1).max
    require(upTo < latest,
      s"refusing to vacuum the latest release version $latest")
    // 1a. consolidate release rows (previous consolidated partition folds in)
    val doomedRel = liveRel.filter { case (b, _) => b <= upTo || b == -gen }
    if (doomedRel.nonEmpty)
      spark.read.parquet(doomedRel.map(_._2.toString): _*)
        .write.mode("overwrite")
        .parquet(s"$storePath/release/batch=${-(gen + 1)}")
    // 1b. consolidate the version log, materializing each row's version id
    val doomedVer = batchDirs("versions")
      .filter { case (b, _) => (b == -gen || b > ceil) && (b <= upTo || b == -gen) }
    if (doomedVer.nonEmpty)
      doomedVer.map { case (b, p) =>
        val df = spark.read.parquet(p.toString)
        if (df.columns.contains("version")) df.select("version", "n_released")
        else df.select(lit(b).as("version"), col("n_released"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite")
        .parquet(s"$storePath/versions/batch=${-(gen + 1)}")
    // 2. the atomic commit point
    VectorIndex.swapCompactState(spark, storePath, upTo, gen + 1)
    // 3. lazy sweep of everything dead under the new state
    for (subdir <- Seq("release", "versions");
         (b, dir) <- batchDirs(subdir) if !(b == -(gen + 1) || b > upTo))
      fs.delete(dir, true)
  }

  /** True iff `batchId` is already part of the state at `path`. Streaming
    * foreachBatch ids are MONOTONICALLY increasing, so the committed tag's
    * id is the high-water mark: any batchId at or below it has been folded
    * (the additive merges would silently double-count on a re-fold). This
    * covers not just structured streaming's last-batch replay but a direct
    * caller replaying an ARBITRARY older batch (ADVICE r9) — O(1), no tag
    * history scan. */
  private def alreadyFolded(spark: SparkSession, path: String,
                            batchId: Long): Boolean =
    graft.sources.Versioned.latestTag(spark, path).exists { t =>
      t.startsWith("batch=") &&
        scala.util.Try(t.stripPrefix("batch=").trim.toLong)
          .toOption.exists(batchId <= _)
    }

  /** One micro-batch of [[maintainCmsGrid]] — same replay discipline as
    * [[foldCellOccupancyBatch]] (the grid is additive; a double fold would
    * inflate every estimate). */
  private[graft] def foldCmsBatch(batch: DataFrame, path: String,
                                  batchId: Long): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Versioned
    import graft.ext.Text
    if (alreadyFolded(spark, path, batchId)) return
    val delta = Text.cmsCountersOf(Text.cmsKeyCountsOf(batch))
    val merged = Versioned.latestVersion(spark, path) match {
      case Some(_) =>
        Text.mergeCmsGrids(Seq(Versioned.read(spark, path), delta))
      case None => delta
    }
    Versioned.write(merged, path, Some(s"batch=$batchId"))
    ()
  }

  /** One micro-batch of [[maintainCellOccupancy]] — same replay discipline
    * as [[foldMonthlyRevenueBatch]]. */
  private[graft] def foldCellOccupancyBatch(batch: DataFrame,
                                            cents: Array[graft.ext.Similarity.Cent],
                                            path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Versioned
    import graft.ext.Similarity
    if (alreadyFolded(spark, path, batchId)) return
    val delta = Similarity.cellState(batch, cents)
    val merged = Versioned.latestVersion(spark, path) match {
      case Some(_) =>
        Similarity.mergeCellStates(Seq(Versioned.read(spark, path), delta))
      case None => delta
    }
    Versioned.write(merged, path, Some(s"batch=$batchId"))
    ()
  }

  /** One micro-batch of [[maintainStats]] — same replay discipline as
    * [[foldMonthlyRevenueBatch]]. */
  private[graft] def foldStatsBatch(batch: DataFrame, table: String,
                                    cols: Seq[String], path: String,
                                    batchId: Long): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Versioned
    import graft.ext.Sketch
    if (alreadyFolded(spark, path, batchId)) return
    // one fused pass over the batch; the zero states keep every column
    // present when the batch is empty
    val delta = Seq(Sketch.statsStates(batch, table, cols),
      Sketch.zeroStatesFor(spark, cols.map(table -> _)))
    val merged = Sketch.mergeStatsStates(
      Versioned.latestVersion(spark, path).map(_ => Versioned.read(spark, path)).toSeq ++ delta)
    Versioned.write(merged, path, Some(s"batch=$batchId"))
    ()
  }

  /** One micro-batch of [[maintainMonthlyRevenue]], EXACTLY-ONCE: folding
    * the same batch twice would double-count its revenue (merge is
    * additive), so each fold commits its batch id as the version's tag —
    * the pointer swap inside [[graft.sources.Versioned.write]] is the
    * atomic commit point, and a replay sees its own id on the current
    * version and no-ops. A crash BEFORE the swap leaves the old pointer, so
    * the replay refolds from the old state: also correct. */
  private[graft] def foldMonthlyRevenueBatch(batch: DataFrame, path: String,
                                             batchId: Long): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Versioned
    if (alreadyFolded(spark, path, batchId)) return
    val delta = graft.engine.Incremental.monthlyRevenueState(batch)
    val merged = Versioned.latestVersion(spark, path) match {
      case Some(_) => graft.engine.Incremental.merge(
        Seq(Versioned.read(spark, path), delta))
      case None => delta
    }
    Versioned.write(merged, path, Some(s"batch=$batchId"))
    ()
  }
}
