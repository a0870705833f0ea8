package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.engine.Incremental
import graft.sources.{Sinks, Versioned}
import graft.streaming.Streams
import graft.streaming.Streams.Ev

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("mergeKeepLatest: upsert keeps highest sequence per key; new keys append") {
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    Sinks.mergeKeepLatest(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "seq"), dir, Seq("k"), "seq")
    Sinks.mergeKeepLatest(
      Seq((2L, "b2", 11L), (3L, "c", 9L)).toDF("k", "v", "seq"), dir, Seq("k"), "seq")
    val out = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, "a", 10L), (2L, "b2", 11L), (3L, "c", 9L)))
  }

  test("mergeKeepLatest: untouched buckets byte-identical; merge equals full recompute") {
    val dir = Files.createTempDirectory("graft_merge_b").toString + "/t"
    val base = (1L to 200L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "seq")
    Sinks.mergeKeepLatest(base, dir, Seq("k"), "seq")

    def fileHashes(): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getPath -> md.map("%02x".format(_)).mkString
      }.toMap
    }
    val before = fileHashes()

    val upd = Seq((5L, "V5", 2L), (201L, "new", 1L)).toDF("k", "v", "seq")
    val touched = upd
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("k")),
        org.apache.spark.sql.functions.lit(Sinks.MergeBuckets)).as("b"))
      .distinct().as[Int].collect().toSet
    Sinks.mergeKeepLatest(upd, dir, Seq("k"), "seq")

    // every file in an untouched bucket survives the merge byte-for-byte
    val after = fileHashes()
    val untouchedBefore = before.filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"_bucket=$b/")) }
    assert(untouchedBefore.nonEmpty, "test needs untouched buckets to prove anything")
    untouchedBefore.foreach { case (p, h) =>
      assert(after.get(p).contains(h), s"untouched file rewritten: $p") }

    // merged snapshot == the naive full-rewrite result
    val got = Sinks.readMerged(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = (1L to 200L).map(k =>
      (k, if (k == 5L) "V5" else s"v$k", if (k == 5L) 2L else 1L)) :+ (201L, "new", 1L)
    assert(got === expected)
  }

  test("mergeKeepLatest: same-sequence redelivery → incoming batch wins") {
    val dir = Files.createTempDirectory("graft_merge2").toString + "/t"
    Sinks.mergeKeepLatest(Seq((1L, "old", 5L)).toDF("k", "v", "seq"), dir, Seq("k"), "seq")
    Sinks.mergeKeepLatest(Seq((1L, "new", 5L)).toDF("k", "v", "seq"), dir, Seq("k"), "seq")
    assert(spark.read.parquet(dir).select("v").as[String].collect().toSeq === Seq("new"))
  }

  test("versioned snapshots: time travel reads old versions, rollback is pointer-only") {
    val dir = Files.createTempDirectory("graft_ver").toString + "/t"
    import graft.sources.Versioned
    assert(Versioned.latestVersion(spark, dir).isEmpty)
    assert(Versioned.write(Seq((1L, "a")).toDF("k", "v"), dir) === 1)
    assert(Versioned.write(Seq((1L, "a2"), (2L, "b")).toDF("k", "v"), dir) === 2)
    assert(Versioned.latestVersion(spark, dir).contains(2))
    // latest reflects v2; pinned v1 is unchanged history
    assert(Versioned.read(spark, dir).count() === 2)
    assert(Versioned.read(spark, dir, Some(1)).collect().map(_.getString(1)).toSeq === Seq("a"))
    // rollback moves only the pointer; roll-forward stays possible
    Versioned.rollback(spark, dir, 1)
    assert(Versioned.read(spark, dir).count() === 1)
    Versioned.rollback(spark, dir, 2)
    assert(Versioned.read(spark, dir).count() === 2)
    // next write after a rollback allocates PAST history, never clobbering v2
    Versioned.rollback(spark, dir, 1)
    assert(Versioned.write(Seq((9L, "z")).toDF("k", "v"), dir) === 3)
    assert(Versioned.read(spark, dir, Some(2)).count() === 2) // v2 intact
    intercept[IllegalArgumentException] { Versioned.rollback(spark, dir, 99) }
  }

  test("snapshotOverwrite partitions by the given columns and is idempotent") {
    val dir = Files.createTempDirectory("graft_snap").toString + "/t"
    val df = Seq((2024, 1, "x"), (2024, 2, "y")).toDF("yr", "mo", "v")
    Sinks.snapshotOverwrite(df, dir, Seq("yr", "mo"))
    Sinks.snapshotOverwrite(df, dir, Seq("yr", "mo"))
    assert(spark.read.parquet(dir).count() === 2)
    assert(new java.io.File(s"$dir/yr=2024/mo=1").isDirectory)
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  test("sessionize: gap splits sessions, watermark timeout flushes the last one") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 7: two events 5 min apart, then a 40-min gap (session split),
      // then user 8 far in the future to push the watermark past everything
      in.addData(
        Ev(1, ts(0), 7, "view", 1.0),
        Ev(2, ts(5), 7, "click", 2.0),
        Ev(3, ts(45), 7, "purchase", 4.0))
      q.processAllAvailable()
      in.addData(Ev(9, ts(600), 8, "view", 0.5))
      q.processAllAvailable()
      in.addData(Ev(10, ts(1200), 8, "view", 0.5)) // advance watermark again
      q.processAllAvailable()
      val rows = spark.table("sess").orderBy("session_start").collect()
      val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
      assert(u7.length === 2, s"expected 2 closed sessions for user 7, got ${rows.mkString(";")}")
      assert(u7(0).getAs[Long]("n_events") === 2)
      assert(u7(0).getAs[Double]("session_value") === 3.0)
      assert(u7(0).getAs[Double]("duration_sec") === 300.0)
      assert(u7(1).getAs[Long]("n_events") === 1)
    } finally q.stop()
  }

  test("sessionize over a stream reproduces the batch Events.sessions results") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the real sf0.001 events fixture, streamed through MemoryStream
    val evs = graft.engine.Sources.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val flusher = Ev(999999L, new Timestamp(evs.map(_.ts.getTime).max + 86400000L),
      999999L, "flush", 0.0)
    val in = MemoryStream[Ev]
    val q = Streams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_parity").outputMode("append").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
      in.addData(flusher) // watermark passes every real session's end + gap
      q.processAllAvailable()
      in.addData(Ev(999998L, new Timestamp(flusher.ts.getTime + 86400000L), 999998L, "flush", 0.0))
      q.processAllAvailable()
      def key(uid: Long, startUs: Long, endUs: Long, n: Long, value: Double) =
        (uid, startUs, endUs, n, math.floor(value * 100 + 0.5) / 100)
      val streamed = spark.table("sess_parity").collect()
        .filter(_.getAs[Long]("user_id") < 999998L)
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start"), r.getAs[Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("session_value"))).toSet
      val batch = graft.ext.Events.sessions(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start"), r.getAs[Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("session_value"))).toSet
      assert(batch.nonEmpty)
      val missing = batch -- streamed
      val extra = streamed -- batch
      assert(missing.isEmpty && extra.isEmpty,
        s"missing=${missing.take(3)} extra=${extra.take(3)}")
    } finally q.stop()
  }

  test("keepLatest drops duplicate keys within the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.keepLatest(in.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(0), 7, "view", 1.0), Ev(1, ts(1), 7, "view", 1.0),
        Ev(2, ts(2), 7, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("tumblingHourly on a stream matches the batch plan on the same data") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.tumblingHourly(in.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try {
      in.addData(Ev(1, ts(0), 7, "view", 1.5), Ev(2, ts(30), 8, "view", 2.5),
        Ev(3, ts(70), 7, "click", 1.0))
      q.processAllAvailable()
      val streamRows = spark.table("tumb")
        .select("window_start", "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type").collect().toSeq
      val batchRows = Streams.tumblingHourly(
        Seq(Ev(1, ts(0), 7, "view", 1.5), Ev(2, ts(30), 8, "view", 2.5),
          Ev(3, ts(70), 7, "click", 1.0)).toDF())
        .select("window_start", "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamRows === batchRows)
      assert(streamRows.map(_.getAs[Long]("n_events")).sum === 3)
    } finally q.stop()
  }

  test("sessionWindows groups events within the gap per user") {
    val batch = Seq(
      Ev(1, ts(0), 7, "view", 1.0), Ev(2, ts(10), 7, "view", 2.0),
      Ev(3, ts(55), 7, "view", 4.0), Ev(4, ts(0), 8, "view", 8.0)).toDF()
    val out = Streams.sessionWindows(batch).orderBy("user_id", "session_start").collect()
    assert(out.length === 3) // user 7: [0,10] and [55]; user 8: [0]
    assert(out(0).getAs[Long]("n_events") === 2)
    assert(out(0).getAs[Double]("session_value") === 3.0)
  }

  test("manual slide-bucket formula equals Spark's window() assignment on real events") {
    // Events.slidingHourly derives windows from integer epoch arithmetic
    // (so the DuckDB oracle can recompute them); Streams.slidingHourly uses
    // the native window() function. Same data → identical window totals.
    val manual = graft.ext.Events.slidingHourly(spark, sf)
      .select("window_start", "n_events", "total_value")
      .orderBy("window_start").collect().toSeq
    val native = Streams.slidingHourly(graft.engine.Sources.events(spark, sf))
      .orderBy("window_start").collect().toSeq
    assert(manual.map(r => (r.getTimestamp(0), r.getLong(1))) ===
      native.map(r => (r.getTimestamp(0), r.getLong(1))))
  }

  test("sketch accuracy: approx_count_distinct and approx_percentile near exact") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Sources.events(spark, sf)
    val r = ev.agg(
      countDistinct("user_id").as("exact_users"),
      approx_count_distinct("user_id").as("approx_users"),
      expr("percentile(value, 0.5)").as("exact_p50"),
      expr("approx_percentile(value, 0.5, 1000)").as("approx_p50")).first()
    val (eu, au) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(au - eu) / eu <= 0.05, s"HLL err ${(au - eu) / eu}")
    val (ep, ap) = (r.getDouble(2), r.getDouble(3))
    assert(math.abs(ap - ep) / (ep max 1.0) <= 0.05, s"t-digest err $ep vs $ap")
  }

  test("csv and json round-trip events through the schema catalog") {
    val dir = Files.createTempDirectory("graft_fmt").toString
    val ev = graft.engine.Sources.events(spark, sf).limit(50).cache()
    ev.write.option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(s"$dir/csv")
    ev.write.json(s"$dir/json")
    val fromCsv = graft.engine.Sources.csv(spark, s"$dir/csv", "events")
    val fromJson = graft.engine.Sources.json(spark, s"$dir/json", "events")
    assert(fromCsv.count() === 50)
    assert(fromJson.count() === 50)
    assert(fromCsv.schema === graft.sources.Schemas.events)
    // values survive the round trip (sum of a double column to the cent)
    def tot(df: org.apache.spark.sql.DataFrame) =
      math.round(df.agg(sum("value")).first().getDouble(0) * 100)
    assert(tot(fromCsv) === tot(ev.toDF()))
    assert(tot(fromJson) === tot(ev.toDF()))
  }

  test("parquetStream: files arriving in a directory become micro-batches") {
    val dir = Files.createTempDirectory("graft_fstream").toString
    val ev = graft.engine.Sources.events(spark, sf).limit(20).cache()
    ev.limit(10).write.parquet(s"$dir/in/b1")
    // a file-source stream needs files under one dir: write parts directly
    val src = graft.engine.Sources.parquetStream(spark, s"$dir/in/b1", "events")
    val q = Streams.tumblingHourly(src)
      .writeStream.format("memory").queryName("fstream").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val n = spark.table("fstream").agg(sum("n_events")).first().getLong(0)
      assert(n === 10)
    } finally q.stop()
  }

  test("near-dup ingestion: streamed filter equals the batch filter under in-order arrival") {
    val dir = Files.createTempDirectory("graft_ndi").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.nearDupIngest(
      graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents"),
      s"$dir/store", s"$dir/ckpt")
    try {
      // in-order slices: the stream's keep-first-arrival == batch keep-lowest-id
      Seq(col("doc_id") < 200,
          col("doc_id") >= 200 && col("doc_id") < 350,
          col("doc_id") >= 350).foreach { slice =>
        docs.where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/store/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ext.Dedup.nearDupFiltered(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === batch,
      s"stream-kept and batch-kept corpora must match; " +
        s"only-stream=${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
    docs.unpersist()
  }

  test("exact-dedup ingest: kept == batch canonical ids, durable bloom folds, " +
    "replay is a no-op") {
    val dir = Files.createTempDirectory("graft_xdi").toString
    val d = graft.engine.Sources.documents(spark, sf)
    // in-order slices: stream keep-first-arrival == batch keep-lowest-id
    Streams.ingestExactBatch(d.where(col("doc_id") < 200), s"$dir/store", 0L)
    Streams.ingestExactBatch(
      d.where(col("doc_id") >= 200 && col("doc_id") < 350), s"$dir/store", 1L)
    Streams.ingestExactBatch(d.where(col("doc_id") >= 350), s"$dir/store", 2L)
    val keptIds = spark.read.parquet(s"$dir/store/kept").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val canonical = graft.ext.Dedup.exact(spark, sf).select("canonical_doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds === canonical,
      s"stream-kept ids must equal batch canonical ids " +
        s"(sizes ${keptIds.size} vs ${canonical.size})")
    // the key store holds each content hash exactly once across partitions
    val keys = spark.table(Streams.keysTable(s"$dir/store"))
    assert(keys.count() === keys.select("md5_hex").distinct().count())
    // the durable blob chain covered the whole store when batch 2 probed it:
    // replaying batch 2 (at-least-once crash replay) must change nothing
    val before = (keys.count(), spark.read.parquet(s"$dir/store/kept").count())
    Streams.ingestExactBatch(d.where(col("doc_id") >= 350), s"$dir/store", 2L)
    val after = (spark.table(Streams.keysTable(s"$dir/store")).count(),
      spark.read.parquet(s"$dir/store/kept").count())
    assert(before === after, "replayed batch must rewrite, not append")
  }

  test("md5 key store is bucketed: confirm anti-join has no exchange on the store side") {
    val dir = Files.createTempDirectory("graft_kstore").toString
    val d = graft.engine.Sources.documents(spark, sf)
    Streams.ingestExactBatch(d.where(col("doc_id") < 200), s"$dir/store", 0L)
    Streams.ingestExactBatch(
      d.where(col("doc_id") >= 200 && col("doc_id") < 350), s"$dir/store", 1L)
    val hist = spark.table(Streams.keysTable(s"$dir/store"))
      .where(col("batch") =!= 2L).select("md5_hex")
    val incoming = d.where(col("doc_id") >= 350)
      .select(col("doc_id"), md5(col("text")).as("md5_hex"))
    // force the sort-merge path — same rationale as the band-store pin: the
    // broadcast AQE picks at test SF also avoids the store exchange, but
    // SMJ is the shape that matters at 100 TB history
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = incoming.join(hist, Seq("md5_hex"), "left_anti")
      val p = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      assert(p.contains("SelectedBucketsCount"),
        "store scan must be bucketed:\n" + p.take(1200))
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles === 1,
        s"only the micro-batch side may shuffle, got $shuffles:\n${p.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("LM-scored ingest: streamed scores equal the batch scorer for any batching") {
    val dir = Files.createTempDirectory("graft_lmi").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    // offline half: freeze the corpus model once
    val (model, unk) = graft.ext.Text.lmModelFrames(docs)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.lmScoredIngest(
      graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents"),
      model, unk, s"$dir/scored", s"$dir/ckpt")
    try {
      Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 400,
          col("doc_id") >= 400).foreach { slice =>
        docs.where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Long]("n_scored_tokens"),
      r.getAs[Double]("cross_entropy"), r.getAs[Double]("perplexity"),
      r.getAs[Boolean]("is_lm_outlier"))
    // sorted SEQUENCES, not sets: a set compare would silently absorb the
    // at-least-once failure mode this sink exists to prevent (a replayed
    // batch appending its rows twice dedups away under set semantics)
    val streamed = spark.read.parquet(s"$dir/scored").collect().map(key).toSeq.sorted
    val batch = graft.ext.Text.lmScore(spark, sf).collect().map(key).toSeq.sorted
    assert(streamed.size === batch.size,
      s"streamed row count ${streamed.size} != batch ${batch.size} (duplicated replay rows?)")
    assert(streamed === batch,
      s"stream/batch score mismatch: only-stream=${(streamed.toSet -- batch.toSet).take(3)} " +
        s"only-batch=${(batch.toSet -- streamed.toSet).take(3)}")
    docs.unpersist()
  }

  test("BPE tokenize ingest: frozen merges applied per batch equal the " +
      "batch encoder for any batching; replay rewrites") {
    val dir = Files.createTempDirectory("graft_bpei").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    // offline half: mine the merge table once (frozen, bounded <= 32 rows)
    val merges = graft.ext.Text.bpeMergesLocal(docs)
    assert(merges.nonEmpty && merges.length <= graft.ext.Text.BpeTopMerges)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.bpeTokenizeIngest(
      graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents"),
      merges, s"$dir/enc", s"$dir/ckpt")
    val slices = Seq(col("doc_id") < 150,
      col("doc_id") >= 150 && col("doc_id") < 400, col("doc_id") >= 400)
    try {
      slices.foreach { slice =>
        docs.where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
      r.getAs[Long]("n_chars"), r.getAs[Long]("n_bpe_tokens"),
      r.getAs[Double]("chars_per_bpe_token"))
    // sorted sequences, not sets (replay-append would dedup away under sets)
    val streamed = spark.read.parquet(s"$dir/enc").collect().map(key).toSeq.sorted
    val batch = graft.ext.Text.bpeTokenize(spark, sf).collect().map(key).toSeq.sorted
    assert(streamed.size === batch.size,
      s"streamed row count ${streamed.size} != batch ${batch.size}")
    assert(streamed === batch, "frozen-merge stream diverged from batch encoder")
    // replay batch 0 (at-least-once): rewrites its partition, store unchanged
    graft.ext.Text.bpeTokenizeWith(docs.where(slices.head), merges)
      .write.mode("overwrite").parquet(s"$dir/enc/batch=0")
    val after = spark.read.parquet(s"$dir/enc").collect().map(key).toSeq.sorted
    assert(after === streamed, "batch replay changed the encoded store")
    docs.unpersist()
  }

  test("media feature ingest: streamed decodes equal batch extraction; replay rewrites") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft_mfi").toString
    val corpus = Multimodal.mediaCorpus(spark, sf)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.mediaFeatureIngest(
      spark.readStream.schema(corpus.toDF().schema).parquet(s"$dir/in"),
      s"$dir/features", s"$dir/ckpt")
    try {
      Seq(col("media_id") < 250, col("media_id") >= 250).foreach { slice =>
        corpus.toDF().where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.toString
    // drop the batch partition column the per-batch layout adds
    val streamed = spark.read.parquet(s"$dir/features").drop("batch")
      .orderBy("media_id").collect().map(key).toSeq
    val batch = Multimodal.extractFeatures(corpus).toDF()
      .orderBy("media_id").collect().map(key).toSeq
    assert(streamed.size === batch.size)
    assert(streamed === batch)
    // replay rewrites the batch partition byte-identically
    Streams.ingestMediaBatch(corpus.toDF().where(col("media_id") < 250),
      s"$dir/features", 0L)
    val after = spark.read.parquet(s"$dir/features").drop("batch")
      .orderBy("media_id").collect().map(key).toSeq
    assert(after === streamed, "media batch replay changed the store")
  }

  test("phash ingest: streamed image near-dup gate equals the batch keep-lowest " +
      "rule; replay rewrites; history probe rides the bucketed store") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft_phi").toString
    val corpus = Multimodal.phashCorpus(spark, sf)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.phashIngest(
      spark.readStream.schema(corpus.toDF().schema).parquet(s"$dir/in"),
      s"$dir/store", s"$dir/ckpt")
    try {
      // in-order arrival in three slices (the keep-lowest contract)
      Seq(col("media_id") < 150, col("media_id") >= 150 && col("media_id") < 400,
          col("media_id") >= 400).foreach { slice =>
        corpus.toDF().where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamedKept = spark.read.parquet(s"$dir/store/kept")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    // batch twin: keep-lowest over the full-corpus near pairs
    val near = Multimodal.phashPairsOf(Multimodal.phashOf(corpus))
      .where(col("is_near"))
      .select("media_id_b").collect().map(_.getLong(0)).toSet
    val batchKept = corpus.toDF().select("media_id").collect()
      .map(_.getLong(0)).filterNot(near).toSeq.sorted
    assert(streamedKept.nonEmpty && streamedKept.size < 500,
      s"gate is vacuous: kept ${streamedKept.size}/500")
    assert(streamedKept === batchKept,
      s"kept sets differ: stream ${streamedKept.size} vs batch ${batchKept.size}")
    // replay batch 0: rewrites its partitions byte-identically, never appends
    Streams.ingestPhashBatch(corpus.toDF().where(col("media_id") < 150),
      s"$dir/store", 0L)
    val after = spark.read.parquet(s"$dir/store/kept")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(after === streamedKept, "phash batch replay changed the kept store")
    // UNIFIED-STORE pins (VERDICT r11 #3): the gate's history is the ONE
    // persisted FpStore — fps/ is the only fingerprint state on disk (the
    // r11-era parallel hashes/ + bucketed bands/ stores are gone; bands
    // derive at read time from the stored fp), and the store side of a
    // media_id anti-join (the delta-ingest shape every audit cycle runs)
    // arrives bucket-distributed with only the probe side shuffling.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(exists(s"$dir/store/fps/modality=image"),
      "gate must persist into the FpStore fps table")
    assert(!exists(s"$dir/store/bands") && !exists(s"$dir/store/hashes"),
      "the r11 gate-private hash/band stores must not exist")
    val tbl = graft.ext.FpStore.fpTable(s"$dir/store", "image")
    val hist = spark.table(tbl).where(col("batch") =!= 99L)
      .select("media_id")
    val probeIds = Multimodal.phashOf(corpus.limit(10)).toDF()
      .select("media_id")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = hist.join(probeIds, Seq("media_id"), "left_anti")
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(p.contains("SelectedBucketsCount"),
        "fps store scan must be bucketed:\n" + p.take(1200))
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles === 1,
        s"only the probe side may shuffle, got $shuffles:\n${p.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("streamed-then-audit decodes each media file exactly ONCE: the gates " +
      "fingerprint-index the corpus as a side effect, and the batch release " +
      "audit rides the same store with zero decodes") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft_once").toString
    val store = s"$dir/store"
    val before = Multimodal.fpDecodeOps.get()
    // stream all three dup corpora through their gates into ONE store dir,
    // two in-order slices each (exercises history probes, not just batch 0)
    Multimodal.dupModalities.foreach { case (m, corpus, _) =>
      val full = corpus(spark, sf).toDF()
      Streams.ingestFingerprintBatch(full.where(col("media_id") < 250), store, 0L, m)
      Streams.ingestFingerprintBatch(full.where(col("media_id") >= 250), store, 1L, m)
    }
    val n = graft.engine.Sources.documents(spark, sf).count()
    val afterIngest = Multimodal.fpDecodeOps.get()
    assert(afterIngest - before === 3 * n,
      s"expected ${3 * n} ingest decodes, got ${afterIngest - before}")
    // the batch cross-modal release audit reads the SAME store: zero decodes
    val got = Multimodal.crossModalDupsFromStore(
        spark, graft.engine.Sources.documents(spark, sf), store)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(Multimodal.fpDecodeOps.get() === afterIngest,
      s"store-backed audit ran ${Multimodal.fpDecodeOps.get() - afterIngest} decodes")
    // ... and agrees bit-for-bit with the decode-everything batch report
    val want = Multimodal.crossModalDups(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want, "streamed store audit diverged from batch report")
  }

  test("audio dup ingest: streamed clip near-dup gate equals the batch " +
      "keep-lowest rule; replay rewrites") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft_adi").toString
    val corpus = Multimodal.audioDupCorpus(spark, sf)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.audioDupIngest(
      spark.readStream.schema(corpus.toDF().schema).parquet(s"$dir/in"),
      s"$dir/store", s"$dir/ckpt")
    try {
      Seq(col("media_id") < 250, col("media_id") >= 250).foreach { slice =>
        corpus.toDF().where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamedKept = spark.read.parquet(s"$dir/store/kept")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    val near = Multimodal.phashPairsOf(Multimodal.audioFingerprintOf(corpus))
      .where(col("is_near"))
      .select("media_id_b").collect().map(_.getLong(0)).toSet
    val batchKept = corpus.toDF().select("media_id").collect()
      .map(_.getLong(0)).filterNot(near).toSeq.sorted
    assert(streamedKept.nonEmpty && streamedKept.size < 500,
      s"gate is vacuous: kept ${streamedKept.size}/500")
    assert(streamedKept === batchKept,
      s"kept sets differ: stream ${streamedKept.size} vs batch ${batchKept.size}")
    Streams.ingestAudioDupBatch(corpus.toDF().where(col("media_id") < 250),
      s"$dir/store", 0L)
    val after = spark.read.parquet(s"$dir/store/kept")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(after === streamedKept, "audio batch replay changed the kept store")
  }

  test("video dup ingest: streamed clip near-dup gate equals the batch " +
      "keep-lowest rule; replay rewrites") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft_vdi").toString
    val corpus = Multimodal.videoDupCorpus(spark, sf)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.videoDupIngest(
      spark.readStream.schema(corpus.toDF().schema).parquet(s"$dir/in"),
      s"$dir/store", s"$dir/ckpt")
    try {
      Seq(col("media_id") < 250, col("media_id") >= 250).foreach { slice =>
        corpus.toDF().where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamedKept = spark.read.parquet(s"$dir/store/kept")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    val near = Multimodal.phashPairsOf(Multimodal.videoFingerprintOf(corpus))
      .where(col("is_near"))
      .select("media_id_b").collect().map(_.getLong(0)).toSet
    val batchKept = corpus.toDF().select("media_id").collect()
      .map(_.getLong(0)).filterNot(near).toSeq.sorted
    assert(streamedKept.nonEmpty && streamedKept.size < 500,
      s"gate is vacuous: kept ${streamedKept.size}/500")
    assert(streamedKept === batchKept,
      s"kept sets differ: stream ${streamedKept.size} vs batch ${batchKept.size}")
    Streams.ingestVideoDupBatch(corpus.toDF().where(col("media_id") < 250),
      s"$dir/store", 0L)
    val after = spark.read.parquet(s"$dir/store/kept")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(after === streamedKept, "video batch replay changed the kept store")
  }

  test("corpus ingest: scrub -> dedup -> score per batch equals the batch chain; replay rewrites") {
    import graft.ext.{Dedup, Pii, Text}
    val dir = Files.createTempDirectory("graft_ci").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    docs.count()
    // clean fixture: the scrub is content-preserving, so the batch twin can
    // run on raw text (assert that premise rather than assume it)
    assert(Pii.redactedOf(docs)
      .where(col("redacted_text") =!= col("text")).count() === 0L)
    val (lmM, lmU) = Text.lmModelFrames(docs)
    val (nbM, nbU) = Text.nbModelFrames(docs)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.corpusIngest(
      graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents"),
      s"$dir/store", lmM, lmU, nbM, nbU, s"$dir/ckpt")
    try {
      Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 400,
          col("doc_id") >= 400).foreach { slice =>
        docs.where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    val scored = spark.read.parquet(s"$dir/store/scored")
    // kept set == the batch near-dup filter (in-order arrival, keep-lowest)
    val streamedIds = scored.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // nearDupFiltered drops text; the scorers need it — restore via semi-join
    val batchKept = docs.join(
      Dedup.nearDupFiltered(spark, sf).select("doc_id"), Seq("doc_id"), "leftsemi")
    val batchIds = batchKept.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(streamedIds === batchIds,
      s"kept sets differ: stream ${streamedIds.size} vs batch ${batchIds.size}")
    // scores == the batch scorers over the kept corpus (sorted rows + counts)
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Double]("cross_entropy"),
      r.getAs[Boolean]("is_lm_outlier"), r.getAs[Double]("log_odds"),
      r.getAs[Boolean]("predicted_good"))
    val streamedScores = scored.collect().map(key).toSeq.sorted
    val batchScores = Text.lmScoreWith(batchKept, lmM, lmU)
      .select("doc_id", "cross_entropy", "is_lm_outlier")
      .join(Text.nbScoreWith(batchKept, nbM, nbU)
        .select("doc_id", "log_odds", "predicted_good"), "doc_id")
      .collect().map(key).toSeq.sorted
    assert(streamedScores.size === batchScores.size)
    assert(streamedScores === batchScores)
    // replay: re-running batch 0 rewrites identical bytes, never appends
    Streams.ingestCorpusBatch(docs.where(col("doc_id") < 150),
      s"$dir/store", 0L, lmM, lmU, nbM, nbU)
    val after = spark.read.parquet(s"$dir/store/scored").collect().map(key).toSeq.sorted
    assert(after === streamedScores, "batch replay changed the scored store")
    docs.unpersist()
  }

  test("cell-occupancy fold: streamed state == from-scratch state; replay no-ops") {
    import graft.ext.Similarity
    val dir = Files.createTempDirectory("graft_occ").toString
    val vecs = Similarity.withNorm(
      graft.engine.Sources.embeddings(spark, sf)).cache()
    vecs.count()
    val cents = Similarity.kmeansCentroidsLocal(vecs) // frozen reference quantizer
    // three micro-batches by key range
    Seq(col("vec_id") < 150, col("vec_id") >= 150 && col("vec_id") < 400,
        col("vec_id") >= 400).zipWithIndex.foreach { case (slice, i) =>
      Streams.foldCellOccupancyBatch(vecs.where(slice), cents, s"$dir/occ", i.toLong)
    }
    def stateRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val folded = stateRows(graft.sources.Versioned.read(spark, s"$dir/occ")
      .select("cl", "n", "s"))
    val scratch = stateRows(Similarity.cellState(vecs, cents).select("cl", "n", "s"))
    assert(folded === scratch, "fold != from-scratch cell state")
    // replay of an already-committed batch must not double-fold
    Streams.foldCellOccupancyBatch(vecs.where(col("vec_id") < 150), cents, s"$dir/occ", 2L)
    assert(stateRows(graft.sources.Versioned.read(spark, s"$dir/occ")
      .select("cl", "n", "s")) === folded, "replayed batch double-folded")
    // the maintained state plugs into the drift finalize: self-compare of
    // the state against the from-scratch state shows zero drift
    val drift = Similarity.embeddingDriftFromStates(
      graft.sources.Versioned.read(spark, s"$dir/occ").select("cl", "n", "s"),
      Similarity.cellState(vecs, cents)).collect()
    assert(drift.nonEmpty && drift.forall(!_.getAs[Boolean]("drifted")))
    vecs.unpersist()
  }

  test("cms grid fold: streamed grid == from-scratch grid cell-for-cell; " +
      "replay no-ops; estimates from the maintained grid match the batch report") {
    import graft.ext.Text
    val dir = Files.createTempDirectory("graft_cms").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    docs.count()
    // three micro-batches by key range
    Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 400,
        col("doc_id") >= 400).zipWithIndex.foreach { case (slice, i) =>
      Streams.foldCmsBatch(docs.where(slice), s"$dir/cms", i.toLong)
    }
    def gridRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
        .sortBy(_._1).toSeq
    val folded = graft.sources.Versioned.read(spark, s"$dir/cms")
      .select("r", "bucket", "cnt")
    val scratch = Text.cmsCountersOf(Text.cmsKeyCountsOf(docs))
      .select("r", "bucket", "cnt")
    assert(gridRows(folded) === gridRows(scratch), "fold != from-scratch grid")
    // replay of an already-committed batch must not double-fold
    Streams.foldCmsBatch(docs.where(col("doc_id") < 150), s"$dir/cms", 1L)
    assert(gridRows(graft.sources.Versioned.read(spark, s"$dir/cms")
      .select("r", "bucket", "cnt")) === gridRows(folded),
      "replayed batch double-folded")
    // heavy-hitter estimates from the MAINTAINED grid (no corpus rescan)
    // agree with the batch report for every reported bigram
    val reported = Text.cmsHeavyHitters(spark, sf).collect()
      .map(r => r.getAs[String]("bigram") -> r.getAs[Long]("cms_estimate")).toMap
    val est = {
      import spark.implicits._
      Text.cmsEstimateOver(folded, reported.keys.toSeq.sorted.toDF("bigram"))
        .collect().map(r => r.getAs[String]("bigram") -> r.getAs[Long]("cms_estimate")).toMap
    }
    assert(est === reported, "maintained-grid estimates diverge from the batch report")
    docs.unpersist()
  }

  test("NB-scored ingest: streamed scores equal the batch classifier for any batching") {
    val dir = Files.createTempDirectory("graft_nbi").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    val (model, unk) = graft.ext.Text.nbModelFrames(docs)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.nbScoredIngest(
      graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents"),
      model, unk, s"$dir/scored", s"$dir/ckpt")
    try {
      Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 400,
          col("doc_id") >= 400).foreach { slice =>
        docs.where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Boolean]("weak_good"),
      r.getAs[Long]("n_scored_tokens"), r.getAs[Double]("log_odds"),
      r.getAs[Boolean]("predicted_good"), r.getAs[Boolean]("agrees"))
    val streamed = spark.read.parquet(s"$dir/scored").collect().map(key).toSeq.sorted
    val batch = graft.ext.Text.nbQuality(spark, sf).collect().map(key).toSeq.sorted
    assert(streamed.size === batch.size,
      s"streamed row count ${streamed.size} != batch ${batch.size} (duplicated replay rows?)")
    assert(streamed === batch)
    docs.unpersist()
  }

  test("decontaminate ingest: streamed collision flags equal the batch " +
      "operator; replay rewrites") {
    val dir = Files.createTempDirectory("graft_decon").toString
    val docs = graft.engine.Sources.documents(spark, sf)
    val bucket = graft.ext.Sampling.mixHash(col("doc_id")) % 100
    val evalPct = graft.ext.Text.ContamEvalPct
    val evalDocs = docs.where(bucket >= 100 - evalPct)
    val train = docs.where(bucket < 100 - evalPct)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.decontaminateIngest(
      graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents"),
      evalDocs, s"$dir/flagged", s"$dir/ckpt")
    try {
      Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 400,
          col("doc_id") >= 400).foreach { slice =>
        train.where(slice).coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Long]("n_ngrams"),
      r.getAs[Long]("n_contaminated"), r.getAs[Long]("contamination_ppm"),
      r.getAs[Boolean]("contaminated"))
    val streamed = spark.read.parquet(s"$dir/flagged")
      .collect().map(key).toSeq.sorted
    val batch = graft.ext.Text.decontaminate(spark, sf)
      .collect().map(key).toSeq.sorted
    assert(streamed.size === batch.size,
      s"streamed row count ${streamed.size} != batch ${batch.size}")
    assert(streamed === batch)
    // the stream caught the same leakage the batch sweep finds (non-vacuous)
    assert(streamed.exists(_._5), "no contaminated doc crossed the gate")
    // at-least-once replay: re-running a batch id rewrites its partition
    graft.ext.Text.decontaminateOf(
      train.where(col("doc_id") < 150), evalDocs)
      .write.mode("overwrite").parquet(s"$dir/flagged/batch=0")
    val after = spark.read.parquet(s"$dir/flagged").collect().map(key).toSeq.sorted
    assert(after === streamed, "batch replay changed the store")
  }

  test("PII scrub ingest: streamed redactions equal the batch scrubber; replay rewrites") {
    val dir = Files.createTempDirectory("graft_pii").toString
    // the synthetic-PII corpus: nonzero matches of every pattern family
    val docs = graft.ext.Pii.withSyntheticPii(
      graft.engine.Sources.documents(spark, sf)).cache()
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val q = Streams.piiScrubIngest(
      graft.ext.Pii.withSyntheticPii(
        graft.engine.Sources.parquetStream(spark, s"$dir/in", "documents")),
      s"$dir/scrubbed", s"$dir/ckpt")
    try {
      Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 400,
          col("doc_id") >= 400).foreach { slice =>
        graft.engine.Sources.documents(spark, sf).where(slice)
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Long]("n_redactions"),
      r.getAs[String]("redacted_text"))
    val streamed = spark.read.parquet(s"$dir/scrubbed")
    // the raw text never reaches the durable store
    assert(!streamed.columns.contains("text"), "unscrubbed text column in the sink")
    val sRows = streamed.collect().map(key).toSeq.sorted
    val batch = graft.ext.Pii.redactedOf(docs).collect().map(key).toSeq.sorted
    assert(sRows.size === batch.size,
      s"streamed row count ${sRows.size} != batch ${batch.size} (duplicated replay rows?)")
    assert(sRows === batch)
    // nothing slips through: every redacted text is free of all four shapes
    val leftover = graft.ext.Pii.scanOf(
      streamed.withColumnRenamed("redacted_text", "text"))
      .where(col("has_pii")).count()
    assert(leftover === 0L, s"$leftover docs still carry PII after redaction")
    // at-least-once replay: re-running a batch id rewrites its partition
    val before = sRows
    graft.ext.Pii.redactedOf(docs.where(col("doc_id") < 150)).drop("text")
      .write.mode("overwrite").parquet(s"$dir/scrubbed/batch=0")
    val after = spark.read.parquet(s"$dir/scrubbed").collect().map(key).toSeq.sorted
    assert(after === before, "batch replay changed the store")
    docs.unpersist()
  }

  test("LSH band store is bucketed: probe join has no exchange on the store side") {
    val dir = Files.createTempDirectory("graft_bstore").toString
    val d = graft.engine.Sources.documents(spark, sf)
    Streams.ingestDedupBatch(d.where(col("doc_id") < 100), s"$dir/store", 0L)
    Streams.ingestDedupBatch(
      d.where(col("doc_id") >= 100 && col("doc_id") < 150), s"$dir/store", 1L)
    val tbl = Streams.bandsTable(s"$dir/store")
    assert(spark.catalog.tableExists(tbl))
    val hist = spark.table(tbl).where(col("batch") =!= 2L).drop("batch")
    val fresh = graft.ext.Dedup.bandBuckets(
      d.where(col("doc_id") >= 150 && col("doc_id") < 200))
    // force the sort-merge path: broadcast of the tiny fresh side (what AQE
    // picks at test SF) ALSO leaves the store exchange-free, but SMJ is the
    // shape that matters at 100 TB history
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Streams.newDupProbe(hist, fresh)
      val p = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      assert(p.contains("SelectedBucketsCount"),
        "store scan must be bucketed:\n" + p.take(1200))
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles === 1,
        s"only the micro-batch side may shuffle, got $shuffles:\n${p.take(1500)}")
      // and the probe is still correct: pairs match the unbucketed join
      val naive = spark.read.parquet(s"$dir/store/bands").drop("batch").as("x")
        .join(fresh.as("y"), Seq("band", "bucket"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      assert(probe.distinct().count() === naive.distinct().count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("legacy (pre-bucketed) band store migrates in place; history still probes") {
    val dir = Files.createTempDirectory("graft_legacy").toString
    val d = graft.engine.Sources.documents(spark, sf)
    val old = d.where(col("doc_id") < 100)
    // fabricate a pre-bucketed store: batch-partitioned PLAIN parquet bands
    // (no bucket-id file names, no format marker) + matching docs — what the
    // pre-r7 ingest wrote. Registering the bucketed table straight over it
    // would fail or mis-prune history reads.
    graft.ext.Dedup.bandBuckets(old).withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite").parquet(s"$dir/store/bands")
    old.withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite").parquet(s"$dir/store/docs")
    val next = d.where(col("doc_id") >= 100 && col("doc_id") < 150)
    Streams.ingestDedupBatch(next, s"$dir/store", 1L)
    val keptMigrated = spark.read.parquet(s"$dir/store/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // equivalence oracle: a store that was bucketed from birth
    val fresh = Files.createTempDirectory("graft_fresh").toString
    Streams.ingestDedupBatch(old, s"$fresh/store", 0L)
    Streams.ingestDedupBatch(next, s"$fresh/store", 1L)
    val keptFresh = spark.read.parquet(s"$fresh/store/kept")
      .where(col("batch") === 1L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMigrated === keptFresh,
      s"migrated-store dedup diverged: only-migrated=${(keptMigrated -- keptFresh).take(5)} " +
        s"only-fresh=${(keptFresh -- keptMigrated).take(5)}")
    // the migrated table serves history through the bucketed layout now
    assert(spark.table(Streams.bandsTable(s"$dir/store"))
      .where(col("batch") === 0L).count() > 0, "legacy band rows lost in migration")
  }

  test("span-store ingest: doc-ordered micro-batches reproduce the batch " +
    "chunk rewrite exactly; replay no-ops; store holds each chunk once") {
    val dir = Files.createTempDirectory("graft_chunks").toString
    val docs = graft.engine.Sources.documents(spark, sf).cache()
    val bounds = Seq(0L, 150L, 350L, Long.MaxValue)
    (0 until 3).foreach { b =>
      val slice = docs.where(col("doc_id") >= bounds(b)
        && col("doc_id") < bounds(b + 1))
      Streams.ingestChunkBatch(slice, s"$dir/store", b.toLong)
    }
    // doc-id-ordered arrival makes streaming first-occurrence == global
    // first-occurrence, so the concatenated rewrites must equal the batch
    // operator bit-for-bit
    val streamed = spark.read.parquet(s"$dir/store/rewritten")
      .select("doc_id", "n_chunks", "dropped_chunks", "text_rewritten")
    val batch = graft.ext.Dedup.chunkRewrite(spark, sf)
    assert(streamed.count() === batch.count())
    assert(streamed.unionByName(batch).distinct().count() === batch.count(),
      "streamed rewrites diverged from the batch operator")
    // crash-replay of the last batch: the store must not grow
    val tbl = Streams.chunksTable(s"$dir/store")
    val n = spark.table(tbl).count()
    Streams.ingestChunkBatch(docs.where(col("doc_id") >= 350L),
      s"$dir/store", 2L)
    assert(spark.table(tbl).count() === n, "replay grew the span store")
    // the store is the corpus' distinct-span set — each chunk exactly once
    assert(n === spark.table(tbl).select("chunk").distinct().count())
    docs.unpersist()
  }

  test("replayed micro-batches are no-ops: idempotent ingest, exactly-once fold") {
    val dir = Files.createTempDirectory("graft_replay").toString
    // near-dup ingest: a replay of the same (batch, id) must not grow the store
    val docs = graft.engine.Sources.documents(spark, sf).where(col("doc_id") < 100).cache()
    Streams.ingestDedupBatch(docs, s"$dir/store", 0L)
    val keptOnce = spark.read.parquet(s"$dir/store/kept").count()
    Streams.ingestDedupBatch(docs, s"$dir/store", 0L) // crash-replay of batch 0
    assert(spark.read.parquet(s"$dir/store/kept").count() === keptOnce)
    assert(spark.read.parquet(s"$dir/store/docs").count() === 100)
    // ...while a NEW batch still processes
    val more = graft.engine.Sources.documents(spark, sf)
      .where(col("doc_id") >= 100 && col("doc_id") < 150)
    Streams.ingestDedupBatch(more, s"$dir/store", 1L)
    assert(spark.read.parquet(s"$dir/store/docs").count() === 150)
    docs.unpersist()
    // monthly-revenue fold: refolding would double-count; the version tag
    // makes the replay a no-op
    val orders = graft.engine.Sources.orders(spark, sf)
    Incremental.foldMonthlyRevenue(orders, s"$dir/state", 0L)
    val v = Versioned.latestVersion(spark, s"$dir/state")
    Incremental.foldMonthlyRevenue(orders, s"$dir/state", 0L) // crash-replay
    assert(Versioned.latestVersion(spark, s"$dir/state") === v, "replay must not commit")
    val folded = Incremental.finalize(Versioned.read(spark, s"$dir/state"))
    val direct = Incremental.finalize(Incremental.monthlyRevenueState(orders))
    assert(folded.unionByName(direct).distinct().count() === direct.count())
  }

  test("streaming stats maintenance: folded micro-batch states equal the " +
    "batch profile bit-for-bit; replay no-ops; live stream feeds the store") {
    import graft.ext.Sketch
    val dir = Files.createTempDirectory("graft_sstats").toString
    val ev = graft.engine.Sources.events(spark, sf).cache()
    val cols = Seq("user_id", "value") // integer + cent-scaled double paths
    val a = ev.where(col("event_id") % 2 === 0)
    val b = ev.where(col("event_id") % 2 =!= 0)
    Sketch.foldStats(spark, _ => a, cols.map("events" -> _), s"$dir/state", 0L)
    Sketch.foldStats(spark, _ => b, cols.map("events" -> _), s"$dir/state", 1L)
    val v = Versioned.latestVersion(spark, s"$dir/state")
    Sketch.foldStats(spark, _ => b, cols.map("events" -> _), s"$dir/state", 1L) // crash-replay
    assert(Versioned.latestVersion(spark, s"$dir/state") === v,
      "replay must not commit")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("table_name", "column_name").collect().map(_.toString).toSeq
    val maintained = Sketch.finalizeStats(Versioned.read(spark, s"$dir/state"))
    val direct = Sketch.finalizeStats(
      cols.map(c => Sketch.statsState(ev, "events", c)).reduce(_ unionByName _))
    assert(rowsOf(maintained) === rowsOf(direct),
      "streamed fold diverged from the from-scratch profile")
    ev.unpersist()
    // end-to-end: a live MemoryStream through maintainStats
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.maintainStats(in.toDF(), "events_live", Seq("user_id"),
      s"$dir/live", s"$dir/ckpt")
    try {
      in.addData(Ev(1, ts(0), 7, "view", 1.0), Ev(2, ts(1), 8, "view", 2.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts(2), 7, "click", 3.0))
      q.processAllAvailable()
      val live = Sketch.finalizeStats(Versioned.read(spark, s"$dir/live"))
        .collect().head
      assert(live.getAs[Long]("n_rows") === 3L)
      assert(live.getAs[Double]("ndv_kmv") === 2.0) // users 7 and 8
    } finally q.stop()
  }

  test("interval join: streamed purchase-view pairs equal the batch range join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.purchaseViewPairs(in.toDF())
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      val data = Seq(
        Ev(1, ts(0), 7, "view", 1.0),     // 45 min before purchase -> paired
        Ev(2, ts(30), 7, "view", 1.0),    // 15 min before -> paired
        Ev(3, ts(45), 7, "purchase", 9.0),
        Ev(4, ts(-100), 7, "view", 1.0),  // >1h before -> excluded
        Ev(5, ts(10), 8, "purchase", 2.0) // no views for user 8
      )
      in.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("ivj")
        .select("purchase_event_id", "view_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((3L, 1L), (3L, 2L)))
      // identical operator over a batch frame gives the same pairs
      val batch = Streams.purchaseViewPairs(data.toDF())
        .select("purchase_event_id", "view_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("mergeStream: micro-batches accumulate into a keep-latest snapshot") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_mstream").toString
    val in = MemoryStream[Ev]
    val q = Streams.mergeStream(in.toDF(), s"$dir/snap", Seq("event_id"), "ts", s"$dir/ckpt")
    try {
      in.addData(Ev(1, ts(0), 7, "view", 1.0), Ev(2, ts(1), 7, "view", 2.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(5), 7, "click", 3.0), Ev(4, ts(6), 8, "view", 4.0))
      q.processAllAvailable()
      val snap = spark.read.parquet(s"$dir/snap").orderBy("event_id")
        .select("event_id", "event_type").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(snap.toSeq === Seq((1L, "view"), (2L, "click"), (4L, "view")))
    } finally q.stop()
  }
}
