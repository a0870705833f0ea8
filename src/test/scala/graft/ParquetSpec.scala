package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{Pipeline, Silver, Sources}
import graft.sources.{Parquet, Sinks}

class ParquetSpec extends SparkSpec {

  /** The frame `read` builds, and the Spark jobs started while building it. */
  private def built(read: => DataFrame): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-spec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "parquet read")
    try {
      val df = read
      org.apache.spark.graft.SparkBridge.drainListeners(sc)
      (df, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** [[Parquet.read]] of `paths` has `spark.read.parquet`'s schema and rows,
    * and builds its frame without a job, where the plain read runs one. */
  private def assertParity(paths: String*): DataFrame = {
    val (df, jobs) = built(Parquet.read(spark, paths: _*))
    val (inferred, inferJobs) = built(spark.read.parquet(paths: _*))
    assert(df.schema === inferred.schema, paths.mkString(", "))
    assert(jobs === 0, s"building the frame of ${paths.mkString(", ")} ran $jobs jobs")
    assert(inferJobs > 0, "the inferring read ran no job: the job count sees nothing")
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(df) === rows(inferred), paths.mkString(", "))
    df
  }

  test("raw sources: timestamps, NTZ timestamps and arrays read with the inferred schema") {
    for (t <- Seq("orders", "lineitem", "events", "embeddings"))
      assertParity(s"$sf/$t.parquet")
  }

  test("an INT64 TIMESTAMP(NANOS) column reads as long, as the session's inference does") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_parquet_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", 1700000000123456789L + i)))
    finally w.close()
    val df = assertParity(dir)
    assert(df.schema("ts").dataType === org.apache.spark.sql.types.LongType)
  }

  test("written layouts: year-partitioned silver, batch-partitioned feed, a version " +
      "directory and _bucket partitions keep their partition columns") {
    val out = Files.createTempDirectory("graft_parquet_layouts").toString
    Sinks.snapshotOverwrite(Silver.orderDetails(spark, sf), s"$out/silver_order_details",
      Seq("order_year"))
    assert(assertParity(s"$out/silver_order_details").columns.contains("order_year"))
    val o = Sources.orders(spark, sf)
    Seq(0L, 1L).foreach(b =>
      Pipeline.runSalesIncrement(spark, o.where(col("o_orderkey") % 2 === b), out, b))
    assert(assertParity(s"$out/cdf_customer_profile").columns.contains("batch"))
    assertParity(s"$out/state_customer_profile/v=2")
    // few keys, so few `_bucket=` directories: past 32 directories Spark
    // lists them in a job of its own, with or without a schema
    val keys = o.where(col("o_orderkey") < 40)
    Sinks.mergeKeepLatest(keys.where(col("o_orderkey") % 2 === 0), s"$out/merged",
      Seq("o_orderkey"), "o_orderdate")
    Sinks.mergeKeepLatest(keys, s"$out/merged", Seq("o_orderkey"), "o_orderdate")
    assert(assertParity(s"$out/merged").columns.contains("_bucket"))
  }

  test("a missing path and a directory holding only _SUCCESS raise the inferring " +
      "read's AnalysisException") {
    val dir = Files.createTempDirectory("graft_parquet_empty")
    Files.createFile(dir.resolve("_SUCCESS"))
    for (p <- Seq(s"$dir/missing", dir.toString)) {
      val plain = intercept[AnalysisException](spark.read.parquet(p))
      val helper = intercept[AnalysisException](Parquet.read(spark, p))
      assert(helper.getCondition === plain.getCondition, s"$p: ${helper.getMessage}")
    }
  }

  test("every library parquet read goes through Parquet.read, except the " +
      "mergeSchema read of the streamed release log") {
    // a `.read` chain (option/schema/format calls between) ending in
    // `.parquet(`, or in `.load(` after a `format("parquet")`
    val chain = """\.read((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*(parquet|load)\(""".r
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val reads = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getName != "Parquet.scala"
      text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      m <- chain.findAllMatchIn(text)
      if m.group(2) == "parquet" || m.group(1).contains("format(\"parquet\")")
    } yield (f.getName, text.take(m.start).count(_ == '\n') + 1, m.matched)
    val (allowed, direct) = reads.partition { case (f, _, m) =>
      f == "Streams.scala" && m.contains("\"mergeSchema\", \"true\"")
    }
    assert(direct.isEmpty, direct.map { case (f, l, _) => s"$f:$l" }.mkString(", "))
    assert(allowed.size === 1, allowed.toString)
  }
}
