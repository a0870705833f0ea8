package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs every query in `SparkEntry.queries` at the SF
  * directory given by SPARK_GRAFT_SF_DIR and prints ONE JSON line:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Robustness (this VM throttles CPU/IO under sustained load, producing
  * phantom 10-40x outliers on individual queries): each query is timed in
  * THREE interleaved passes over the whole suite and the per-query MEDIAN is
  * reported. Interleaving (pass-major, not query-major) decorrelates a
  * throttle episode from any single query's three samples.
  *
  * Self-auditing (r5 shipped a 3x throttle-inflated snapshot with no
  * cross-check): the JSON also carries per-query `mins`, the suite
  * `throttle_ratio` = Σmedian / Σmin, and the pass count, so a reader can
  * see a throttle episode in the artifact. A gain between two builds is
  * judged by perfbench's alternating pair protocol, not by one run's
  * medians.
  *
  * Modes:
  *  - SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the timed set; the output then
  *    carries `"partial":true` so a subset total is never compared against
  *    full-run baselines.
  *  - SPARK_GRAFT_SF_DIRS=dirA,dirB times every query at SEVERAL scale
  *    factors in one process, interleaved at the query grain (each query
  *    runs at both SFs back-to-back), so throttle episodes hit the SFs
  *    alike and sf-vs-sf ratios are honest — the scaling-table mode. One
  *    JSON line per SF is printed.
  *
  * The JSON line(s) are printed after `spark.stop()` so they are the final
  * stdout lines, and values are rounded to 3 decimals to keep each line well
  * under tail-capture limits.
  *
  * Timeout-proofing (r13's one serious failure: the driver's wall-clock
  * kill landed mid-widening and the bench had emitted ZERO bytes —
  * BENCH_r13.json was rc 124 with an empty tail, the first missing bench
  * artifact in 13 rounds):
  *  - the pass loop is bounded by an elapsed-wall-clock budget
  *    ([[DefaultWallBudget]] seconds): a pass is only STARTED while
  *    `elapsed + last-pass-duration` fits, so the run converges to an
  *    artifact instead of to a kill (`budget_stop` flags a
  *    budget-truncated run);
  *  - base passes drop from 3 to 2 past [[BigRegistry]] queries (medians
  *    of 2 = midpoints);
  *  - a JVM shutdown hook prints the JSON line(s) from whatever samples
  *    exist (`"partial":true` + per-query sample counts in `nsamples`)
  *    the moment an external TERM lands, so even a kill yields a parsed
  *    artifact. Sample maps are mutated under [[lock]] for the hook's sake.
  *  - redundant per-run-rebuild harness twins whose deployment twins are
  *    timed anyway ([[DefaultSkip]]) are excluded from the TIMED set by
  *    default (override with SPARK_GRAFT_BENCH_SKIP=a,b / =none). They
  *    remain fully oracle-checked in Verify/CORRECTNESS — this trims only
  *    the bench's wall cost, never coverage; the line carries
  *    `skipped_harness` so a total is never read as whole-registry.
  */
object Bench {

  /** Default wall budget (seconds): the driver's observed kill window is
    * ~20 min of WALL time including JVM/sbt startup (which happens before
    * t0) and the BENCH_OUT write + spark.stop teardown (which happen
    * after the last pass) — so the sampling budget sits ~100 s inside it
    * (ADVICE r14: 1200 s equalled the kill window instead of clearing it,
    * leaving the normal-path emission racing the external TERM). */
  val DefaultWallBudget = 1100.0

  /** Registry size past which base passes drop to 2. */
  val BigRegistry = 150

  /** Harness twins excluded from the TIMED set by default: each rebuilds
    * per run what its `_indexed`/`_search` deployment twin measures from
    * the persisted store (VERDICT r13 #3 — the rebuild cost is build
    * evidence the `sim_ann_index*` build+search rows already carry).
    * Correctness coverage is unaffected: Verify runs the WHOLE registry.
    *
    * NOT extended in r15 (considered and reverted): `dedup_cross_modal`
    * meets the same contract — it re-decodes all three media modalities
    * per run to rebuild fingerprints its timed `_indexed` twin serves
    * bit-identically from the persisted [[graft.ext.FpStore]] — but the
    * optimization rounds' bench contract freezes the TIMED set (entries
    * may be added, never removed), so it stays timed; a future BUILD
    * round may move it. */
  val DefaultSkip: Set[String] =
    Set("text_bm25_rm3", "text_hybrid_rrf", "sim_ann_index_pq")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sfDirs = sys.env.get("SPARK_GRAFT_SF_DIRS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(sfDir))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // The driver's tail capture must contain ONLY the JSON line(s), and it
    // reads a merged stream — per-package level whack-a-mole (r6 #6, r8 #3,
    // r9 #4: WindowExec, SparkStringUtils, BlockManager-init INFO, …) kept
    // losing to startup lines emitted BEFORE setLogLevel could run. Silence
    // log4j entirely before any Spark class initializes it; query failures
    // still surface — Bench prints them itself on stderr and counts them in
    // the JSON `errors` map.
    Session.silenceAllLogs()
    val spark = Session.build(s"local[$cpus]", cpus, "graft-bench")
    // optional subset (comma-separated names) — used by the sf0.1-vs-sf1
    // scaling run, which times only the expensive queries at both SFs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // default harness-twin skip: applies only to the full-suite run — an
    // explicit ONLY subset means the caller asked for exactly those names
    val skip: Set[String] =
      if (only.isDefined) Set.empty
      else sys.env.get("SPARK_GRAFT_BENCH_SKIP") match {
        case None => DefaultSkip
        case Some("none") => Set.empty
        case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot(skip)
    val passes = if (names.size > BigRegistry) 2 else 3
    // multi-SF scaling mode: beyond the smallest SF (dirs are ordered
    // smallest-first), the declared small-n baselines are excluded — they
    // are quadratic by construction (SparkEntry.smallNOnly; measured r6:
    // sim_ann_ivf 242.8 s at sf1) and a deployment runs their scale twins.
    // Each line carries the exclusion count so a subset total is never
    // read as a full-suite total.
    def namesFor(dir: String): Seq[String] =
      if (sfDirs.size > 1 && dir != sfDirs.head)
        names.filterNot(SparkEntry.smallNOnly) else names
    // the shutdown hook reads these maps from its own thread while runPass
    // mutates them — every access goes through `lock`
    val lock = new Object
    val samples = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    // a throwing query must never masquerade as a (fast) timing sample — its
    // wall time measures the failure, not the query. Count it here instead;
    // the JSON carries an `errors` map whenever any run failed.
    val failures = scala.collection.mutable.Map.empty[(String, String), Int]
      .withDefaultValue(0)
    def runPass(): Unit =
      for (name <- names; dir <- sfDirs; if namesFor(dir).contains(name)) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"bench FAIL $name @ $dir: ${e.getClass.getName}: " +
              String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200))
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // per-query isolation: queries cache intermediates (shingle sets,
        // normalized embeddings) for their own multi-use plans; letting those
        // accumulate across 58 sequential queries turns the storage pool into
        // an eviction battleground (observed 3 s -> 95 s on a late query)
        spark.catalog.clearCache()
        lock.synchronized {
          if (ok) samples((dir, name)) = dt :: samples((dir, name))
          else failures((dir, name)) += 1
        }
      }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      // odd sample counts -> true median; even -> mean of the two middle
      // samples (ADVICE r14: the old upper-median made every 2-pass query
      // report its worst-of-two, biasing totals and the throttle ratio high
      // relative to 3-pass artifacts)
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // wall-budget gate: start another pass only if the last pass's duration
    // fits in the remaining budget (pass 1 always runs — one sample per
    // query beats no artifact). `budgetStop` marks a truncated run so a
    // 1-2-sample artifact is never read as a settled 3-pass one.
    // pass metadata is written under `lock` so the shutdown hook's
    // snapshot of passes/budget_stop has a happens-before edge (the main
    // thread reads its own writes without it)
    var done = 0
    var lastPass = 0.0
    var budgetStop = false
    def tryPass(): Boolean = {
      if (done > 0 && elapsed + lastPass > DefaultWallBudget) {
        lock.synchronized { budgetStop = true }
        false
      } else {
        val p0 = System.nanoTime()
        runPass()
        lock.synchronized {
          lastPass = (System.nanoTime() - p0) / 1e9
          done += 1
        }
        true
      }
    }
    // The driver tail-captures a fixed number of trailing stdout chars; each
    // JSON line must fit whole or the parse fails. The suite has grown past
    // the point where a full 3-decimal per-query map always fits, so the map
    // keeps the most expensive queries (the ones a reader scans for
    // outliers) at full precision and collapses the cheap tail into
    // `_rest` (count `_rest_n`); `value` is always the run's total.
    def fmt(v: Double): String = {
      val s = "%.3f".format(v)
      s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    }
    def lineFor(dir: String, keepAll: Boolean = false,
                killed: Boolean = false): String = {
      val dirNames = namesFor(dir)
      // snapshot under the lock: the shutdown hook calls this concurrently
      // with a possibly-running pass
      val (snap, fails, doneSnap, budgetSnap) = lock.synchronized {
        (dirNames.map(n => n -> samples((dir, n))).toMap,
         dirNames.flatMap(n => failures.get((dir, n)).map(n -> _)),
         done, budgetStop)
      }
      // a query whose every run failed has no samples — reported as -1 with
      // its failure count in `errors`, and excluded from the total
      val results = dirNames.map { n =>
        val xs = snap(n)
        n -> (if (xs.isEmpty) -1.0 else median(xs))
      }
      val mins = dirNames.map { n =>
        val xs = snap(n)
        n -> (if (xs.isEmpty) -1.0 else xs.min)
      }.toMap
      val good = results.filter(_._2 >= 0)
      val total = fmt(good.map(_._2).sum)
      // min-total: the robust headline on a throttling VM — with 2 base
      // passes one throttled pass inflates the median total unrecoverably
      // (r14: 557 s median vs 319 s min-total on the same tree); carry both
      // so the binding artifact holds the robust statistic (VERDICT r14 #2)
      val minTotal = fmt(good.map { case (k, _) => mins(k) }.sum)
      val tr = fmt {
        val m = good.map(_._2).sum
        val lo = good.map { case (k, _) => mins(k) }.sum
        if (lo > 0) m / lo else 1.0
      }
      val byCost = results.sortBy { case (k, v) => (-v, k) }
      def encode(keep: Int): String = {
        val (kept, rest) = byCost.splitAt(keep)
        val entries = kept.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) } ++
          (if (rest.isEmpty) Nil
           else Seq("\"_rest\":" + fmt(rest.map(_._2).sum), "\"_rest_n\":" + rest.size))
        val minEntries = kept.sortBy(_._1).map { case (k, _) => "\"" + k + "\":" + fmt(mins(k)) }
        val qs = entries.mkString("{", ",", "}")
        val ms = minEntries.mkString("{", ",", "}")
        val partial = if (only.isDefined || killed) "\"partial\":true," else ""
        // on a kill, sample counts are UNEVEN (the pass was mid-flight) —
        // carry per-query counts so a reader can weigh each median
        val ns = if (!killed && !keepAll) ""
          else kept.sortBy(_._1).map { case (k, _) => "\"" + k + "\":" + snap(k).size }
            .mkString("\"nsamples\":{", ",", "},")
        val excluded = names.size - dirNames.size
        val excl = if (excluded > 0) s""""excluded_small_n":$excluded,""" else ""
        // count registry names ACTUALLY filtered out, not the configured
        // set's cardinality — a stale/misspelled SPARK_GRAFT_BENCH_SKIP
        // entry must not overstate the skip count (ADVICE r14)
        val skippedN = SparkEntry.queries.keys.count(skip)
        val skipped = if (skippedN == 0) "" else s""""skipped_harness":$skippedN,"""
        val budget = if (budgetSnap) "\"budget_stop\":true," else ""
        val kill = if (killed) "\"killed\":true," else ""
        val errs =
          if (fails.isEmpty) ""
          else fails.map { case (k, c) => "\"" + k + "\":" + c }
            .mkString("\"errors\":{", ",", "},")
        s"""{"metric":"total","value":$total,"min_total":$minTotal,"unit":"sec",$partial$excl$skipped$budget$kill$errs$ns"throttle_ratio":$tr,"passes":$doneSnap,"queries":$qs,"mins":$ms,"sf":"$dir"}"""
      }
      // the driver tail-captures a fixed TOTAL trailing-char budget; in
      // multi-SF mode every line must fit together or the earlier line(s)
      // get pushed out of the capture window — divide the budget
      val lineBudget = math.max(600, 1900 / sfDirs.size)
      if (keepAll) encode(results.size)
      else (results.size to 0 by -1).map(encode).find(_.length <= lineBudget)
        .getOrElse(encode(0))
    }
    // emit-once guard shared by the normal path and the shutdown hook: an
    // external TERM (the r13 failure mode — the driver's timeout kill) must
    // still yield parsed JSON line(s) from whatever samples exist, and a
    // normal exit must not print twice (the hook runs on EVERY exit).
    // `samplingDone` keeps a kill that lands AFTER sampling (during the
    // BENCH_OUT write or spark.stop — which can block for seconds) from
    // mislabeling a fully-settled run as killed/partial.
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val samplingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (emitted.compareAndSet(false, true)) {
        // no spark.stop() here — the hook's job is the artifact, and the
        // JVM is dying anyway; stop() can block on in-flight jobs
        sfDirs.foreach(d => println(lineFor(d, killed = !samplingDone.get)))
        System.out.flush()
      }, "bench-emit"))
    // warmup: exercise scans/joins/windows/aggs once at tiny SF so the first
    // timed query doesn't absorb JVM + whole-stage-codegen compilation.
    // AFTER the hook registration: a kill landing during warmup still emits.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    while (done < passes && tryPass()) ()
    samplingDone.set(true)
    val lines = sfDirs.map(lineFor(_))
    // full-precision artifact path: per-query medians AND mins for every
    // query with no `_rest` collapse — the stdout lines stay inside the
    // driver's tail-capture budget, the file carries the whole map (the
    // scaling artifacts need every exponent, not just the expensive tail)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      // a bad path must not kill the stdout JSON lines after a full bench
      // run: create parents, log-and-continue on failure (ADVICE r9)
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path,
          sfDirs.map(lineFor(_, keepAll = true)).mkString("", "\n", "\n"))
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: an OOM/LinkageError here must not be swallowed
        // into a healthy-looking bench line (ADVICE r10)
        System.err.println(s"[bench] SPARK_GRAFT_BENCH_OUT write failed: ${e.getMessage}")
      }
    }
    spark.stop() // stop first: the JSON must be the last line(s) of stdout
    if (emitted.compareAndSet(false, true)) {
      lines.foreach(println)
      System.out.flush()
    }
  }
}
