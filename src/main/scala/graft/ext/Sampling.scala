package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Sources
import Similarity.{MixA, MixB, M31, M32}

/** Deterministic sampling for training-data pipelines.
  *
  * Random sampling (`df.sample`, `sampleBy`) is seed-stable within one Spark
  * version but NOT portable or auditable; at 100 TB a training run must be
  * able to state exactly which rows were train vs test years later. So every
  * sampler here derives from the integer mixer both engines share (the
  * [[Similarity]] multiply-xorshift-multiply): the assignment is a pure
  * function of the row key — reproducible anywhere, verifiable in the
  * DuckDB oracle, stable under re-partitioning, and join-free to apply.
  */
object Sampling {

  /** Mixed 31-bit hash of a key column — same formula as the SRP hyperplane
    * hash, reused so the oracle SQL carries one mixer. */
  def mixHash(key: Column): Column = {
    val h0 = (key + 1) * MixA % M32
    val m = h0.bitwiseXOR(shiftright(h0, 16)) % M31
    m * MixB % M32
  }

  val TrainPct = 80
  val ValPct = 10 // test = remainder

  /** Reproducible train/val/test assignment: bucket = mix(doc_id) mod 100.
    * Per-row, key-derived — appending data never reshuffles old rows'
    * splits (a date- or position-based split would). */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = mixHash(col("doc_id")) % 100
    Sources.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
  }

  /** Leakage-proof split: near-duplicates of one document must never
    * straddle train/test (a test doc with a train near-twin is silent
    * contamination — the group-aware split every careful eval pipeline
    * uses). The split key is the doc's near-dup CLUSTER id
    * ([[Dedup.clusters]] connected components; singletons are their own
    * cluster), so whole clusters move together: bucket =
    * mix(cluster_id) mod 100 with the same 80/10/10 arms as
    * [[trainValTestSplit]]. Append-stable for new members of existing
    * clusters; a pair MERGING two old clusters re-keys the smaller id —
    * the unavoidable cost of the guarantee (re-keys are churn-proportional).
    * Cost shape: the cluster map is the already-scale-shaped CC loop;
    * the split itself is one map-side expression over it. */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = mixHash(col("cluster_id")) % 100
    Dedup.clusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("split",
        when(bucket < TrainPct, "train")
          .when(bucket < TrainPct + ValPct, "val")
          .otherwise("test"))
  }

  /** Train→test contamination probe: for every test-split document, how many
    * of its word-shingles also occur in ANY train-split document (the
    * decontamination check run before any evaluation set is trusted). One
    * shuffle on the shingle key — the same candidate-join shape as the
    * n-gram dedup, restricted across the split boundary. Only test docs
    * with ≥ 1 shingle appear (shorter docs have no shingles to leak). */
  def testSetContamination(spark: SparkSession, dir: String): DataFrame = {
    // the split is a pure per-row hash — derived inline on the shingle
    // rows (no join); the explode is spread map-work, cheap to run per arm
    val bucket = mixHash(col("doc_id")) % 100
    val sh = Dedup.shingles(Sources.documents(spark, dir))
      .withColumn("split",
        when(bucket < TrainPct, "train")
          .when(bucket < TrainPct + ValPct, "val")
          .otherwise("test"))
    val trainShingles = sh.where(col("split") === "train")
      .select("shingle").distinct()
    val testSh = sh.where(col("split") === "test")
    testSh
      .join(trainShingles.withColumn("_hit", lit(1)), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_contaminated"))
      .withColumn("contamination_ratio",
        graft.engine.Num.r4(col("n_contaminated").cast("double") / col("n_shingles")))
  }

  /** Max tolerated leak: a train doc sharing more than this percentage of
    * its shingles with the test split is dropped by [[decontaminatedTrain]].
    * 50% tolerates natural phrase reuse in a homogeneous corpus while
    * catching test rows that leaked into train nearly whole. */
  val DeconMaxLeakPct = 50

  /** The decontamination REMOVAL stage — the other half of
    * [[testSetContamination]] (which measures; this cleans): every
    * train-split document keeps only if at most [[DeconMaxLeakPct]]% of its
    * word-shingles occur anywhere in the test split. Emitted per kept doc:
    * its shingle count, leaked-shingle count and leak ratio — the audit
    * columns a scrub report carries. Same one-shuffle candidate-join shape
    * as the measurement probe (distinct test shingles are the small side of
    * a shuffle join on the shingle key; at 100 TB the test split is
    * typically small enough that this side broadcasts). Docs with no
    * shingles (< [[Dedup.ShingleK]] words) have nothing to leak and pass
    * through with zero counts. */
  def decontaminatedTrain(spark: SparkSession, dir: String): DataFrame = {
    val bucket = mixHash(col("doc_id")) % 100
    val docs = Sources.documents(spark, dir)
    val sh = Dedup.shingles(docs)
      .withColumn("split",
        when(bucket < TrainPct, "train")
          .when(bucket < TrainPct + ValPct, "val")
          .otherwise("test"))
    val testShingles = sh.where(col("split") === "test")
      .select("shingle").distinct()
    val leak = sh.where(col("split") === "train")
      .join(testShingles.withColumn("_hit", lit(1)), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_leaked"))
    docs.where(bucket < TrainPct).select("doc_id")
      .join(leak, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .where(col("n_leaked") * 100 <= col("n_shingles") * DeconMaxLeakPct)
      .withColumn("leak_ratio", graft.engine.Num.r4(
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_leaked").cast("double") / col("n_shingles"))))
  }

  /** Per-cluster keep quota for [[clusterBalancedSample]]. */
  val ClusterQuota = 8

  /** Cluster-balanced diversity sample over the embedding corpus — the
    * topic-flattening subset selection step (the D4/SemDeDup-descendant
    * recipe: dedup, then sample ACROSS semantic clusters rather than
    * uniformly, so mega-topics stop dominating the training mix). Every
    * vector is assigned to its nearest ⌈√n⌉ k-means cell (the shared
    * label-free quantizer [[Similarity.kmeansCentroids]]), then each
    * cluster keeps its first [[ClusterQuota]] members in mixed-hash order —
    * uniform-without-replacement WITHIN the cluster, quota-capped ACROSS
    * clusters: heavy topics are cut hardest, light ones survive whole.
    * Output is verdict-grain (every vector, its cluster, cluster size,
    * in-cluster rank, kept flag) so the caller can either filter on `kept`
    * or re-weight on `cluster_size`.
    *
    * Scale shape: centroid assignment is MAP-ONLY ([[Similarity.nearestCells]]
    * — the Cent array ships as one typed literal); the only exchange is the
    * cluster-keyed shuffle for the quota window, whose per-cluster sort is
    * bounded by cluster size (avg √n; the skewed clusters a real corpus has
    * are exactly the ones the quota then discards most of). The DuckDB twin
    * replays seeds + Lloyd rounds + the mixer bit-for-bit. */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Similarity.withNorm(Sources.embeddings(spark, dir))
    // session-shared √n quantizer (r15) — same key/frame/chain as
    // dedup_semantic_kmeans
    val cents = Similarity.kmeansCentroidsLocalShared(vecs, s"$dir#sqrt-base")
    val asg = vecs
      .withColumn("cluster",
        element_at(Similarity.nearestCells(cents, 1), 1).getField("cl"))
      .select(col("vec_id"), col("cluster"))
    val w = Window.partitionBy("cluster")
      .orderBy(mixHash(col("vec_id")), col("vec_id"))
    asg
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .withColumn("kept", col("sample_rank") <= ClusterQuota)
  }

  val StratumK = 20

  /** Exactly-k-per-stratum sample: rank rows inside each stratum by their
    * mixed hash (uniform pseudo-random order) and keep the first k —
    * deterministic uniform-without-replacement sampling, one shuffle on the
    * stratum key. Strata smaller than k pass through whole. */
  def sampleKPerStratum(spark: SparkSession, dir: String, k: Int = StratumK): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(mixHash(col("doc_id")), col("doc_id"))
    Sources.documents(spark, dir)
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
      .select("lang", "sample_rank", "doc_id", "source")
  }
}
