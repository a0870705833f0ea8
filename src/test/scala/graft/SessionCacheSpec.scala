package graft

import org.apache.spark.sql.functions.{col, lit}
import graft.ext.{Sampling, Similarity, Text}

/** The session-shared model cache (r15, VERDICT r14 #1/#3) must be a pure
  * wall-clock optimization: every cached artifact — hier structures,
  * calibrated probe depths, PQ codebooks, the planted fixture's ground
  * truth — is a deterministic function of the (immutable) corpus, so a
  * query answered from session state must be ROW-IDENTICAL to the same
  * query with the cache bypassed. These specs pin that equivalence on the
  * three query families the cache serves, plus warm-call idempotence
  * (the bench's min samples are warm runs — they must measure the same
  * result the cold Verify run was graded on). */
class SessionCacheSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("planted rp recall: cached ≡ uncached, and warm ≡ cold") {
    val cold = rows(Similarity.rpRecallPlantedAt(spark, sf, useCache = true))
    val warm = rows(Similarity.rpRecallPlantedAt(spark, sf, useCache = true))
    val raw = rows(Similarity.rpRecallPlantedAt(spark, sf, useCache = false))
    assert(cold === raw)
    assert(warm === raw)
  }

  test("recall audit: session-cached ≡ uncached builds") {
    val cached = rows(Similarity.recallAuditAt(spark, sf))
    val uncached = rows(Similarity.recallAuditAt(spark, sf, useCache = false))
    assert(cached === uncached)
  }

  test("hybrid dense arm: session-shared structure ≡ per-run build") {
    // the same probe bucket Hybrid.hybridRrf hands the dense arm
    val q = Sampling.mixHash(col("vec_id")) % 100 >=
      lit(100 - Text.Bm25QueryPct)
    val cached = rows(Similarity.annIvfKmeansQueries(spark, sf, q))
    val uncached = rows(Similarity.annIvfKmeansQueries(spark, sf, q,
      useCache = false))
    assert(cached === uncached)
  }

  test("standalone hier ANN is idempotent across warm calls") {
    val a = rows(Similarity.annIvfHier(spark, sf))
    val b = rows(Similarity.annIvfHier(spark, sf))
    assert(a === b)
  }
}
