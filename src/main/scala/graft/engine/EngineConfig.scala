package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File

/** Environment configuration — the reference's `_context` widget + JSON layer
  * (reference: src/pipelines/_context.py:16-52 loads `configs/{env}.json`,
  * validates env ∈ {dev, stage, prod}, and falls back to inline defaults;
  * configs/dev.json:1-12 and prod.json carry the retry policy).
  *
  * Only the stage retry/timeout policy is kept: it is the one setting the
  * engine reads, and [[Pipeline.stage]] applies it to every stage that runs
  * (a stage whose input failed is skipped, not retried). The reference's
  * catalog, schema, pipeline mode and log level name Unity Catalog objects
  * and cluster settings; in this file-based lake the output directory is
  * the namespace, so they have no reader here. Store geometry is no setting
  * either: every persisted store fixes its bucket count at creation (see
  * [[graft.ext.VectorIndex.geometryBuckets]]).
  */
final case class EngineConfig(
    maxRetryAttempts: Int,
    retryDelaySeconds: Double,
    stageTimeoutSeconds: Double)

object EngineConfig {
  val ValidEnvs: Seq[String] = Seq("dev", "stage", "prod")

  /** Inline defaults, used when `configs/{env}.json` is absent — the same
    * fallback behavior as the reference (_context.py:33-43). Stage timeout
    * mirrors run_sales_analytics.py:45's 3600 s notebook bound. */
  val defaults: EngineConfig = EngineConfig(
    maxRetryAttempts = 3,
    retryDelaySeconds = 60,
    stageTimeoutSeconds = 3600)

  /** Load `configsDir/{env}.json`, overlaying file values on [[defaults]].
    * The file comes from outside the program, so each value present must be
    * a JSON number in range (retries an integer ≥ 1, delay ≥ 0 s, timeout
    * > 0 s); an error names the key and the file. Unchecked, a negative
    * delay throws from `Thread.sleep` inside [[Pipeline.stage]]'s retry
    * path, a zero timeout fails every stage at once, and a string reads as
    * 0. */
  def load(env: String, configsDir: String = "configs"): EngineConfig = {
    require(ValidEnvs.contains(env),
      s"Invalid environment '$env'. Must be one of: ${ValidEnvs.mkString(", ")}")
    val d = defaults
    val f = new File(configsDir, s"$env.json")
    if (!f.isFile) d
    else {
      val n = new ObjectMapper().readTree(f)
      def num(k: String, dv: Double, rule: String)(ok: JsonNode => Boolean): Double =
        if (!n.hasNonNull(k)) dv
        else {
          val v = n.get(k)
          require(v.isNumber && java.lang.Double.isFinite(v.asDouble()) && ok(v),
            s"$f: '$k' must be $rule, got $v")
          v.asDouble()
        }
      EngineConfig(
        maxRetryAttempts = num("max_retry_attempts", d.maxRetryAttempts,
          "an integer >= 1")(v => v.canConvertToInt && v.isIntegralNumber && v.asInt() >= 1).toInt,
        retryDelaySeconds = num("retry_delay_seconds", d.retryDelaySeconds,
          "a number >= 0")(_.asDouble() >= 0),
        stageTimeoutSeconds = num("stage_timeout_seconds", d.stageTimeoutSeconds,
          "a number > 0")(_.asDouble() > 0))
    }
  }
}
