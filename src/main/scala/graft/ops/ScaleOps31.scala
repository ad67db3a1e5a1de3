package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.StampedArtifact

/** Round-16 batch 31: the LOG-PERPLEXITY CCNet disposition END TO END
  * (r15 verdict #1). The r15 ablation pinned that the arithmetic-mean
  * and perplexity rankings disagree on ~16% of tertile assignments —
  * material — and q190 oracle-checked the log-domain SCORES; but the
  * full loop under that ranking (log₂ score → per-language tertile
  * boundaries → mix) had no hash-checked arm the way q185/q188 cover
  * the arithmetic loop. These two close it:
  *
  *   - q191: q185's protocol under the q190 ranking — score every
  *     document with the exact fixed-point log₂ kernel
  *     ([[ScaleOps30.scoreDocsWithLmLog2]]), ride the NEGATED
  *     perplexity through the unchanged strict tertile rule (head =
  *     lowest perplexity), keep per bucket through the portable-hash
  *     sampler. The mirror is q190's CTE chain feeding q185's rollup
  *     tail — both halves are the ALREADY-PINNED mirrors, composed.
  *   - q192: q191 THROUGH the persisted boundary artifact
  *     ([[graft.ml.TertileBounds]]) under scorer tag
  *     [[Q192Scorer]] ("addk:ref=en:log2") — the q188 lifecycle on the
  *     log ranking, so the batch→stream hand-off the ranking-semantics
  *     seam protects is oracle-checked for BOTH rankings. Mirror
  *     identical to q191's: the artifact round-trip must be invisible.
  *
  * Ref behavior class: the reference pipeline's persisted, validated
  * state advancing between runs (`file-to-sql-loader.py:162-291`);
  * the disposition itself is the `lm_mix` stage
  * ([[graft.pipeline.TrainingPipeline]], `lmScoreDomain =
  * LogPerplexity`) that shipped in r15.
  *
  * Scale shape: q190's exactly (two co-partitioned model joins + the
  * pure-map log₂ chain — zero extra exchanges, plan-pinned; since the
  * chain collapsed into the single codegen'd
  * [[graft.functions.NegLog2Fp]] long loop in r17, its scoring-stage
  * cost is ≈ PARITY with the arithmetic collapse — warm-vs-warm ~0.9×
  * on the densified 14.5M-pair-type stress corpus, both kernels now
  * dominated by the shared DECIMAL ratio step; the r16 era's 2.5–4.4×
  * band was the 20-round DECIMAL(38,0) projection tower, measured
  * honestly by the full-disposition stress arm (ROUND16_NOTES.md,
  * ROUND17_NOTES.md) after the r15
  * "free" ratio was found to be a count()-pruned artifact — linear
  * CPU, no new data movement) + q185's routed
  * boundary pass and rollup (sub-second next to scoring at stress
  * scale, same arm); q192 adds one
  * ≤#langs-row artifact write and a metadata-sized validated load. No
  * new exchange class anywhere — the negation is a projection. One
  * constant to state honestly: the HISTOGRAM boundary arm's
  * per-language row bound is the score VALUE DOMAIN, and the log
  * ranking's domain is plx_fp ∈ [0, 62·2²⁰] — ≈ 6.5·10⁷ distinct
  * values, 65× the arithmetic ranking's 10⁶+1. Still a CONSTANT
  * independent of corpus size (the r13 scale argument survives: the
  * boundary exchange carries min(langRows, 6.5e7) histogram rows per
  * language, never the corpus), but the per-language window's
  * single-partition sort pays that bigger constant at full saturation
  * (the composed cost of both rankings' dispositions at 1M stress docs
  * is in ROUND17_NOTES.md §4). */
object ScaleOps31 {

  /** The ranking-semantics identity of q192's boundary producer: add-k
    * smoothing, `lang='en'` reference slice, log₂-perplexity collapse
    * (negated). A consumer scoring arithmetic refuses these boundaries
    * at load — and vice versa — which is the whole point of the tag.
    * DERIVED through the one shared tag derivation (r16 verdict #4). */
  val Q192Scorer: String = graft.pipeline.TrainingPipeline.scorerTag(
    graft.pipeline.TrainingPipeline.LmSmoothing.AddK, "ref=en",
    graft.pipeline.TrainingPipeline.LmScoreDomain.LogPerplexity)

  /** Artifact location for the q192 boundary table — keyed by dir, the
    * part-file signature AND the ranking (the "|log2" salt): q188's
    * arithmetic boundaries and q192's log boundaries for one corpus
    * are DIFFERENT artifacts that must never collide on a path. */
  private[graft] def boundsPathFor(s: SparkSession, dir: String): String =
    StampedArtifact.pathFor(s, StampedArtifact.TertileBounds, dir, salt = "log2")

  /** Full-corpus LOG-RANKING scores — (doc_id, lang, score_fp) with
    * score_fp = −plx_fp, so the strict tertile rule's "head = highest
    * score" is "head = lowest perplexity" unchanged. Empty when the
    * reference slice has no tokens (V = 0: no model — the q183/q190
    * vv ≥ 1 guard on both engines). */
  private def logScoredOf(s: SparkSession, dir: String): DataFrame = {
    val (v, _) = ScaleOps27.refSigOf(s, dir)
    if (v == 0L)
      return s.range(0).select(col("id").as("doc_id"), lit("").as("lang"),
        col("id").as("score_fp"))
    ScaleOps30.scoreDocsWithLmLog2(
        Relational.fanOut(Relational.t(s, dir, "documents")),
        "doc_id", "text", ScaleOps27.refPairs(s, dir), v)
      .join(Relational.t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), (-col("plx_fp")).as("score_fp"))
  }

  private def routingBound(s: SparkSession, dir: String): Long =
    graft.pipeline.Packing.largestGroupRowsMemo(
      Relational.t(s, dir, "documents").select(col("lang")), "lang",
      s"q185|$dir|${Relational.corpusSignature(s, dir, "documents")}")

  private def boundsOf(s: SparkSession, dir: String): DataFrame =
    ScaleOps25.tertileBounds(logScoredOf(s, dir), routingBound(s, dir))

  /** q191: the CCNet disposition under the PERPLEXITY ranking — q185
    * with q190's scorer. Same boundary routing, same strict bucket
    * rule, same keep rates, same rollup; only the score differs — so
    * q185 vs q191 on one corpus is the pinned ~16%-tertile-flip
    * ablation, now live on the oracle at both scale factors. */
  def q191LogPlxTertileMix(s: SparkSession, dir: String): DataFrame =
    ScaleOps27.mixRollup(
      ScaleOps25.assignTertiles(logScoredOf(s, dir), routingBound(s, dir)))

  /** q192: q191 THROUGH the persisted boundary artifact — the q188
    * lifecycle applied to the log ranking, acquired through the one
    * shared lifecycle ([[graft.ml.TertileBounds.acquire]], r16 verdict
    * #1): path-keying + self-validating stamps on the hot path (torn
    * writes and content tampers still self-heal via the on-disk xor
    * re-derivation), the full expected-signature recompute behind
    * `graft.artifact.audit=true` — so a warm artifact on a cold JVM costs
    * a metadata-sized load, not a second full scoring chain. A corpus
    * with no scorable documents persists nothing and runs the in-memory
    * composition — the q184/q188 empty-corner discipline. */
  def q192LogBoundsArtifactMix(s: SparkSession, dir: String): DataFrame = {
    val scored = logScoredOf(s, dir)
    graft.ml.TertileBounds.acquire(s, boundsPathFor(s, dir), Q192Scorer,
        () => boundsOf(s, dir)) match {
      case Some(loaded) =>
        ScaleOps27.mixRollup(ScaleOps25.bucketWithBounds(scored, loaded))
      case None =>
        ScaleOps27.mixRollup(
          ScaleOps25.assignTertiles(scored, routingBound(s, dir)))
    }
  }

  /** Mirror: q190's per-document chain (ending in `plx`) feeding
    * q185's disposition tail, with sd = −plx_fp — the two
    * already-pinned mirrors composed, nothing new to trust. */
  val q191Sql: String =
    raw"""WITH ${ScaleOps30.log2DocCtes}, wl AS (
      |  SELECT doc_id, lang, CAST(-plx_fp AS DOUBLE) AS sd,
      |    -plx_fp AS score_fp
      |  FROM plx
      |), ${ScaleOps27.mixTailSql}""".stripMargin

  /** Mirror: identical to q191's — the boundary-artifact round-trip
    * must be invisible to the result. */
  val q192Sql: String = q191Sql
}
