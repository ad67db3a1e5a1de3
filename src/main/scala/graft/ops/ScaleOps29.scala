package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.StampedArtifact

/** Round-15 batch 29: the persisted TERTILE-BOUNDARY artifact as an
  * oracle-checked arm — q188 is q185 (the full CCNet disposition under
  * the reference LM) with the per-language boundaries going THROUGH the
  * fifth stamped artifact ([[graft.ml.TertileBounds]], r14 verdict #4):
  * compute boundaries from the batch-scored corpus → persist
  * (side-write-then-swap, stamps last) → reload (validated) → bucket
  * and mix with the LOADED table. The mirror is q185's, so the artifact
  * round-trip is provably invisible — the property the batch→stream
  * hand-off ([[graft.streaming.Streaming.lmMixStream]]) rests on:
  * boundaries are a global property only a batch pass can compute, and
  * shipping them must not move a single document between buckets.
  *
  * Ref behavior class: the reference pipeline's persisted, validated
  * state advancing between runs (`file-to-sql-loader.py:162-291`).
  *
  * Scale shape: q185's exactly (the scoring chain + the routed boundary
  * pass), plus one ≤#langs-row parquet write and a metadata-sized
  * validated load — the artifact is driver-sized, the persist cost is
  * noise next to the scoring chain it caches the output of. */
object ScaleOps29 {

  /** Artifact location for the q188 boundary table — keyed by dir AND
    * the part-file signature (the q161/q164/q184 discipline) so a
    * rewritten corpus can never reuse stale boundaries. */
  private[graft] def boundsPathFor(s: SparkSession, dir: String): String =
    StampedArtifact.pathFor(s, StampedArtifact.TertileBounds, dir)

  /** The ranking-semantics identity of q188's boundary producer: add-k
    * smoothing, `lang='en'` reference slice, arithmetic-mean collapse —
    * stamped into the artifact so a consumer configured for any OTHER
    * ranking refuses at load ([[graft.ml.TertileBounds.loadBoundsFor]]).
    * DERIVED through the one shared tag derivation (r16 verdict #4 —
    * no producer-side hand-built literal left to drift from the
    * consumer side's). */
  val Q188Scorer: String = graft.pipeline.TrainingPipeline.scorerTag(
    graft.pipeline.TrainingPipeline.LmSmoothing.AddK, "ref=en",
    graft.pipeline.TrainingPipeline.LmScoreDomain.Arithmetic)

  private def scoredOf(s: SparkSession, dir: String): DataFrame =
    ScaleOps27.refFullScores(s, dir)
      .select(col("doc_id"), col("lang"), col("score_fp"))

  private def routingBound(s: SparkSession, dir: String): Long =
    graft.pipeline.Packing.largestGroupRowsMemo(
      Relational.t(s, dir, "documents").select(col("lang")), "lang",
      s"q185|$dir|${Relational.corpusSignature(s, dir, "documents")}")

  private def boundsOf(s: SparkSession, dir: String): DataFrame =
    ScaleOps25.tertileBounds(scoredOf(s, dir), routingBound(s, dir))

  /** q188: q185 THROUGH the persisted boundary artifact — the q184
    * lifecycle pattern applied to artifact #5, acquired through the one
    * shared lifecycle ([[graft.ml.TertileBounds.acquire]], r16 verdict
    * #1): a stamped artifact at the corpus-signature-keyed path is
    * trusted on path-keying + its self-validating stamps (the content
    * xor is re-derived from disk on load, so torn writes and content
    * tampers still self-heal), WITHOUT re-running the scoring chain per
    * fresh JVM — the full expected-signature recompute lives behind
    * `graft.artifact.audit=true`. A corpus with NO scorable documents has
    * no boundary table to persist — both engines yield an empty rollup,
    * so the arm runs the in-memory composition, exactly q184's
    * no-bigram discipline. */
  def q188BoundsArtifactMix(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredOf(s, dir)
    graft.ml.TertileBounds.acquire(s, boundsPathFor(s, dir), Q188Scorer,
        () => boundsOf(s, dir)) match {
      case Some(loaded) =>
        ScaleOps27.mixRollup(ScaleOps25.bucketWithBounds(scored, loaded))
      case None =>
        ScaleOps27.mixRollup(
          ScaleOps25.assignTertiles(scored, routingBound(s, dir)))
    }
  }

  /** Mirror: identical to q185's — the boundary-artifact round-trip
    * must be invisible to the result. */
  val q188Sql: String = ScaleOps27.q185Sql

  // --- byte-targeted shard file routing (q189) ------------------------------

  /** Shard count q189 routes into — q182's, so the two file-layout laws
    * are directly comparable. */
  val Q189Shards = 8L

  /** Per-leaf payload byte target. Chosen so the sf corpora exercise
    * F > 1 on some shards and F = 1 on others — the law must be seen
    * choosing DIFFERENT file counts per shard. */
  val Q189TargetBytes = 2000L

  /** The power-of-two ceiling as ONE generated CASE expression both
    * engines evaluate verbatim — F = pow2ceil(need) for need in
    * [0, 2⁶²]. Integer end to end: no log2/pow float round-trip to
    * disagree at a power boundary. */
  private def pow2CaseSql(v: String): String =
    (0 to 62).map(k => s"WHEN $v <= ${1L << k} THEN ${1L << k}")
      .mkString("CASE ", " ", " END")

  /** q189: BYTE-TARGETED shard file routing — the arithmetic law behind
    * [[graft.pipeline.TrainingPipeline.writeShardedByBytes]] (r14
    * verdict #5), as q182 is to the fixed-F writer. Per shard (the
    * q169/q182 portable-hash assignment, untouched by any retarget):
    * measured payload bytes = Σ octet_length(text), need =
    * ⌈bytes / target⌉ in pure integers, F = the smallest power of two
    * ≥ need — the quantization that makes the byte target MONOTONE
    * (F' | F whenever the target rises, so leaves only ever MERGE;
    * any non-power F would re-deal documents between leaves on every
    * retarget). Then file_idx = (bucket div S) mod F — the next hash
    * bits up, per-shard F. Output per (shard, file_idx): docs, payload
    * bytes, and the shard's chosen F.
    *
    * Scale shape: one pure-map byte measure fused into the scan, one
    * ≤S-group partial agg, the ≤S-row F table broadcast back, one
    * ≤Σ F-group rollup. */
  def q189ByteShardFiles(s: SparkSession, dir: String): DataFrame = {
    val b = Relational.fanOut(Relational.t(s, dir, "documents"))
      .select(col("doc_id").cast("long").as("doc_id"),
        octet_length(col("text")).cast("long").as("nb"))
      .withColumn("__bucket", Relational3.splitBucket(col("doc_id")))
      .withColumn("shard", pmod(col("__bucket"), lit(Q189Shards)))
    val fPer = b.groupBy(col("shard")).agg(sum(col("nb")).as("bytes"))
      .withColumn("need",
        expr(s"(bytes + ${Q189TargetBytes - 1}) div $Q189TargetBytes"))
      .withColumn("n_files", expr(pow2CaseSql("need")).cast("long"))
      .select(col("shard"), col("n_files"))
    b.join(broadcast(fPer), Seq("shard"))
      .withColumn("file_idx",
        pmod(expr(s"__bucket div $Q189Shards"), col("n_files")))
      .groupBy(col("shard"), col("file_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bytes"),
        max(col("n_files")).as("n_files"))
      .orderBy(col("shard"), col("file_idx"))
  }

  /** Mirror: the portable-hash restatement + strlen (DuckDB's byte
    * length of a VARCHAR = Spark's octet_length) + the SAME generated
    * power-of-two CASE. All operands non-negative, so `%`/`//` agree
    * with pmod/div everywhere. */
  val q189Sql: String =
    raw"""WITH b AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(strlen(text) AS BIGINT) AS nb,
      |    (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
      |      + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296
      |      AS bucket
      |  FROM documents
      |), f AS (
      |  SELECT shard, CAST(${pow2CaseSql("need")} AS BIGINT) AS n_files
      |  FROM (
      |    SELECT bucket % ${Q189Shards} AS shard,
      |      (SUM(nb) + ${Q189TargetBytes - 1}) // ${Q189TargetBytes} AS need
      |    FROM b GROUP BY 1)
      |)
      |SELECT b.bucket % ${Q189Shards} AS shard,
      |  (b.bucket // ${Q189Shards}) % f.n_files AS file_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(b.nb) AS BIGINT) AS n_bytes,
      |  CAST(MAX(f.n_files) AS BIGINT) AS n_files
      |FROM b JOIN f ON b.bucket % ${Q189Shards} = f.shard
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
