package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.StampedArtifact
import Relational.t

/** Round-14 batch 27: the HONEST CCNet setup — a reference-corpus
  * language model scoring the whole corpus (q183), the model as a
  * persisted stamped artifact (q184 — the fourth artifact lifecycle,
  * [[graft.ml.BigramLm]]), and the full CCNet disposition under the
  * reference LM (q185: score → per-language tertile → mix).
  *
  * q167 scores the corpus with itself (every bigram is in-model by
  * construction); q175 trains on half. CCNet's actual shape trains on a
  * REFERENCE corpus (wikipedia) and scores EVERYTHING — in-reference
  * and out-of-reference text alike — so high-resource reference-like
  * text floats to the head and out-of-domain text pays real OOV
  * penalties. Here the reference slice is the `lang = 'en'` documents
  * (deterministic, dominant at every SF — the high-resource stand-in),
  * with the q175 add-k arithmetic (k_fp = [[ScaleOps24.Q175KFp]], exact
  * 10⁻⁶ fixed point, PREFIX-total denominators, both miss classes
  * through one formula, DECIMAL(38)/HUGEINT twins).
  *
  * Scale shape (all three): one reference-sized bigram partial agg +
  * vocab rollup; the full-corpus token stream pays TWO co-partitioned
  * joins — (w1, w2) for the pair count, then w1 for the context total —
  * inherent to smoothing (a missing pair still needs its context's
  * denominator); one doc-sized lang join; then per-arm rollups. V rides
  * as a LITERAL (one driver long, memoized per corpus — the artifact
  * stores it as `_v`), so no nested-loop join survives in any arm. */
object ScaleOps27 {

  /** How many lowest-scoring documents q183/q184 surface. */
  val Q183BottomK = 15

  /** The reference slice: CCNet's wiki stand-in. */
  val RefLang = "en"

  /** Artifact location for the q184 reference LM — keyed by dir AND the
    * part-file signature (the q161/q164/q178 discipline) so a rewritten
    * corpus can never reuse a stale model. */
  private[graft] def lmPathFor(s: SparkSession, dir: String): String =
    StampedArtifact.pathFor(s, StampedArtifact.BigramLm, dir)

  /** Per-corpus memo of (V, pairRows, pairXor) — V for the scoring
    * literal and the (rows, xor) signature for the q164-style
    * idempotent persist: deterministic in the corpus, so warm runs
    * validate the artifact by metadata and never re-scan the
    * reference. */
  private val sigMemo =
    scala.collection.concurrent.TrieMap[(String, String), (Long, Long, Long)]()

  /** (doc_id, w1, w2) adjacent-bigram stream of `docs` (idCol, textCol)
    * — the q167/q175 extraction, shared verbatim. */
  private[ops] def bigramsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.text.TextAnalysis.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> named_struct('w1', element_at(ts, i), 'w2', element_at(ts, i + 1)))"))
        .as("b"))
      .filter(length(col("b.w1")) >= 1 && length(col("b.w2")) >= 1)
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Library surface: train the (w1, w2, cxy) bigram count table over
    * ANY reference frame — the model half [[scoreDocsWithLm]] consumes
    * and [[graft.ml.BigramLm.writeLm]] persists. One token-sized
    * partial-agg exchange. */
  def trainLmPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramsOf(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))

  /** Library surface: the training vocabulary size (distinct non-empty
    * tokens — doc-final and single-token-doc tokens included, which is
    * why V is not derivable from the pair table). One distinct agg. */
  def vocabSize(docs: DataFrame, textCol: String = "text"): Long =
    docs.select(explode(graft.text.TextAnalysis.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 1)
      .agg(count_distinct(col("tok"))).head().getLong(0)

  /** The reference slice's bigram count table (w1, w2, cxy). */
  private[ops] def refPairs(s: SparkSession, dir: String): DataFrame =
    trainLmPairs(Relational.fanOut(t(s, dir, "documents"))
      .filter(col("lang") === RefLang))

  /** (V, T) of the reference model for sibling arms — q187 scores the
    * same slice under KN, and T (the distinct-bigram-type count) is by
    * construction the pair-table row count the artifact stamps as
    * `_rows`. Memoized with the corpus signature via [[refSig]]. */
  private[ops] def refSigOf(s: SparkSession, dir: String): (Long, Long) = {
    val (v, n, _) = refSig(s, dir)
    (v, n)
  }

  private def refSig(s: SparkSession, dir: String): (Long, Long, Long) =
    sigMemo.getOrElseUpdate(
      (dir, Relational.corpusSignature(s, dir, "documents")), {
        val v = vocabSize(Relational.fanOut(t(s, dir, "documents"))
          .filter(col("lang") === RefLang))
        val px = refPairs(s, dir)
          .agg(count(lit(1)).as("n"),
            coalesce(expr("bit_xor(xxhash64(w1, w2, cxy))"), lit(0L)).as("x"))
          .head()
        (v, px.getLong(0), px.getLong(1))
      })

  /** Score ANY document frame against a loaded model — the BATCH kernel
    * q183/q184 run and the streaming form
    * ([[graft.streaming.Streaming.lmScoreStream]]) reopens per
    * micro-batch, so batch and stream scores cannot drift. Per ≥2-token
    * document: (idCol, n_bigrams, n_oov, score_fp) under the q175 add-k
    * fixed point with `v` as the vocabulary literal. */
  def scoreDocsWithLm(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, v: Long): DataFrame = {
    require(v >= 1, s"scoreDocsWithLm: vocabulary size must be >= 1, got $v")
    val kFp = ScaleOps24.Q175KFp
    val ctx = pairs.groupBy(col("w1")).agg(sum(col("cxy")).as("cx"))
    bigramsOf(docs, idCol, textCol)
      .join(pairs, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .withColumn("cxy", coalesce(col("cxy"), lit(0L)))
      .withColumn("cx", coalesce(col("cx"), lit(0L)))
      .withColumn("p_fp", expr(
        s"CAST((CAST(cxy AS DECIMAL(38,0)) * 1000000 + $kFp) * 1000000 " +
          s"div (CAST(cx AS DECIMAL(38,0)) * 1000000 + CAST($kFp AS DECIMAL(38,0)) * $v) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("cxy") === 0L).cast("long")).as("n_oov"),
        sum(col("p_fp")).as("sfp"))
      .withColumn("score_fp", expr("CAST(sfp div n_bigrams AS BIGINT)"))
      .select(col("doc_id").as(idCol),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("n_oov").cast("long").as("n_oov"), col("score_fp"))
  }

  /** Per-document grouped (cxy, cx, n) bigram-count multiset of the
    * add-k scorer — the same two model joins as [[scoreDocsWithLm]]
    * WITHOUT the fixed-point collapse, so a spec-side scalar reference
    * can re-aggregate the probabilities in any domain (the perplexity
    * ablation, LmAblationSpec, collects this; it is grouped so the
    * collect is bounded by distinct (doc, cxy, cx) triples, not
    * bigrams). `ctx` is the caller-built prefix-total rollup of
    * `pairs`. */
  private[graft] def heldBigramCounts(docs: DataFrame, idCol: String,
      textCol: String, pairs: DataFrame, ctx: DataFrame): DataFrame =
    bigramsOf(docs, idCol, textCol)
      .join(pairs, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .withColumn("cxy", coalesce(col("cxy"), lit(0L)))
      .withColumn("cx", coalesce(col("cx"), lit(0L)))
      .groupBy(col("doc_id"), col("cxy"), col("cx"))
      .agg(count(lit(1)).as("n"))

  private def emptyScores(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("doc_id"), lit("").as("lang"),
      col("id").as("n_bigrams"), col("id").as("n_oov"),
      col("id").as("score_fp"))

  /** Full-corpus scores with lang attached — (doc_id, lang, n_bigrams,
    * n_oov, score_fp), no cut; shared by q183 (bottom-K) and q185 (the
    * tertile mix). Empty when the reference slice has no tokens (V = 0:
    * there is no model — both engines agree by the vv ≥ 1 guard). */
  /** The q183 full-corpus score frame for sibling arms — q188 feeds it
    * through the persisted boundary artifact. */
  private[ops] def refFullScores(s: SparkSession, dir: String): DataFrame = {
    val (v, _, _) = refSig(s, dir)
    fullScores(s, dir, refPairs(s, dir), v)
  }

  /** The q185 per-(lang, bucket) keep rollup, shared with q188 so the
    * artifact round-trip's mirror (q185Sql) pins identical arithmetic. */
  private[ops] def mixRollup(assigned: DataFrame): DataFrame = {
    val rate = when(col("bucket") === "head", ScaleOps25.Q180HeadRate)
      .when(col("bucket") === "middle", ScaleOps25.Q180MiddleRate)
      .otherwise(ScaleOps25.Q180TailRate)
    assigned
      .withColumn("keep",
        graft.pipeline.Packing.mixKeep(col("doc_id"), rate))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"))
      .withColumn("kept_share_fp",
        expr("CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_kept"),
        col("kept_share_fp"))
      .orderBy(col("lang"), col("bucket"))
  }

  private def fullScores(s: SparkSession, dir: String,
      pairs: DataFrame, v: Long): DataFrame = {
    if (v == 0L) return emptyScores(s)
    scoreDocsWithLm(Relational.fanOut(t(s, dir, "documents")),
        "doc_id", "text", pairs, v)
      .join(t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("n_oov"),
        col("score_fp"))
  }

  /** q183: REFERENCE-LM document scoring — the CCNet scorer proper.
    * Train add-k bigram counts on the `lang = 'en'` slice, score EVERY
    * ≥2-token document (reference docs carry zero OOV by construction;
    * out-of-domain text pays the uniform-prior floor), surface the
    * [[Q183BottomK]] lowest (score asc, doc_id). */
  def q183RefLmScore(s: SparkSession, dir: String): DataFrame = {
    val (v, _, _) = refSig(s, dir)
    fullScores(s, dir, refPairs(s, dir), v)
      .orderBy(col("score_fp"), col("doc_id"))
      .limit(Q183BottomK)
  }

  /** q184: q183 THROUGH the persisted LM artifact
    * ([[graft.ml.BigramLm]]) — the fourth stamped-artifact lifecycle as
    * an oracle-checked arm (the q161/q164/q178 pattern): train (memoized
    * signature) → persist (side-write-then-swap, stamps LAST) → reload
    * (validated) → score with the LOADED pair table and `_v`. The
    * mirror is q183's, so the artifact round-trip is provably invisible.
    *
    * Idempotent persist with SELF-HEAL: the artifact is trusted only
    * when its (rows, xor, v) stamps match the memoized reference
    * signature; never-stamped, torn, or tampered artifacts are
    * rewritten in place and the query converges. A load that fails
    * anyway (stamps match the signature but the data files diverged, or
    * a mid-swap death left stamps without data) self-heals through the
    * same rebuild — the q174/q164 catch, both exception classes.
    *
    * HOT PATH (r16 verdict #1, same policy as
    * [[graft.ml.TertileBounds.acquire]]): a stamped artifact at the
    * corpus-signature-keyed path is loaded on the strength of
    * path-keying + `loadLm`'s own on-disk validation (stamp == rows,
    * `_xor` == the re-derived content signature — torn writes and
    * content tampers still self-heal), WITHOUT re-deriving the expected
    * reference signature per fresh JVM. The full recompute — the only
    * defense against a forged internally-consistent producer — runs
    * under `graft.artifact.audit=true`. At 100 TB the difference is one
    * redundant reference-slice train per session. */
  def q184LmArtifactScore(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.BigramLm
    val audit = s.conf.get("graft.artifact.audit", "false").toBoolean
    if (!audit) {
      val path = lmPathFor(s, dir)
      if (BigramLm.lmRows(s, path) > 0 && BigramLm.lmXor(s, path).isDefined &&
          BigramLm.lmV(s, path).isDefined) {
        val hot =
          try Some(BigramLm.loadLm(s, path))
          catch {
            case _: IllegalArgumentException |
                _: org.apache.spark.sql.AnalysisException => None
          }
        hot match {
          case Some((pairs, vLoaded)) =>
            return fullScores(s, dir, pairs, vLoaded)
              .orderBy(col("score_fp"), col("doc_id"))
              .limit(Q183BottomK)
          case None => () // torn or inconsistently tampered: rebuild below
        }
      }
    }
    val (v, n, x) = refSig(s, dir)
    if (v == 0L)
      // no reference tokens at all: there is no model — both engines
      // yield empty by the vv >= 1 guard
      return emptyScores(s)
    if (n == 0L)
      // reference tokens but ZERO bigrams (every reference doc is
      // single-token): the model EXISTS — every probability is the
      // uniform add-k prior — but there is nothing to PERSIST (writeLm
      // rightly refuses an empty pair table), so skip the artifact and
      // score with the in-memory empty pair table exactly as q183 does
      // (r14 advice: the earlier empty return diverged from q183 and
      // from the shared oracle mirror on this corner)
      return fullScores(s, dir, refPairs(s, dir), v)
        .orderBy(col("score_fp"), col("doc_id"))
        .limit(Q183BottomK)
    val path = lmPathFor(s, dir)
    def rebuild(): Unit = {
      val written = BigramLm.writeLm(s, refPairs(s, dir), v, path)
      require(written == n,
        s"q184: freshly written LM at $path stamped $written pair rows, expected $n")
    }
    val valid = BigramLm.lmRows(s, path) == n &&
      BigramLm.lmXor(s, path).contains(x) &&
      BigramLm.lmV(s, path).contains(v)
    if (!valid) rebuild()
    val (pairs, vLoaded) =
      try BigramLm.loadLm(s, path)
      catch {
        case _: IllegalArgumentException |
            _: org.apache.spark.sql.AnalysisException =>
          rebuild()
          BigramLm.loadLm(s, path)
      }
    fullScores(s, dir, pairs, vLoaded)
      .orderBy(col("score_fp"), col("doc_id"))
      .limit(Q183BottomK)
  }

  /** q185: the CCNet disposition under the REFERENCE LM — q183's scores
    * through the per-language tertile pass
    * ([[ScaleOps25.assignTertiles]], the routed scale-safe boundary
    * arm) and the q180 per-bucket keep rates
    * ([[graft.pipeline.Packing.mixKeep]]), rolled up per (lang,
    * bucket): docs, kept, kept share at 10⁻⁶ fixed point. This is the
    * exact composition `TrainingPipeline.lmTertileMix` runs, but with
    * the honest reference model instead of the corpus-as-its-own-LM —
    * one oracle arm for the whole loop. Routing bound: the per-language
    * doc count of the raw table (a valid upper bound, memoized with the
    * corpus signature via [[graft.pipeline.Packing.largestGroupRowsMemo]]). */
  def q185RefLmTertileMix(s: SparkSession, dir: String): DataFrame = {
    val (v, _, _) = refSig(s, dir)
    val scored = fullScores(s, dir, refPairs(s, dir), v)
      .select(col("doc_id"), col("lang"), col("score_fp"))
    val bound = graft.pipeline.Packing.largestGroupRowsMemo(
      t(s, dir, "documents").select(col("lang")), "lang",
      s"q185|$dir|${Relational.corpusSignature(s, dir, "documents")}")
    mixRollup(ScaleOps25.assignTertiles(scored, bound))
  }

  // --- DuckDB mirrors ---------------------------------------------------

  /** The shared scoring CTEs, ending in `scored_all(doc_id, lang,
    * n_bigrams, n_oov, score_fp)` — reference slice = lang = 'en', the
    * q175 add-k HUGEINT twin, vv ≥ 1 guard for the no-model case. */
  private val refScoreCtes: String =
    raw"""toks AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |  FROM documents
      |), bi AS (
      |  SELECT doc_id, lang, ts[g] AS w1, ts[g + 1] AS w2 FROM (
      |    SELECT doc_id, lang, ts, unnest(generate_series(1, len(ts) - 1)) AS g
      |    FROM toks WHERE len(ts) >= 2)
      |  WHERE len(ts[g]) >= 1 AND len(ts[g + 1]) >= 1
      |), ref_bi AS (
      |  SELECT w1, w2, COUNT(*) AS cxy FROM bi WHERE lang = '${RefLang}'
      |  GROUP BY w1, w2
      |), ctx AS (
      |  SELECT w1, SUM(cxy) AS cx FROM ref_bi GROUP BY w1
      |), vocab AS (
      |  SELECT COUNT(DISTINCT tok) AS vv FROM (
      |    SELECT unnest(ts) AS tok FROM toks WHERE lang = '${RefLang}')
      |  WHERE len(tok) >= 1
      |), held AS (
      |  SELECT h.doc_id, h.lang, COALESCE(tb.cxy, 0) AS cxy,
      |    COALESCE(c.cx, 0) AS cx, v.vv
      |  FROM bi h
      |  LEFT JOIN ref_bi tb ON h.w1 = tb.w1 AND h.w2 = tb.w2
      |  LEFT JOIN ctx c ON h.w1 = c.w1
      |  CROSS JOIN vocab v
      |  WHERE v.vv >= 1
      |), scored_all AS (
      |  SELECT doc_id, lang,
      |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN cxy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |    CAST(SUM((CAST(cxy AS HUGEINT) * 1000000 + ${ScaleOps24.Q175KFp}) * 1000000
      |        // (CAST(cx AS HUGEINT) * 1000000 + ${ScaleOps24.Q175KFp}::HUGEINT * vv))
      |      // COUNT(*) AS BIGINT) AS score_fp
      |  FROM held GROUP BY doc_id, lang
      |)""".stripMargin

  /** Mirror: identical reference slice, prefix totals, vocabulary
    * literal, and add-k fixed point. */
  val q183Sql: String =
    raw"""WITH $refScoreCtes
      |SELECT doc_id, lang, n_bigrams, n_oov, score_fp FROM scored_all
      |ORDER BY score_fp, doc_id LIMIT ${Q183BottomK}""".stripMargin

  /** Mirror: identical to q183's — the artifact round-trip must be
    * invisible to the result. */
  val q184Sql: String = q183Sql

  /** The CCNet-disposition SQL tail shared by q185/q188 and the
    * log-ranking arms q191/q192 ([[ScaleOps31]]): expects a CTE
    * `wl(doc_id, lang, sd, score_fp)` already in scope (sd = the score
    * as DOUBLE — the boundary comparisons run in the domain Spark's
    * `percentile` computes in) and appends the q179
    * quantile_cont/strict bucket chain + the q180 portable-hash keep
    * restatement + the per-(lang, bucket) rollup. One tail, every
    * ranking — so a disposition arm can only differ from its siblings
    * in the SCORE feeding it. */
  private[ops] val mixTailSql: String = {
    def floorRate(r: Double): Long = (r * 4294967296.0).toLong
    raw"""bounds AS (
      |  SELECT lang, quantile_cont(sd, 1.0/3.0) AS b1,
      |    quantile_cont(sd, 2.0/3.0) AS b2
      |  FROM wl GROUP BY lang
      |), bucketed AS (
      |  SELECT wl.doc_id, wl.lang,
      |    CASE WHEN sd > b2 THEN 'head'
      |         WHEN sd > b1 THEN 'middle' ELSE 'tail' END AS bucket
      |  FROM wl JOIN bounds ON wl.lang = bounds.lang
      |), kept AS (
      |  SELECT lang, bucket,
      |    CASE WHEN (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
      |               + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296
      |         < CASE bucket WHEN 'head' THEN ${floorRate(ScaleOps25.Q180HeadRate)}
      |                       WHEN 'middle' THEN ${floorRate(ScaleOps25.Q180MiddleRate)}
      |                       ELSE ${floorRate(ScaleOps25.Q180TailRate)} END
      |         THEN 1 ELSE 0 END AS keep
      |  FROM bucketed
      |)
      |SELECT lang, bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  CAST(CAST(SUM(keep) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS kept_share_fp
      |FROM kept GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin
  }

  /** Mirror: the shared scoring CTEs + the shared disposition tail. */
  val q185Sql: String =
    raw"""WITH $refScoreCtes, wl AS (
      |  SELECT doc_id, lang, CAST(score_fp AS DOUBLE) AS sd, score_fp
      |  FROM scored_all
      |), $mixTailSql""".stripMargin
}
