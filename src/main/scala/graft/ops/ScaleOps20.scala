package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.StampedArtifact
import org.apache.spark.sql.expressions.Window
import Relational.t

/** Round-11 batch 20: the tokenizer-artifact lifecycle made
  * oracle-visible (q161 — encode from a PERSISTED vocab, the r10
  * verdict's top item), packing by REAL trained-BPE counts (q162 — the
  * operation a pre-training pipeline actually runs), and word2vec
  * frequency subsampling for skip-gram generation (q163 — the
  * production path for the honestly-linear q152 pair table, in EXACT
  * integer arithmetic so it oracle-mirrors). */
object ScaleOps20 {

  // --- encode from the persisted vocab artifact (q161) ---------------------

  /** q161: BPE encode from the PERSISTED tokenizer artifact — the full
    * lifecycle the r10 verdict asked for, as an oracle-checked arm:
    * train (per-corpus memo), [[graft.text.Bpe.writeVocab]] (merge table
    * + `_rows` stamp last), [[graft.text.Bpe.loadVocab]] (torn-model
    * validation), then encode the corpus FROM THE LOADED MERGES. The
    * result is definitionally q151's output — which is the point: the
    * oracle re-derives the merge table from the corpus in SQL, so a
    * round-trip that altered ANY merge (order, symbols, a torn write
    * slipping through) hash-diverges. Across JVMs this is the
    * "train once, ship the artifact, encode anywhere" path with zero
    * retraining. */
  def q161BpeArtifactEncode(s: SparkSession, dir: String): DataFrame = {
    val path = StampedArtifact.pathFor(s, StampedArtifact.BpeVocab, dir)
    // HOT PATH (r16 verdict #1, the TertileBounds.acquire policy): a
    // stamped, structurally valid vocab at the corpus-signature-keyed
    // path encodes WITHOUT retraining — "train once, ship the artifact,
    // encode anywhere" now holds across JVMs, not just within one. The
    // retrain-and-compare below (the only defense against a forged
    // well-formed vocab, and against a tie-break/rounds semantic that
    // changed across code versions under one corpus signature) runs
    // under graft.artifact.audit=true.
    if (!s.conf.get("graft.artifact.audit", "false").toBoolean &&
        graft.text.Bpe.vocabRows(s, path) > 0) {
      scala.util.Try(graft.text.Bpe.loadVocab(s, path)).toOption match {
        case Some(loaded) => return ScaleOps17.encodeDocs(s, dir, loaded)
        case None => () // torn: heal through the train path
      }
    }
    val merges = ScaleOps17.bpeTrainFull(s, dir)
    // Idempotent persist with SELF-HEAL (the r11 advice): a stamp-valid
    // artifact of the right size is loaded and trusted only if its
    // CONTENT matches the trained merges; any other state — never
    // stamped, torn/garbage stamp (vocabRows -1), load-time validation
    // failure, or same-size-different-merges — is rewritten in place
    // and reloaded, so the query converges instead of failing forever
    // until /tmp is hand-cleaned.
    val existing =
      if (graft.text.Bpe.vocabRows(s, path) == merges.size)
        scala.util.Try(graft.text.Bpe.loadVocab(s, path)).toOption
      else None
    val loaded = existing.filter(_ == merges).getOrElse {
      graft.text.Bpe.writeVocab(s, merges, path)
      graft.text.Bpe.loadVocab(s, path)
    }
    require(loaded == merges,
      s"q161: freshly rewritten vocab at $path does not round-trip")
    ScaleOps17.encodeDocs(s, dir, loaded)
  }

  /** Mirror: identical to q151's — the artifact round-trip must be
    * invisible to the result. */
  val q161Sql: String = ScaleOps17.q151Sql

  // --- packing by real tokenizer counts (q162) -----------------------------

  /** Context-window budget for q162 — big enough that packs span
    * multiple documents at every shipped SF. */
  val Q162Ctx = 2048L

  /** q162: sequence PACKING by EXACT trained-BPE token counts — the r10
    * verdict's "pack by real tokenizer counts": q61 packs on the
    * whitespace tokenizer, but a training run budgets context windows in
    * the tokens the MODEL will see. Per document: the exact q151 BPE
    * count (trained merges via the per-corpus memo); documents lay out
    * per source in doc_id order and a document's pack is the window its
    * first token lands in ([[graft.pipeline.Packing]]'s greedy
    * concat-then-chunk layout, driven by the supplied count column).
    * Output: per (source, pack_id) — docs, exact BPE token fill, id
    * span.
    *
    * Scale shape: the q151 encode (pure map + doc-keyed partial agg),
    * one broadcast-able doc-count join back to (doc_id, source), then
    * the SIZE-ADAPTIVE prefix sum ([[graft.pipeline.Packing]] since
    * r12): a per-group count measurement routes small groups through
    * one windowed pass (this SF) and big ones through the hierarchical
    * two-phase form — ONE range exchange + per-partition local windows,
    * so no source ever serializes into a single task at 100×. One pack
    * rollup at the end. */
  def q162BpePacking(s: SparkSession, dir: String): DataFrame = {
    val merges = ScaleOps17.bpeTrainFull(s, dir)
    val docs = Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("text"))
    val counted = graft.text.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
    val withCounts = docs.select(col("doc_id"), col("source"))
      .join(counted, Seq("doc_id"))
    // routing bound measured on the CHEAP pre-encode frame, memoized per
    // corpus identity (r12 advice: the entry point's own measurement
    // groupBy re-executed the full per-doc BPE encode once per call —
    // the encode ran twice per query). Per-source rows of withCounts ⊆
    // docs (inner join on the unique doc_id), so the docs-side count is
    // a valid upper bound — conservative routing costs time, never rows.
    val largest = graft.pipeline.Packing.largestGroupRowsMemo(docs, "source",
      s"q162|$dir|${Relational.corpusSignature(s, dir, "documents")}")
    val assigned = graft.pipeline.Packing.packAssignmentsByCountMeasured(
      withCounts, "doc_id", "n_bpe_tokens", "source", Q162Ctx, largest)
    graft.pipeline.Packing.packSummary(assigned, "doc_id", "source",
        "n_bpe_tokens")
      .select(col("source"), col("pack_id").cast("long").as("pack_id"),
        col("n_docs"), col("pack_tokens").cast("long").as("pack_tokens"),
        col("first_doc"), col("last_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  /** Mirror: the q150 merge-table CTEs, the q151 apply chain rolled up
    * per document (empty documents keep a 0 count via the LEFT JOIN),
    * then the same per-source running-sum pack assignment and rollup.
    * PRECONDITION (enforced Spark-side by
    * [[ScaleOps17.bpeTrainFull]]): the corpus supports all BpeRounds
    * merges — an empty mN CTE would zero every COALESCE'd count here
    * while Spark applied the shorter list. */
  val q162Sql: String = {
    val rounds = ScaleOps17.BpeRounds
    val applyChain = (1 to rounds).foldLeft("regexp_replace(tok, '(.)', ' \\1 ', 'g')") {
      case (acc, r) =>
        s"replace($acc, ' ' || m$r.p1 || '  ' || m$r.p2 || ' ', ' ' || m$r.p1 || m$r.p2 || ' ')"
    }
    ScaleOps17.bpeSqlRounds(rounds) +
      s""",
        |dtoks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        |    FROM documents)
        |  WHERE len(tok) >= 1
        |), perdoc AS (
        |  SELECT doc_id, SUM(n_bpe) AS n FROM (
        |    SELECT doc_id,
        |      len(string_split(trim($applyChain), '  ')) AS n_bpe
        |    FROM dtoks ${(1 to rounds).map(r => s"CROSS JOIN m$r").mkString(" ")})
        |  GROUP BY doc_id
        |), counted AS (
        |  SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source,
        |    COALESCE(p.n, 0) AS n
        |  FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
        |), assigned AS (
        |  SELECT doc_id, source, n,
        |    (SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |                  ROWS UNBOUNDED PRECEDING) - n) // $Q162Ctx AS pack_id
        |  FROM counted
        |)
        |SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM assigned GROUP BY source, pack_id
        |ORDER BY source, pack_id""".stripMargin
  }

  // --- subsampled skip-grams (q163) ----------------------------------------

  /** Subsampling threshold t = 1/[[Q163TDen]] (word2vec's `-sample`):
    * token instances of a type with corpus frequency f > t are kept with
    * probability √(t/f). */
  val Q163TDen = 1000L

  /** q163: skip-gram pairs with word2vec FREQUENCY SUBSAMPLING — the
    * production path the r10 verdict asked for: q152 is honestly linear
    * in 6·tokens, and at 100 TB the pair table dominates, so frequent
    * types (stopwords) are down-sampled BEFORE pair generation. Instance
    * keep is deterministic and engine-portable: the q51 multiplicative
    * hash of (doc, position) gives bucket ∈ [0, 2³²); keep iff
    * bucket/2³² < √(t/f) — cleared of the square root and the division
    * into EXACT integers as bucket²·tDen·c < 2⁶⁴·T (DECIMAL(38)/HUGEINT;
    * bucket² < 2⁶⁴ makes the inequality vacuously true for types with
    * f ≤ t, so rare words always survive). Survivors RE-INDEX per
    * document (word2vec removes sampled-out instances from the sequence
    * — windows span survivors), then q152's bounded ±3 probe join and
    * distributed top-25.
    *
    * Scale shape: q152's shape plus one vocab-sized frequency join, a
    * 1-row totals broadcast, and ONE doc-keyed window for the re-index;
    * the pair explode runs on the post-subsample (strictly smaller)
    * token stream — that shrinkage is the point. */
  def q163SkipGramsSubsampled(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.fanOut(t(s, dir, "documents"))
    val toks = docs.select(col("doc_id").cast("long").as("did"),
      posexplode(graft.text.TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) >= 1)
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = freq.agg(sum(col("c")).as("tt"))
    val kept = toks
      .join(freq, Seq("tok"))
      .crossJoin(broadcast(totals))
      .withColumn("bucket",
        Relational3.splitBucket(col("did") * lit(100003L) + col("pos")))
      .filter(expr("CAST(bucket AS DECIMAL(38,0)) * bucket * " +
        s"$Q163TDen * c < CAST(18446744073709551616 AS DECIMAL(38,0)) * tt"))
    // Survivors collapse to one ordered array per document (ONE doc-keyed
    // exchange — the same exchange the former row_number window paid),
    // and the ±3 pairs are then a pure map over array adjacency: array
    // index IS the re-index, so the window AND the (did, cpos) probe
    // join (which shuffled ~7x the surviving token volume) both
    // disappear. sort_array over (pos, tok) structs orders by the unique
    // pos, making the collect_list order deterministic; pair multiset
    // identical to the probe-join form.
    val seqArr = kept
      .groupBy(col("did"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("sq"))
      .select(expr("transform(sq, x -> x.tok)").as("ts"))
    val top = seqArr
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ts)), i -> " +
          "filter(transform(array(-3, -2, -1, 1, 2, 3), k -> " +
          "CASE WHEN i + k >= 1 AND i + k <= size(ts) " +
          "THEN named_struct('center', element_at(ts, i), " +
          "'context', element_at(ts, i + k)) END), " +
          "p -> p IS NOT NULL)))")).as("pr"))
      .select(col("pr.center").as("center"), col("pr.context").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center"), col("context"))
      .limit(25)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("center"), col("context"))))
      .select(col("rank"), col("center"), col("context"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Mirror: same positions, same q51 bucket arithmetic on the instance
    * key, same exact-integer keep inequality in HUGEINT, same re-index
    * and ±3 window join. */
  val q163Sql: String =
    raw"""WITH toks AS (
      |  -- g - 1: Spark's posexplode positions are 0-based and the
      |  -- instance hash key must agree bit-for-bit across engines
      |  SELECT CAST(doc_id AS BIGINT) AS did, g - 1 AS pos, s[g] AS tok FROM (
      |    SELECT doc_id, s, unnest(generate_series(1, len(s))) AS g
      |    FROM (SELECT doc_id,
      |            regexp_split_to_array(trim(lower(text)), '\s+') AS s
      |          FROM documents))
      |  WHERE len(s[g]) >= 1
      |), freq AS (
      |  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
      |), totals AS (
      |  SELECT SUM(c) AS tt FROM freq
      |), kept AS (
      |  SELECT did, pos, tok FROM (
      |    SELECT did, pos, toks.tok, c, tt,
      |      (((((did * 100003 + pos) % 4294967296) // 65536) * 2654435761)
      |        % 65536) * 65536
      |        + (((did * 100003 + pos) % 4294967296) % 65536) * 2654435761 AS b0
      |    FROM toks JOIN freq ON freq.tok = toks.tok CROSS JOIN totals)
      |  WHERE (b0 % 4294967296)::HUGEINT * (b0 % 4294967296) * $Q163TDen * c
      |      < 18446744073709551616::HUGEINT * tt
      |), seq0 AS (
      |  SELECT did, ROW_NUMBER() OVER (PARTITION BY did ORDER BY pos) AS npos,
      |    tok
      |  FROM kept
      |), pairs AS (
      |  SELECT a.tok AS center, b.tok AS context
      |  FROM seq0 a JOIN seq0 b
      |    ON a.did = b.did
      |   AND b.npos BETWEEN a.npos - 3 AND a.npos + 3
      |   AND b.npos <> a.npos
      |), counted AS (
      |  SELECT center, context, COUNT(*) AS cnt FROM pairs
      |  GROUP BY center, context
      |)
      |SELECT rank, center, context, CAST(cnt AS BIGINT) AS cnt FROM (
      |  SELECT center, context, cnt,
      |    ROW_NUMBER() OVER (ORDER BY cnt DESC, center, context) AS rank
      |  FROM counted)
      |WHERE rank <= 25 ORDER BY rank""".stripMargin
}
