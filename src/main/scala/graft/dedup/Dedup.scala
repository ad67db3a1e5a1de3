package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for the training-data pipeline layer.
  *
  * Scale design: every variant is expressed as exploded key/candidate joins
  * (shuffle on compact keys — hashes, band ids — never on document text),
  * partial-aggregated groupBys, and no driver-side loops. Candidate
  * generation (LSH bands / simhash bands) bounds the quadratic pair space
  * to hash-bucket collisions, which is what makes near-dup feasible at
  * 100 TB.
  */
object Dedup {

  // --- candidate-cache lifecycle ------------------------------------------

  /** The pair-candidate builders ([[overlapTable]], [[minhashLshPairs]],
    * [[simhashPairs]]) each cache one large exploded intermediate that
    * feeds several branches of the ONE job that consumes the returned
    * (lazy) plan. The builder cannot know when that job has run, so each
    * such cache is registered here per session and freed by the caller
    * once the consuming action completes — the same storage discipline
    * [[clusterPairs]] applies internally to its per-round checkpoints,
    * surfaced as an explicit API because these plans are lazy. Without a
    * free, a long-lived session running many dedup calls accumulates
    * executor storage until LRU eviction pressure; `spark.catalog
    * .clearCache()` also clears these (it empties the whole CacheManager). */
  private val candidateCaches =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.Queue[DataFrame]]()

  /** Test probe: number of sessions currently holding a registry entry.
    * [[freeCandidateCaches]] must leave this at zero for a drained session
    * — the entry-retention leak this asserts against is driver-side and
    * invisible to the storage-level checks the specs otherwise use. */
  private[graft] def trackedCacheSessions: Int = candidateCaches.size()

  private def cacheTracked(df: DataFrame): DataFrame = {
    // graft.cache.shared gates the cache, DEFAULT FALSE since r18: the
    // self-join's two sides already share ONE exchange via ReuseExchange,
    // so the cache only deduplicates the sizes/blacklist branches' extra
    // kernel passes — parallel work — while costing a serialized cache
    // population plus re-reads. The one-JVM interleaved A/B
    // (graft.cache.shared on vs off, 7 reps, sf0.1) measured
    // uncached faster on every builder: q19 1.34 vs 1.71 s, q60 3.58 vs
    // 5.91 s, q22 0.79 vs 0.95 s, q21 0.50 vs 0.55 s, q58 a wash. The
    // knob remains for memory-rich saturated clusters where duplicate
    // kernel passes cost real capacity.
    if (!df.sparkSession.conf.getOption("graft.cache.shared")
        .exists(_.toBoolean)) return df
    val cached = df.cache()
    // The add runs inside compute() so it is atomic with freeCandidateCaches'
    // removal of a drained entry (ConcurrentHashMap serializes remapping
    // functions per key): a racing register either lands before the drain
    // (freed now) or re-creates the entry after removal (freed next call) —
    // it can never strand a cached plan in a discarded queue.
    candidateCaches.compute(cached.sparkSession, (_, q0) => {
      val q = if (q0 == null)
        new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]() else q0
      // opportunistic sweep: entries something else already uncached
      // (spark.catalog.clearCache()) hold no storage — drop them so a
      // clearCache-only session's queue doesn't grow without bound
      val it = q.iterator()
      while (it.hasNext)
        if (it.next().storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          it.remove()
      q.add(cached)
      q
    })
    // populated lazily: racing consumer stages CAN duplicate the kernel
    // pass against a lazy cache (profiled on q60: 4x), but that waste is
    // parallel, and an eager count() pass measured slower at both 32 and
    // 8 cores in an interleaved one-JVM A/B
    cached
  }

  /** Unpersist every intermediate cached by a pair-candidate builder on
    * this session since the last call, and REMOVE the session's registry
    * entry once drained (returning null from computeIfPresent) — so a
    * stopped session's key, queue, and plan references are not retained
    * for the JVM lifetime in long-lived multi-session drivers. Safe at any
    * point: an unpersisted intermediate recomputes if its plan is consumed
    * again. Registration and drain serialize on the map entry (both run
    * under compute*), so a concurrent builder can never strand its plan in
    * a removed queue. The per-key lock is held across the unpersist calls;
    * contention is only with this session's own builders, and driver-side
    * unpersist(blocking=false) is cheap. */
  def freeCandidateCaches(spark: SparkSession, blocking: Boolean = false): Unit =
    candidateCaches.computeIfPresent(spark, (_, q) => {
      var df = q.poll()
      while (df != null) { df.unpersist(blocking); df = q.poll() }
      null // drained: drop the entry so the session key is not retained
    })

  // --- exact -------------------------------------------------------------

  /** Exact dedup by content hash: one row per distinct md5(text), keeper =
    * min(id). Hash-groupBy ⇒ one shuffle on the 128-bit hash, not the text. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol).select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  // --- word-shingle utilities -------------------------------------------

  /** k-word shingles over an already-materialized token array column.
    * For size<k the single shingle degenerates to the whole text
    * (sequence(0, max(size-k, 0)) with slice covers both cases).
    *
    * PERF NOTE: callers must pass a *materialized* token column (project
    * `tokens(text)` first). Nesting the split inside this expression makes
    * the interpreted higher-order functions re-evaluate the tokenizer per
    * element — measured 6-16x slower at sf0.1. */
  def shinglesOf(toks: Column, k: Int): Column =
    array_distinct(transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** (id, shingle-hash) exploded and distinct — the join key table for
    * Jaccard/MinHash. The whole shingle→hash→distinct step is ONE
    * codegen'd kernel (functions.ShingleHashSet): no interpreted
    * transform/array_distinct, and shingle strings never leave the
    * expression — the explode and every exchange carry longs only. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge._
    graft.ops.Relational.fanOut(df.select(col(idCol).as("doc"), col(textCol).as("__text")))
      .select(col("doc"), TextAnalysis.tokens(col("__text")).as("t"))
      .select(col("doc"), explode(column(
        graft.functions.ShingleHashSet(expression(col("t")), k))).as("sh"))
  }

  // --- exact n-gram Jaccard ---------------------------------------------

  /** All pairs with Jaccard(shingle sets) ≥ threshold. Pair space is bounded
    * by shared-shingle collisions (equi-join on the shingle hash), so cost
    * is Σ_shingle df(shingle)² — fine for natural text; a stopword-like
    * super-frequent shingle needs the df cap (`maxDf` below). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double): DataFrame =
    jaccardPairsImpl(df, idCol, textCol, k, threshold, maxDf = None)

  /** Scale-hardened variant: shingles occurring in more than `maxDf`
    * documents are excluded from CANDIDATE GENERATION (the self-join), so
    * the worst-case pair blowup is bounded by maxDf² per shingle instead
    * of corpus². True set sizes (n_a/n_b) still come from the uncapped
    * table, so the reported jaccard is a LOWER BOUND: precision is exact
    * (every emitted pair really has ≥ the printed overlap from rare
    * shingles alone); recall is lost only for pairs whose entire overlap
    * is super-frequent shingles — at a stopword-level cap those pairs are
    * boilerplate matches, not near-duplicates. */
  def jaccardPairsCapped(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, maxDf: Int): DataFrame =
    jaccardPairsImpl(df, idCol, textCol, k, threshold, maxDf = Some(maxDf))

  /** Default document-frequency cap for [[nearDupPairs]]: a k-word shingle
    * shared by more than this many documents is boilerplate (license
    * headers, templated pages, navigation chrome), not evidence of
    * near-duplication — stopword-level frequency at corpus scale. The
    * constant bounds the self-join's worst case to maxDf² rows per shingle
    * (≤1M at 1000) INDEPENDENT of corpus size, which is what keeps exact
    * near-dup viable on a 100 TB corpus where one hot shingle in 30% of
    * documents would otherwise detonate the pair space to (0.3·N)². */
  val DefaultNearDupMaxDf = 1000

  /** Restrict a [[nearDupPairs]] output to a corpus subset: keep pairs at
    * `jaccard ≥ threshold` whose BOTH endpoints appear in `ids` — the
    * single point of truth for the pair-graph-restriction contract the
    * reuse APIs ([[graft.pipeline.Curation.curateWithPairs]], the
    * pipeline's shared split graph) rely on. Restriction is EXACT
    * per-pair (jaccard is pair-local); the only reuse caveat is the
    * df-cap corpus documented at each call site. `ids` must be distinct
    * on `idCol` (the inner joins would otherwise duplicate pairs). */
  def restrictPairs(pairs: DataFrame, ids: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    pairs.filter(col("jaccard") >= threshold)
      .join(ids.select(col(idCol).as("doc_a")), Seq("doc_a"))
      .join(ids.select(col(idCol).as("doc_b")), Seq("doc_b"))

  /** PRODUCTION near-dup entry point — the path `Curation` and any
    * pipeline caller should use. Routes to [[jaccardPairsCapped]] with the
    * stopword-level [[DefaultNearDupMaxDf]]: candidate generation is
    * df-bounded, so runtime stays ~linear in corpus size on skewed real-
    * world corpora (a 30%-boilerplate corpus: capped wall time ~2× for
    * 10× docs, candidate space −98.7% — ROUND5_NOTES.md).
    * [[jaccardPairs]] (uncapped, exact) remains for oracle verification
    * and small corpora. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultNearDupMaxDf): DataFrame =
    jaccardPairsCapped(df, idCol, textCol, k, threshold, maxDf)

  private def jaccardPairsImpl(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, maxDf: Option[Int]): DataFrame =
    overlapTable(df, idCol, textCol, k, maxDf)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")

  /** Broder-style CONTAINMENT pairs: C(A,B) = |S(A)∩S(B)| / |S(A)| — the
    * asymmetric cousin of Jaccard that catches SUBSET duplication (a doc
    * embedded verbatim inside a much larger one scores contain ≈ 1 while
    * its Jaccard stays low because the big doc's size dominates the
    * union). Emits both directions; a pair qualifies when either reaches
    * `threshold`. Same candidate engine as Jaccard (equi-join on shingle
    * hashes, df-capped by default — the production bound), same
    * lower-bound semantics for capped overlap counts. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.9,
      maxDf: Option[Int] = Some(DefaultNearDupMaxDf)): DataFrame =
    overlapTable(df, idCol, textCol, k, maxDf)
      .withColumn("contain_a", col("n_common").cast("double") / col("n_a").cast("double"))
      .withColumn("contain_b", col("n_common").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "contain_a", "contain_b")

  /** Shared candidate engine under Jaccard and containment scoring:
    * (doc_a, doc_b, n_common, n_a, n_b) for every pair sharing ≥1
    * df-eligible shingle. Set sizes always come from the UNCAPPED table
    * (capped n_common is a lower bound; sizes stay exact). */
  /** Test probe: how many times the shared pair-candidate engine (the
    * shingle self-join behind Jaccard/containment) has been INSTANTIATED
    * since JVM start. Specs assert on deltas that a pipeline configured
    * for pair-graph reuse really plans the graph once per run. */
  private[graft] val pairEngineRuns = new java.util.concurrent.atomic.AtomicLong(0)

  private def overlapTable(df: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Option[Int]): DataFrame = {
    pairEngineRuns.incrementAndGet()
    // the shingle table feeds three plan branches (both join sides + the
    // size agg) — materialize it once; registered for freeCandidateCaches
    val shAll = cacheTracked(shingleTable(df, idCol, textCol, k))
    val sh = maxDf match {
      case None => shAll
      case Some(cap) =>
        // Over-cap shingles are FEW by construction (≤ occurrences/cap,
        // and in practice just the boilerplate set), so compute the
        // BLACKLIST with a partial-aggregated groupBy and anti-join it:
        // AQE broadcasts the tiny blacklist → the filter is map-side on
        // both join branches. The previous window-over-sh formulation
        // shuffled AND sorted the whole exploded table just to attach df —
        // measured 2.3x slower than this on the skew1 stress corpus.
        val hot = shAll.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select(col("sh"))
        shAll.join(hot, Seq("sh"), "left_anti")
    }
    val sizes = shAll.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  // --- MinHash + LSH -----------------------------------------------------

  /** MinHash signature: for seed s, min over shingle hashes of
    * xxhash64(s, shingle). Computed per-document in ONE tight loop
    * (functions.MinHashSig custom expression) — a pure map over the scan,
    * NO shuffle; the only exchange in the LSH pipeline is the band join. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge._
    graft.ops.Relational.fanOut(df.select(col(idCol).as("doc"), col(textCol).as("__text")))
      .select(col("doc"), column(graft.functions.MinHashSig(
        expression(TextAnalysis.tokens(col("__text"))), k, numHashes)).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of `rows` hashes;
    * docs sharing any band hash become candidate pairs; candidates are
    * scored by full-signature agreement (unbiased Jaccard estimate). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // feeds the band explode + both candidate re-attach branches;
    // registered for freeCandidateCaches
    val sig = cacheTracked(minhashSignatures(df, idCol, textCol, k, numHashes))
    // band rows are (doc, band, band_hash) ONLY — the 32-long signature
    // array does not ride the band shuffle; it re-attaches after the pair
    // space has collapsed to deduped candidates.
    val banded = sig.select(col("doc"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, rows)))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val a = banded.as("a"); val b = banded.as("b")
    val candIds = a.join(b,
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val cand = candIds
      .join(sig.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
    cand.withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, lit(1)).otherwise(lit(0))), v => v === 1))
          .cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  // --- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over tokens: bit i of the fingerprint is the sign of
    * Σ_tokens (bit i of xxhash64(token) ? +1 : −1). Computed per document
    * in one tight loop (functions.SimHash64 custom expression) — a pure
    * map over the scan, NO shuffle. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge._
    graft.ops.Relational.fanOut(
      df.select(col(idCol).as("doc"), col(textCol).as("__text")))
      .select(col("doc"), column(graft.functions.SimHash64(
        expression(TextAnalysis.tokens(col("__text"))))).as("simhash"))
  }

  /** Default band-bucket cap for [[simhashPairs]]' production path — same
    * role as [[DefaultNearDupMaxDf]] for the shingle path. */
  val DefaultSimhashMaxBucket = 1000

  /** Near-dup candidates: hamming(simhash) ≤ maxDist via the band trick —
    * split the 64-bit hash into `maxDist+1` bands; any pair within distance
    * must agree on ≥1 band (pigeonhole). Exact hamming verify after the
    * band join.
    *
    * `maxBucket > 0` caps candidate generation per (band, band_bits)
    * bucket: oversized buckets — a band value shared by more than
    * `maxBucket` documents — are excluded from the self-join, exactly
    * like the shingle df cap in [[nearDupPairs]] (partial-agg the FEW
    * violating buckets, anti-join them back; AQE broadcasts the
    * blacklist so the filter is map-side). Without it the per-bucket
    * self-join is quadratic in bucket size, and bucket sizes grow
    * linearly with the corpus: measured 36 s at 500 k docs vs 1.4 s at
    * 50 k (super-linear last decade) — capped, the curve returns to the
    * near-linear regime. A pair suppressed in an oversized bucket is
    * still found through any of its other ≤ maxDist+1 bands whose
    * buckets are small; only pairs ALL of whose agreeing bands are
    * pathological are lost (boilerplate-dominated corpora — exactly the
    * docs exact-dedup/df-cap layers already handle). 0 = exact
    * (the q22 oracle shape). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    // feeds both sides of the band self-join (and the blacklist agg when
    // capped); registered for freeCandidateCaches
    val sh = cacheTracked(simhash(df, idCol, textCol))
    val banded = sh.select(col("doc"), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("simhash"), b * width)
          .bitwiseAND(lit(if (width == 64) -1L else (1L << width) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_bits")
    val pruned =
      if (maxBucket <= 0) banded
      else {
        val over = banded.groupBy(col("band"), col("band_bits"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxBucket)
          .select(col("band"), col("band_bits"))
        banded.join(over, Seq("band", "band_bits"), "left_anti")
      }
    val a = pruned.as("a"); val b = pruned.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.band_bits") === col("b.band_bits") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(first(col("a.simhash")).as("sh_a"), first(col("b.simhash")).as("sh_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  // --- near-dup cluster formation (connected components) ------------------

  /** Connected components over a near-dup PAIR graph: the step that turns
    * pairwise evidence into dedup DECISIONS (keep one document per
    * component). Iterative min-label propagation: every node repeatedly
    * takes the minimum label among itself and its neighbors; at fixpoint
    * label = min doc id of the component — deterministic keeper choice,
    * consistent with [[exactGroups]]' min-id convention.
    *
    * Scale shape: each round is one equi-join (labels onto edge endpoints)
    * + one partial-aggregated groupBy — all shuffles on compact ids.
    * Rounds needed = graph diameter, and near-dup components are
    * shallow (duplicates of a common source), so convergence is fast;
    * `maxIter` bounds the pathological chain case. Each round's
    * checkpointed result is explicitly unpersisted once superseded, so
    * executor storage stays O(1 round), not O(rounds).
    *
    * `reliableCheckpoints = true` swaps localCheckpoint for reliable
    * `checkpoint()` (requires `SparkContext.setCheckpointDir`, typically
    * on HDFS/object storage): a long 100 TB job then survives executor
    * loss mid-iteration at the cost of writing each round to stable
    * storage. The algorithm and results are identical on both paths. */
  def clusterPairs(vertices: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 20, reliableCheckpoints: Boolean = false): DataFrame = {
    // checkpoint (not cache) everywhere the loop iterates: caching
    // keeps the FULL logical lineage, so each round's plan would nest the
    // previous round's plan (plus the whole pair-graph DAG) several times
    // over via the self-joins — measured: Catalyst planning time, not
    // compute, then dominates and grows per round (8-10s/round by round
    // 2). Checkpointing truncates the plan to the materialized result, so
    // every round plans against a flat scan.
    def ckpt(df: DataFrame): DataFrame =
      if (reliableCheckpoints) df.checkpoint() else df.localCheckpoint()
    // Free the block-manager storage behind a superseded checkpoint round.
    // Dataset.unpersist only clears cache-manager entries; a checkpointed
    // Dataset is a LogicalRDD over a persisted RDD, so the RDD itself is
    // what must be unpersisted (no-op for reliable checkpoints, whose
    // blocks live in the checkpoint dir, not executor storage).
    def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    val edges = ckpt(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    // Only nodes that appear in the pair graph can ever change label; at
    // corpus scale that is a small fraction of all documents (near-dups
    // are the exception, not the rule), so the iteration runs over edge
    // nodes only and the untouched majority joins back once at the end
    // as singleton clusters. Labels start at the 1-hop minimum (node vs
    // its neighbors) rather than the node itself — star-shaped components
    // (duplicates of one source, the common case) then converge in a
    // single confirmation round.
    var labels = ckpt(edges.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      .select(col("src").as("node"),
        least(col("src"), col("__mn")).as("cluster_id")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // one hop: min over self + neighbors. The node's own previous label
      // rides along as __old (labels has exactly one row per node; max
      // ignores the neighbor rows' nulls), so the fixpoint test below is
      // a cheap scan of this round's checkpoint instead of the former
      // per-round join-and-count job against the superseded labels.
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("cluster_id"),
          lit(null).cast("long").as("__old"))
      val hop = ckpt(labels
        .select(col("node"), col("cluster_id"), col("cluster_id").as("__old"))
        .unionByName(viaNeighbors)
        .groupBy(col("node")).agg(min(col("cluster_id")).as("cluster_id"),
          max(col("__old")).as("__old")))
      // Stopping on hop == labels is equivalent to the previous
      // next == labels test: path halving only relabels THROUGH hop
      // itself, so hop(v) < labels(v) for any v forces
      // next(v) <= hop(v) < labels(v), and hop == labels gives
      // next == hop. Same iteration count, same final labels — minus one
      // shuffle join per round and the final round's halving join.
      changed = hop.filter(col("cluster_id") =!= col("__old")).count()
      if (changed == 0) {
        free(hop)
      } else {
        // path halving (pointer doubling): relabel through the mapping
        // itself — label(v) := label(label(v)). Every label value is an
        // edge node (labels are mins over initial own-ids), so the inner
        // self-join is total. Effective propagation distance doubles per
        // round → O(log diameter) rounds instead of O(diameter), which is
        // what bounds the driver-side round count on long chains.
        val hopL = hop.select(col("node"), col("cluster_id"))
        val next = ckpt(hopL
          .join(hopL.select(col("node").as("cluster_id"),
            col("cluster_id").as("__root")), "cluster_id")
          .select(col("node"), col("__root").as("cluster_id")))
        free(hop)
        free(labels)
        labels = next
      }
      iter += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterPairs stopped at maxIter=$maxIter with $changed labels still " +
          "moving — components wider than 2^maxIter hops are split; raise maxIter")
    // checkpoints are eager, so the final labels no longer reference edges
    free(edges)
    val inGraph = labels.select(col("node").as(idCol), col("cluster_id"))
    val singletons = vertices.select(col(idCol))
      .join(inGraph.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("cluster_id", col(idCol))
    inGraph.unionByName(singletons)
  }

  /** Canonical-representative selection — the decision step a dedup pass
    * runs AFTER cluster formation: within each near-dup cluster
    * ([[nearDupPairs]] → [[clusterPairs]]), rank members by
    * (quality DESC, length DESC, id ASC) and keep exactly one. Returns
    * one row per document: (id, cluster_id, cluster_size, quality,
    * n_chars, pick_rank, keep). The rank window shuffles on cluster_id —
    * clusters are near-dup groups (bounded by the capped candidate
    * engine), never the corpus, so no partition degenerates at scale. */
  def canonicalKeep(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      maxDf: Int = DefaultNearDupMaxDf): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, k, threshold, maxDf)
    val clusters = clusterPairs(docs, idCol, pairs)
    canonicalKeepFromClusters(docs, clusters, idCol, textCol)
  }

  /** Precomputed-clusters overload of [[canonicalKeep]]: rank + keeper
    * selection over a cluster assignment the caller already built
    * ((idCol, cluster_id) rows — [[clusterPairs]]' output shape). This is
    * the reuse API for a real pipeline: the pair graph + connected
    * components are the expensive 70% of a dedup pass, and a run that
    * needs canonical selection AND a savings report AND a cluster-keyed
    * split should compute them ONCE and fan the cheap decision queries
    * out from the shared assignment, instead of re-deriving the graph per
    * consumer (which the single-argument overload does, correctly but
    * redundantly). `clusters` must cover every `docs` id exactly once
    * (singletons included, as clusterPairs emits them). */
  def canonicalKeepFromClusters(docs: DataFrame, clusters: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      TextAnalysis.qualityScore(col(textCol)).as("quality"))
    val wRank = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("n_chars").desc, col(idCol))
    val wSize = Window.partitionBy(col("cluster_id"))
    clusters.join(feats, idCol)
      .withColumn("cluster_size", count(lit(1)).over(wSize).cast("long"))
      .withColumn("pick_rank", row_number().over(wRank).cast("int"))
      .withColumn("keep", col("pick_rank") === 1)
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        col("quality"), col("n_chars"), col("pick_rank"), col("keep"))
  }

  // --- cross-corpus decontamination --------------------------------------

  /** Contamination report: which `train` documents leak `test` content —
    * the benchmark-decontamination step every published training pipeline
    * runs before pretraining. Two detectors, exact winning ties:
    *  - `exact`: identical text (md5 equi-join — one shuffle on the hash);
    *  - `ngram`: ≥ `threshold` of the train doc's k-shingle set appears in
    *    ONE test doc (equi-join on 64-bit shingle hashes, so the pair
    *    space is bounded by shared-shingle collisions — never |train|×|test|).
    * Returns (doc id, reason) per contaminated train doc. */
  def contaminationReport(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val exact = train.select(col(idCol).as("doc"), md5(col(textCol)).as("__h"))
      .join(test.select(md5(col(textCol)).as("__h")).distinct(), "__h")
      .select(col("doc")).distinct()
      .withColumn("reason", lit("exact"))
    // trSh feeds both the overlap join and the sizes agg — cached (and
    // eagerly pinned by cacheTracked) so the shingle kernel runs once,
    // not once per consumer branch; freed via freeCandidateCaches like
    // the other builders' intermediates
    val trSh = cacheTracked(shingleTable(train, idCol, textCol, k))
    val teSh = shingleTable(test, idCol, textCol, k)
      .withColumnRenamed("doc", "tdoc")
    val sizes = trSh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val overlap = trSh.join(teSh, "sh")
      .groupBy(col("doc"), col("tdoc")).agg(count(lit(1)).as("n_common"))
      .join(sizes, "doc")
      .filter(col("n_common").cast("double") / col("n_sh").cast("double") >= threshold)
      .select(col("doc")).distinct()
      .withColumn("reason", lit("ngram"))
    // exact wins ties: drop ngram rows whose doc is already exact
    val ngramOnly = overlap.join(exact.select(col("doc")), Seq("doc"), "left_anti")
    exact.unionByName(ngramOnly)
  }

  /** Surviving train corpus after decontamination against `test`. */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, k: Int = 3, threshold: Double = 0.8): DataFrame =
    train.join(
      contaminationReport(train, test, idCol, textCol, k, threshold)
        .select(col("doc").as(idCol)),
      Seq(idCol), "left_anti")

  // --- embedding near-dup ------------------------------------------------

  /** Near-duplicates by embedding cosine ≥ threshold. Candidates from
    * random-hyperplane LSH buckets (deterministic planes), verified with
    * exact cosine — collision probability rises with cosine, so high-sim
    * pairs are retained with high recall while the pair space stays
    * bucket-bounded. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nBits: Int = 12): DataFrame = {
    import graft.functions.VectorFunctions._
    val b = graft.ops.Relational.fanOut(df.select(col(idCol).as("doc"), col(vecCol).as("v")))
      .withColumn("bucket", rpBucket(col("v"), nBits))
      .withColumn("nrm", sqrt(normSq(col("v"))))
    val l = b.as("a"); val r = b.as("b")
    l.join(r, col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .withColumn("cos",
        dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"), col("cos"))
  }
}
