package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Chunk-level (approximate exact-substring) deduplication.
  *
  * Published motivation: duplicated SPANS inside otherwise-distinct
  * documents degrade language models (Lee et al., "Deduplicating Training
  * Data Makes Language Models Better" — suffix-array 50-token spans). A
  * suffix array over 100 TB is not a Spark-shaped computation; the
  * scalable restatement used here is ALIGNED FIXED-SIZE CHUNKS: split each
  * document into non-overlapping `chunkTokens`-token windows, count how
  * many of a document's chunks also occur (chunk-aligned) in other
  * documents, and flag documents whose duplicated-chunk fraction exceeds
  * `dropFrac`.
  *
  * Scale design: unlike pairwise near-dup (q19/q60), this is inherently
  * LINEAR — one explode (corpus tokens / chunkTokens rows), one groupBy on
  * the chunk key for document frequency, one join back, one per-doc
  * groupBy. No pair space exists to blow up, which is why chunk-level
  * dedup is the first pass production pipelines run before any quadratic
  * candidate generation. The chunk key is the FNV-1a-64 of the chunk
  * (one codegen kernel, [[graft.functions.ChunkHashes]] — chunk STRINGS
  * never leave the expression; every exchange carries longs), the same
  * contract as `Dedup.shingleTable`. The DuckDB oracle groups on the
  * chunk STRINGS — equivalent iff FNV is collision-free on the corpus's
  * chunk set — audited next to the shingle sets (q19/q21
  * precondition): 0 collisions over 28k distinct chunks at sf0.1
  * (ROUND6_NOTES.md).
  */
object ChunkDedup {

  /** Per-document chunk-duplication stats: n_chunks, n_dup_chunks (chunks
    * whose text occurs in >1 distinct document), dup_frac, drop_doc.
    * A document shorter than `chunkTokens` contributes its whole token
    * array as one chunk (slice clamps at the end — same convention as the
    * q19 shingle degenerate case). */
  def chunkStats(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10, dropFrac: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge._
    val c = chunkTokens
    // fanOut inside the operator (the shingleTable convention) so bare
    // callers get scan parallelism for the tokenizer/kernel stage too
    val toks = graft.ops.Relational.fanOut(df)
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("tk"))
    val chunks = toks.select(col("doc_id"), explode(column(
      graft.functions.ChunkHashes(expression(col("tk")), c))).as("ch"))
    // document frequency per chunk — partial-aggregated, one shuffle on ch
    val cf = chunks.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("df_docs"))
    chunks.join(cf, Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df_docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
      .withColumn("drop_doc", col("dup_frac") >= dropFrac)
  }
}
