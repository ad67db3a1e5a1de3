package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions at session build time —
  * `builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  /** The engine's SQL function surface (also installable into an existing
    * session via [[registerAll]]). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("multi_format_timestamp"),
      info("multi_format_timestamp",
        "multi_format_timestamp(str) - first-match parse over the engine's 7 datetime patterns"),
      (exprs: Seq[Expression]) => MultiFormatTimestamp(exprs.head)),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - float64 in-order dot product of float arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    (FunctionIdentifier("vec_norm_sq"),
      info("vec_norm_sq", "vec_norm_sq(a) - squared L2 norm of a float array"),
      (exprs: Seq[Expression]) => NormSq(exprs.head)),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)),
    (FunctionIdentifier("fingerprint64"),
      info("fingerprint64",
        "fingerprint64(tokens) - order-sensitive rotl5-XOR fold of FNV-1a token hashes"),
      (exprs: Seq[Expression]) => Fingerprint64(exprs.head)),
    (FunctionIdentifier("bag_hash64"),
      info("bag_hash64",
        "bag_hash64(tokens) - order-insensitive sum of FNV-1a token hashes mod 2^31-1"),
      (exprs: Seq[Expression]) => BagHash64(exprs.head)),
    (FunctionIdentifier("top_bigram_count"),
      info("top_bigram_count",
        "top_bigram_count(tokens) - multiplicity of the most frequent adjacent 2-gram"),
      (exprs: Seq[Expression]) => TopBigramCount(exprs.head)),
    (FunctionIdentifier("grouped_top_k"),
      info("grouped_top_k",
        "grouped_top_k(key, id, k) - aggregate: top-k (key,id) pairs per group, key DESC id ASC"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3) throw new IllegalArgumentException(
          s"grouped_top_k requires exactly 3 arguments (key, id, k), got ${exprs.length}")
        // k must fold to a constant (buffer size is fixed at plan time), but
        // any foldable integral expression is fine: CAST(3 AS INT), 1+2, 3L.
        val kExpr = exprs(2)
        if (!kExpr.foldable) throw new IllegalArgumentException(
          s"grouped_top_k: k must be a constant integer expression, got $kExpr")
        val k = kExpr.eval() match {
          case i: Int   => i
          case l: Long  => l.toInt
          case s: Short => s.toInt
          case b: Byte  => b.toInt
          case other => throw new IllegalArgumentException(
            s"grouped_top_k: k must be an integer, got $other")
        }
        // Coerce numeric key/id so SQL callers with INT/FLOAT args get the
        // analyzer's cast semantics, not an executor ClassCastException.
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{DoubleType, LongType}
        val key = if (exprs(0).dataType == DoubleType) exprs(0) else Cast(exprs(0), DoubleType)
        val id = if (exprs(1).dataType == LongType) exprs(1) else Cast(exprs(1), LongType)
        GroupedTopK(key, id, k)
      }),
    // --- the media kernels: the same decode surface the DataFrame API
    // exposes via graft.multimodal, for SQL callers. All share the NULL-
    // on-malformation contract — a corrupt blob yields a NULL row, never
    // a failed query.
    (FunctionIdentifier("wav_decode"),
      info("wav_decode",
        "wav_decode(bytes) - RIFF/WAVE PCM parse: format fields + exact integer sample stats"),
      (exprs: Seq[Expression]) => graft.multimodal.WavDecode(exprs.head)),
    (FunctionIdentifier("wav_analyze"),
      info("wav_analyze",
        "wav_analyze(bytes) - WAV sample analysis: zero crossings, silence, RMS"),
      (exprs: Seq[Expression]) => graft.multimodal.WavAnalyze(exprs.head)),
    (FunctionIdentifier("mp4_probe"),
      info("mp4_probe",
        "mp4_probe(bytes) - ISO-BMFF movie header: brand, timescale, duration, box count"),
      (exprs: Seq[Expression]) => graft.multimodal.Mp4Probe(exprs.head)),
    (FunctionIdentifier("mp4_tracks"),
      info("mp4_tracks",
        "mp4_tracks(bytes) - ISO-BMFF track layer: per-track id, timescale, duration, stts sample count"),
      (exprs: Seq[Expression]) => graft.multimodal.Mp4Tracks(exprs.head)),
    (FunctionIdentifier("mp4_samples"),
      info("mp4_samples",
        "mp4_samples(bytes) - stsz/stsc/stco resolution + per-sample byte extraction (size, checksum)"),
      (exprs: Seq[Expression]) => graft.multimodal.Mp4Samples(exprs.head)),
    (FunctionIdentifier("mp4_jpeg_frames"),
      info("mp4_jpeg_frames",
        "mp4_jpeg_frames(bytes) - MJPEG frame decode: sample-table resolution + per-sample baseline-JPEG entropy decode/IDCT, exact pixel stats per frame"),
      (exprs: Seq[Expression]) => graft.multimodal.Mp4JpegFrames(exprs.head)),
    (FunctionIdentifier("mjpeg_fixture"),
      info("mjpeg_fixture",
        "mjpeg_fixture(id) - deterministic MJPEG-in-MP4 bytes (every sample a complete DC-exact baseline JPEG)"),
      (exprs: Seq[Expression]) => graft.multimodal.MjpegFixture(exprs.head)),
    (FunctionIdentifier("wav_samples"),
      info("wav_samples",
        "wav_samples(bytes) - RIFF/WAVE PCM parse to the raw interleaved sample array (audio-analytics input)"),
      (exprs: Seq[Expression]) => graft.multimodal.WavSamples(exprs.head)),
    (FunctionIdentifier("wav_fixture_long"),
      info("wav_fixture_long",
        "wav_fixture_long(id) - longer deterministic mono-16-bit WAV bytes (WHT-window-aligned LCG pattern)"),
      (exprs: Seq[Expression]) => graft.multimodal.WavFixtureLong(exprs.head)),
    (FunctionIdentifier("mp3_scan"),
      info("mp3_scan",
        "mp3_scan(bytes) - MPEG-1 Layer III frame walk: rate, frames, duration, bitrate sum"),
      (exprs: Seq[Expression]) => graft.multimodal.Mp3Scan(exprs.head)),
    (FunctionIdentifier("image_decode"),
      info("image_decode",
        "image_decode(bytes) - auto-sniffed PPM/PNG/GIF/JPEG/BMP/TIFF decode (inflate+unfilter / LZW / Huffman+IDCT / BGR-flip / II-MM IFD walk): format, dims, exact pixel stats"),
      (exprs: Seq[Expression]) => graft.multimodal.ImageDecode(exprs.head)),
    (FunctionIdentifier("png_fixture"),
      info("png_fixture",
        "png_fixture(id) - deterministic complete PNG bytes (real deflate, real CRCs, all five filters)"),
      (exprs: Seq[Expression]) => graft.multimodal.PngFixture(exprs.head)),
    (FunctionIdentifier("gif_fixture"),
      info("gif_fixture",
        "gif_fixture(id) - deterministic complete GIF87a bytes (real variable-width LZW)"),
      (exprs: Seq[Expression]) => graft.multimodal.GifFixture(exprs.head)),
    (FunctionIdentifier("jpeg_fixture"),
      info("jpeg_fixture",
        "jpeg_fixture(id) - deterministic complete baseline JPEG bytes (real FDCT/Huffman, DC-exact blocks)"),
      (exprs: Seq[Expression]) => graft.multimodal.JpegFixture(exprs.head)),
    (FunctionIdentifier("bmp_fixture"),
      info("bmp_fixture",
        "bmp_fixture(id) - deterministic complete 24-bit BI_RGB BMP bytes (real BGR/bottom-up/padded layout)"),
      (exprs: Seq[Expression]) => graft.multimodal.BmpFixture(exprs.head)),
    (FunctionIdentifier("tiff_fixture"),
      info("tiff_fixture",
        "tiff_fixture(id) - deterministic complete baseline-TIFF bytes (real IFD walk, II/MM by parity, reverse-ordered strips)"),
      (exprs: Seq[Expression]) => graft.multimodal.TiffFixture(exprs.head)),
    // --- Unicode normalization + character statistics (q92/q95 kernels)
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(str) - Unicode NFC (canonical composition)"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)),
    (FunctionIdentifier("nfd_normalize"),
      info("nfd_normalize", "nfd_normalize(str) - Unicode NFD (canonical decomposition)"),
      (exprs: Seq[Expression]) => NfdNormalize(exprs.head)),
    (FunctionIdentifier("strip_accents"),
      info("strip_accents",
        "strip_accents(str) - decompose, drop combining marks, recompose"),
      (exprs: Seq[Expression]) => StripAccents(exprs.head)),
    (FunctionIdentifier("char_stats"),
      info("char_stats",
        "char_stats(str) - one-pass [total, distinct, sum(count^2)] codepoint stats"),
      (exprs: Seq[Expression]) => CharStats(exprs.head)),
    (FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein",
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein edit distance over code points"),
      (exprs: Seq[Expression]) => DamerauLevenshtein(exprs(0), exprs(1))),
    (FunctionIdentifier("neg_log2_fp"),
      info("neg_log2_fp",
        "neg_log2_fp(r) - exact -log2(r/2^62) at 2^-20 fixed point (integer square-and-compare, no libm; the LM perplexity kernel)"),
      (exprs: Seq[Expression]) => NegLog2Fp(exprs.head)))

  /** Install into an already-built session (extensions only run at session
    * construction). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}
