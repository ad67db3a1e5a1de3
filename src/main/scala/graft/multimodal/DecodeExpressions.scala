package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType, IntegerType, StructField, StructType}

/** Plan-native decode kernels: the stub codec as Catalyst expressions, so
  * decode/feature-extract stays inside whole-stage codegen instead of
  * dropping to an RDD mapPartitions (build-rule preference (b) over (d) —
  * the RDD hop deserialized every row, broke column pruning above it, and
  * split the stage). Swapping the real codec in means replacing
  * `StubCodec.decode` only; the expression surface is codec-agnostic. */
object DecodeKernels {
  /** decode to a Catalyst array; null-safe on the caller side. */
  def decodeArr(bytes: Array[Byte], w: Int, h: Int): ArrayData =
    ArrayData.toArrayData(Multimodal.StubCodec.decode(bytes, w, h))

  /** frame seek stub + decode: offset the byte stream by the frame index. */
  def decodeFrameArr(bytes: Array[Byte], frameIdx: Long, w: Int, h: Int): ArrayData = {
    val off =
      if (bytes.isEmpty) bytes
      else bytes.drop((frameIdx % math.max(1, bytes.length)).toInt)
    ArrayData.toArrayData(Multimodal.StubCodec.decode(off, w, h))
  }

  /** REAL PPM decode to a (width, height, maxval, feat) row; null when the
    * bytes are not a well-formed P6 image. */
  def ppmDecodeRow(bytes: Array[Byte], cellW: Int, cellH: Int): InternalRow = {
    val img = Ppm.decode(bytes)
    if (img == null) null
    else new GenericInternalRow(Array[Any](img.width, img.height, img.maxval,
      ArrayData.toArrayData(Ppm.cellFeatures(img, cellW, cellH))))
  }

  def ppmFixture(id: Long): Array[Byte] = Ppm.fixtureBytes(id)

  /** REAL WAV decode to a (channels, sample_rate, bits_per_sample,
    * n_frames, duration_ms, peak_abs, mean_abs) row; null when the bytes
    * are not a well-formed RIFF/WAVE PCM file. Stats are exact integer
    * arithmetic with ONE final double division (mean_abs = Σ|s| / nSamples
    * — the order the q79 oracle mirrors bit-exactly); an empty data chunk
    * yields peak 0 / mean 0.0, not a 0/0 NaN. */
  def wavDecodeRow(bytes: Array[Byte]): InternalRow = {
    val a = Wav.decode(bytes)
    if (a == null) null
    else {
      var peak = 0
      var sumAbs = 0L
      var j = 0
      while (j < a.samples.length) {
        val v = math.abs(a.samples(j))
        if (v > peak) peak = v
        sumAbs += v
        j += 1
      }
      val meanAbs =
        if (a.samples.length == 0) 0.0
        else sumAbs.toDouble / a.samples.length.toDouble
      new GenericInternalRow(Array[Any](a.channels, a.sampleRate,
        a.bitsPerSample, a.nFrames, a.durationMs, peak, meanAbs))
    }
  }

  def wavFixture(id: Long): Array[Byte] = Wav.fixtureBytes(id)

  /** REAL WAV decode to the raw interleaved sample ARRAY — the input of
    * the audio-analytics layer (silence segmentation, Walsh–Hadamard
    * bands); null when the bytes are not well-formed RIFF/WAVE PCM. */
  def wavSamplesArr(bytes: Array[Byte]): ArrayData = {
    val a = Wav.decode(bytes)
    if (a == null) null else ArrayData.toArrayData(a.samples)
  }

  def wavFixtureLong(id: Long): Array[Byte] = Wav.fixtureBytesLong(id)

  /** MP4 CONTAINER parse row — box-tree walk + mvhd extraction
    * ([[Mp4.decode]]); null for malformed bytes. duration_ms is floor
    * integer division (ticks·1000/timescale), the q14 convention. */
  def mp4DecodeRow(bytes: Array[Byte]): InternalRow = {
    val m = Mp4.decode(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(m.majorBrand),
      m.timescale, m.duration, m.durationMs, m.nTopBoxes))
  }

  def mp4Fixture(id: Long): Array[Byte] = Mp4.fixtureBytes(id)

  /** Per-track metadata rows — one InternalRow per moov>trak, null for a
    * structurally malformed container (the decodeTracks contract); a
    * well-formed container with no tracks yields an EMPTY array, which
    * explode() then drops — malformation and tracklessness stay
    * distinguishable at the expression layer. */
  def mp4TracksRow(bytes: Array[Byte]): ArrayData = {
    val ts = Mp4.decodeTracks(bytes)
    if (ts == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ts.map(t => new GenericInternalRow(Array[Any](
        t.trackId, t.timescale, t.duration, t.nSamples,
        t.durationMs)): Any))
  }

  def mp4FixtureTracks(id: Long): Array[Byte] = Mp4.fixtureBytesWithTracks(id)

  /** MP3 stream facts row — the frame-walk surface: sampling rate, frame
    * count, exact sample count and floor-div duration, and the exact
    * Σ per-frame bitrate (averaging derives outside, in plan space).
    * Null for malformed/unsupported bytes (decode contract). */
  def mp3ScanRow(bytes: Array[Byte]): InternalRow = {
    val a = Mp3.decode(bytes)
    if (a == null) null
    else new GenericInternalRow(Array[Any](
      a.sampleRate, a.nFrames, a.nSamples, a.durationMs, a.sumBitrateKbps))
  }

  def mp3Fixture(id: Long): Array[Byte] = Mp3.fixtureBytes(id)

  /** Resolved-and-extracted sample rows: one per (track, sample) with the
    * size and a checksum (Σ unsigned bytes) computed over the bytes the
    * stsz/stsc/stco resolution actually extracted from mdat — the
    * checksum is only right if the whole chain (sizes, chunk runs,
    * offsets, intra-chunk accumulation) is. Null on malformation. */
  def mp4SamplesRow(bytes: Array[Byte]): ArrayData = {
    val refs = Mp4.sampleRefs(bytes)
    if (refs == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      refs.map { r =>
        var sum = 0L
        var i = r.offset.toInt
        val end = i + r.size
        while (i < end) { sum += bytes(i) & 0xff; i += 1 }
        new GenericInternalRow(Array[Any](
          r.trackId, r.sampleIdx, r.size, sum)): Any
      })
  }

  def mp4FixtureSamples(id: Long): Array[Byte] = Mp4.fixtureBytesWithSamples(id)

  /** REAL frame-level VIDEO decode for the MJPEG profile: resolve every
    * sample via the full stsz/stsc/stco machinery, then run each
    * extracted sample through the in-repo baseline-JPEG decoder
    * ([[Jpeg.decode]]: Huffman entropy decode, DC prediction, dequant,
    * IDCT) and emit exact pixel stats per frame — the q101-family stats
    * law (sum, position-weighted checksum) applied per SAMPLE. Null for
    * a malformed container; samples that are not decodable baseline
    * JPEGs (other codecs, corrupt frames) are SKIPPED, not errored —
    * the per-frame analog of the image kernel's null degradation. */
  def mp4JpegFramesRow(bytes: Array[Byte]): ArrayData = {
    val refs = Mp4.sampleRefs(bytes)
    if (refs == null) return null
    val rows = refs.flatMap { r =>
      val sample = java.util.Arrays.copyOfRange(
        bytes, r.offset.toInt, (r.offset + r.size).toInt)
      val img = Jpeg.decode(sample)
      if (img == null) None
      else {
        var sum = 0L
        var chk = 0L
        var j = 0
        while (j < img.samples.length) {
          val v = img.samples(j).toLong
          sum += v
          chk += v * (1 + j % 97)
          j += 1
        }
        Some(new GenericInternalRow(Array[Any](
          r.trackId, r.sampleIdx, img.width, img.height, sum, chk)): Any)
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  def mjpegFixture(id: Long): Array[Byte] = Mp4.fixtureBytesMjpeg(id)

  /** Auto-sniffed image decode row — ONE kernel for the whole image
    * surface: dispatch on the real magic bytes (`P6` ⇒ [[Ppm.decode]];
    * the 8-byte PNG signature ⇒ [[Png.decode]], a REAL zlib-inflate +
    * CRC-verify + unfilter decode; `GIF8` ⇒ [[Gif.decode]], a REAL
    * variable-width LZW decompress + palette map; `FFD8` ⇒
    * [[Jpeg.decode]]; `BM` ⇒ [[Bmp.decode]]; `II`/`MM` ⇒
    * [[Tiff.decode]], a dual-endian IFD tag walk), then exact integer
    * pixel stats over the unified RGB raster with ONE final double
    * division (mean = Σ samples / n — the order the q101/q107 oracles
    * mirror bit-exactly). checksum = Σ v_j·(1 + j mod 97) makes sample
    * ORDER load-bearing: a transposed or mis-unfiltered raster with the
    * right sum still fails the hash. Null for unknown magic or
    * malformed bytes. */
  def imageDecodeRow(bytes: Array[Byte]): InternalRow = {
    val isPpm = bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6'
    val isPng = bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'
    val isGif = bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8'
    val isJpeg = bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8
    val isBmp = bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M'
    val isTiff = bytes.length >= 4 &&
      ((bytes(0) == 'I' && bytes(1) == 'I') || (bytes(0) == 'M' && bytes(1) == 'M'))
    val img =
      if (isPpm) Ppm.decode(bytes)
      else if (isPng) Png.decode(bytes)
      else if (isGif) Gif.decode(bytes)
      else if (isJpeg) Jpeg.decode(bytes)
      else if (isBmp) Bmp.decode(bytes)
      else if (isTiff) Tiff.decode(bytes)
      else null
    if (img == null) null
    else {
      var sum = 0L
      var chk = 0L
      var j = 0
      while (j < img.samples.length) {
        sum += img.samples(j)
        chk += img.samples(j).toLong * (1 + j % 97)
        j += 1
      }
      val fmt =
        if (isPpm) "ppm" else if (isPng) "png" else if (isGif) "gif"
        else if (isJpeg) "jpeg" else if (isBmp) "bmp" else "tiff"
      new GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(fmt),
        img.width, img.height, img.width * img.height,
        sum, chk, sum.toDouble / img.samples.length.toDouble))
    }
  }

  def pngFixture(id: Long): Array[Byte] = Png.fixtureBytes(id)

  def gifFixture(id: Long): Array[Byte] = Gif.fixtureBytes(id)

  def jpegFixture(id: Long): Array[Byte] = Jpeg.fixtureBytes(id)

  def bmpFixture(id: Long): Array[Byte] = Bmp.fixtureBytes(id)

  def tiffFixture(id: Long): Array[Byte] = Tiff.fixtureBytes(id)

  /** WAV sample ANALYSIS row — the audio feature-extract step past q79's
    * format/stats surface: zero crossings (per channel, sample j vs
    * j−channels over the interleaved raster), silence count (|s| below 1%
    * of full scale, integer threshold 2^(bits−1)/100), and RMS energy
    * (exact integer Σs², ONE double division, then sqrt — IEEE-exact in
    * any engine). Null for malformed bytes; an empty data chunk yields
    * zero counts and 0.0 ratios, not NaN. */
  def wavAnalyzeRow(bytes: Array[Byte]): InternalRow = {
    val a = Wav.decode(bytes)
    if (a == null) null
    else {
      val s = a.samples
      val n = s.length
      val thr = (1 << (a.bitsPerSample - 1)) / 100
      var zc = 0L
      var silent = 0L
      var sumSq = 0L
      var j = 0
      while (j < n) {
        val v = s(j)
        if (math.abs(v) < thr) silent += 1
        sumSq += v.toLong * v
        if (j >= a.channels && (v >= 0) != (s(j - a.channels) >= 0)) zc += 1
        j += 1
      }
      val silenceRatio = if (n == 0) 0.0 else silent.toDouble / n.toDouble
      val rms = if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n.toDouble)
      new GenericInternalRow(Array[Any](n.toLong, zc, silent, silenceRatio, rms))
    }
  }
}

/** feat = decode(content, w x h); empty array input decodes like the
  * reference stub (zero byte stream). */
case class StubDecode(child: Expression, w: Int, h: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "stub_decode"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.decodeArr(c.asInstanceOf[Array[Byte]], w, h)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.decodeArr($c, $w, $h)")
  }
  override protected def withNewChildInternal(c: Expression): StubDecode =
    copy(child = c)
}

/** frame_feat = decode(content offset by frame_idx, w x h). */
case class StubFrameDecode(left: Expression, right: Expression, w: Int, h: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "stub_frame_decode"
  override def nullSafeEval(c: Any, idx: Any): Any =
    DecodeKernels.decodeFrameArr(c.asInstanceOf[Array[Byte]],
      idx.asInstanceOf[Long], w, h)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (c, i) => s"$kn.decodeFrameArr($c, $i, $w, $h)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): StubFrameDecode = copy(left = l, right = r)
}

/** img = ppm_decode(content): REAL P6 parse + block-average gray features
  * in one codegen kernel. NULL (not an exception) for malformed bytes, so
  * a corrupt blob in a 100 TB scan costs one null row, not the job. */
case class PpmDecode(child: Expression, cellW: Int, cellH: Int) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("maxval", IntegerType, nullable = false),
    StructField("feat", ArrayType(FloatType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "ppm_decode"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.ppmDecodeRow(c.asInstanceOf[Array[Byte]], cellW, cellH)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.ppmDecodeRow($c, $cellW, $cellH);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): PpmDecode =
    copy(child = c)
}

/** audio = wav_decode(content): REAL RIFF/WAVE PCM parse + sample stats
  * in one codegen kernel. NULL (not an exception) for malformed bytes, so
  * a corrupt blob in a 100 TB scan costs one null row, not the job. */
case class WavDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_frames", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("duration_ms", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("peak_abs", IntegerType, nullable = false),
    StructField("mean_abs", org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "wav_decode"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.wavDecodeRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.wavDecodeRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): WavDecode =
    copy(child = c)
}

/** audio_stats = wav_analyze(content): REAL WAV parse + sample analysis
  * (zero crossings, silence, RMS) in one codegen kernel; NULL degradation
  * for malformed bytes, same contract as WavDecode. */
case class WavAnalyze(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_samples", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("zero_crossings", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_silent", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("silence_ratio", org.apache.spark.sql.types.DoubleType, nullable = false),
    StructField("rms", org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "wav_analyze"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.wavAnalyzeRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.wavAnalyzeRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): WavAnalyze =
    copy(child = c)
}

/** meta = mp4_probe(content): REAL ISO-BMFF box-tree walk + mvhd movie
  * header extraction in one codegen kernel. NULL (not an exception) for
  * malformed bytes, same contract as PpmDecode/WavDecode. */
case class Mp4Probe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("major_brand", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("duration_ms", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_top_boxes", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_probe"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.mp4DecodeRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.mp4DecodeRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): Mp4Probe =
    copy(child = c)
}

/** content = mp4_fixture(id): deterministic complete minimal ISO-BMFF
  * containers (see Mp4.fixtureBytes) — the corpus-from-nothing generator
  * for video-container tests and q81. */
case class Mp4Fixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp4_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.mp4Fixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.mp4Fixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): Mp4Fixture =
    copy(child = c)
}

/** tracks = mp4_tracks(content): REAL ISO-BMFF TRACK-layer walk — one
  * struct per moov>trak with the tkhd track id, mdhd media timescale and
  * duration (v0+v1), the stts-derived sample/frame count, and the
  * floor-div duration_ms. NULL (not an exception) for malformed bytes,
  * same contract as Mp4Probe; an empty array for trackless containers. */
case class Mp4Tracks(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("track_id", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_samples", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("duration_ms", org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_tracks"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.mp4TracksRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.mp4TracksRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): Mp4Tracks =
    copy(child = c)
}

/** content = mp4_fixture_tracks(id): deterministic complete ISO-BMFF
  * containers WITH real trak/tkhd/mdhd/stts structure (see
  * Mp4.fixtureBytesWithTracks) — the corpus generator for the track
  * layer, q82, and per-track frame sampling. */
case class Mp4FixtureTracks(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp4_fixture_tracks"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.mp4FixtureTracks(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.mp4FixtureTracks($c)")
  }
  override protected def withNewChildInternal(c: Expression): Mp4FixtureTracks =
    copy(child = c)
}

/** samples = mp4_samples(content): REAL ISO-BMFF SAMPLE-TABLE resolution
  * — stsz sizes, stsc run-length sample-to-chunk mapping, stco/co64
  * chunk offsets — then per-sample byte EXTRACTION from mdat, emitting
  * (track_id, sample_idx, size, checksum-of-extracted-bytes). Zero codec
  * involvement; NULL for malformed bytes, empty array for trackless. */
case class Mp4Samples(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("track_id", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("sample_idx", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("size", IntegerType, nullable = false),
    StructField("checksum", org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_samples"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.mp4SamplesRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.mp4SamplesRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): Mp4Samples =
    copy(child = c)
}

/** frames = mp4_jpeg_frames(content): frame-level VIDEO decode for the
  * MJPEG profile — full sample-table resolution, then each extracted
  * sample entropy-decoded as a baseline JPEG with exact per-frame pixel
  * stats. The first codec the video stub actually CLOSES: zero external
  * libraries, the in-repo T.81 decoder does the work. */
case class Mp4JpegFrames(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("track_id", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("sample_idx", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sum_samples", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("checksum", org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_jpeg_frames"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.mp4JpegFramesRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.mp4JpegFramesRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): Mp4JpegFrames =
    copy(child = c)
}

/** content = mjpeg_fixture(id): deterministic MJPEG-in-MP4 containers —
  * every sample a complete DC-exact baseline JPEG (see
  * Mp4.fixtureBytesMjpeg) — the corpus generator for q149. */
case class MjpegFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "mjpeg_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.mjpegFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.mjpegFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): MjpegFixture =
    copy(child = c)
}

/** content = mp4_fixture_samples(id): deterministic containers with FULL
  * sample tables and interleaved mdat chunks (see
  * Mp4.fixtureBytesWithSamples) — the corpus generator for q84. */
case class Mp4FixtureSamples(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp4_fixture_samples"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.mp4FixtureSamples(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.mp4FixtureSamples($c)")
  }
  override protected def withNewChildInternal(c: Expression): Mp4FixtureSamples =
    copy(child = c)
}

/** facts = mp3_scan(content): REAL MPEG-1 Layer III frame walk — ID3v2
  * skip (synchsafe size), per-frame header decode (sync, version/layer,
  * bitrate and sampling-rate indices, padding), spec-exact frame-length
  * stepping. NULL (not an exception) for malformed or unsupported
  * bytes, same contract as WavDecode/Mp4Probe. */
case class Mp3Scan(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_frames", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_samples", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("duration_ms", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("sum_kbps", org.apache.spark.sql.types.LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "mp3_scan"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.mp3ScanRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.mp3ScanRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): Mp3Scan =
    copy(child = c)
}

/** content = mp3_fixture(id): deterministic spec-exact MPEG-1 Layer III
  * streams with per-frame-varying bitrates (see Mp3.fixtureBytes) — the
  * corpus generator for the MP3 layer and q83. */
case class Mp3Fixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp3_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.mp3Fixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.mp3Fixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): Mp3Fixture =
    copy(child = c)
}

/** content = wav_fixture(id): deterministic complete RIFF/WAVE PCM bytes
  * (see Wav.fixtureBytes) — the corpus-from-nothing generator for audio
  * tests and q79. */
case class WavFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.wavFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.wavFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): WavFixture =
    copy(child = c)
}

/** samples = wav_samples(content): REAL RIFF/WAVE PCM parse to the raw
  * interleaved sample array — the audio-analytics input (q159/q160).
  * NULL for malformed bytes, the shared decode contract. */
case class WavSamples(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "wav_samples"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.wavSamplesArr(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.wavSamplesArr($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): WavSamples =
    copy(child = c)
}

/** content = wav_fixture_long(id): the longer mono-16-bit fixture for
  * the audio-analytics layer (see Wav.fixtureBytesLong). */
case class WavFixtureLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_fixture_long"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.wavFixtureLong(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.wavFixtureLong($c)")
  }
  override protected def withNewChildInternal(c: Expression): WavFixtureLong =
    copy(child = c)
}

/** img = image_decode(content): auto-sniffed REAL image decode — PPM via
  * the P6 grammar, PNG via chunk walk + CRC-32 verify + zlib inflate +
  * scanline unfilter — plus exact pixel stats, in ONE codegen kernel.
  * NULL (not an exception) for unknown magic or malformed bytes, the
  * shared media contract. */
case class ImageDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_pixels", IntegerType, nullable = false),
    StructField("sum_samples", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("checksum", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("mean_sample", org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "image_decode"
  override def nullSafeEval(c: Any): Any =
    DecodeKernels.imageDecodeRow(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kn.imageDecodeRow($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): ImageDecode =
    copy(child = c)
}

/** content = png_fixture(id): deterministic complete PNG bytes (see
  * Png.fixtureBytes — real deflate, real CRCs, every filter type) — the
  * corpus generator for the PNG layer and q101. */
case class PngFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "png_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.pngFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.pngFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): PngFixture =
    copy(child = c)
}

/** content = gif_fixture(id): deterministic complete GIF87a bytes (see
  * Gif.fixtureBytes — real variable-width LZW compression, 16-entry
  * palette) — the corpus generator for the GIF layer and q107. */
case class GifFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gif_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.gifFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.gifFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): GifFixture =
    copy(child = c)
}

/** content = jpeg_fixture(id): deterministic complete baseline JPEG bytes
  * (see Jpeg.fixtureBytes — real FDCT/Huffman encode; per-block-constant
  * images, the DC-exactness configuration) — the corpus generator for
  * the JPEG layer and q112. */
case class JpegFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.jpegFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.jpegFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): JpegFixture =
    copy(child = c)
}

/** content = bmp_fixture(id): deterministic complete 24-bit BI_RGB BMP
  * bytes (see Bmp.fixtureBytes — real BGR/bottom-up/padded layout) — the
  * corpus generator for the BMP layer and q128. */
case class BmpFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bmp_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.bmpFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.bmpFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): BmpFixture =
    copy(child = c)
}

/** content = tiff_fixture(id): deterministic complete baseline-TIFF bytes
  * (see Tiff.fixtureBytes — real IFD walk, BOTH byte orders by id parity,
  * reverse-ordered strips) — the corpus generator for the TIFF layer and
  * q142. */
case class TiffFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "tiff_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.tiffFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.tiffFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): TiffFixture =
    copy(child = c)
}

/** content = ppm_fixture(id): deterministic complete P6 file bytes (see
  * Ppm.fixtureBytes) — the corpus-from-nothing generator for media tests,
  * and q26. */
case class PpmFixture(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "ppm_fixture"
  override def nullSafeEval(id: Any): Any =
    DecodeKernels.ppmFixture(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kn = DecodeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$kn.ppmFixture($c)")
  }
  override protected def withNewChildInternal(c: Expression): PpmFixture =
    copy(child = c)
}
