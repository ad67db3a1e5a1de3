package graft.multimodal

/** REAL decoder/encoder for RIFF/WAVE PCM audio — the second genuine
  * on-disk media format parsed end-to-end without a codec library (the
  * PPM image move applied to audio): little-endian RIFF container
  * grammar, chunk walk with word alignment (odd-sized chunks carry a pad
  * byte), `fmt ` field validation, and an integer-PCM raster in 8-bit
  * unsigned or 16-bit signed samples. Compressed formats that DO need a
  * native codec (mp3, aac, flac) remain behind the clearly-marked stub
  * in [[Multimodal]].
  *
  * Reference semantics (capability parity, not code): the reference
  * pipeline has no media handling at all — this layer is part of the
  * beyond-reference training-data surface the build prompt requires.
  */
object Wav {

  /** Decoded audio: interleaved frames, one Int per sample, SIGNED in
    * both widths (8-bit PCM is unsigned on disk and is centered here:
    * value − 128 ∈ [−128, 127]; 16-bit is signed LE ∈ [−32768, 32767]). */
  final case class Audio(channels: Int, sampleRate: Int, bitsPerSample: Int,
      samples: Array[Int]) {
    def nFrames: Long = samples.length.toLong / channels
    /** floor integer milliseconds — the q14 duration-math convention. */
    def durationMs: Long = nFrames * 1000L / sampleRate
  }

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], i: Int): String =
    new String(Array(b(i), b(i + 1), b(i + 2), b(i + 3)), "US-ASCII")

  /** Parse RIFF/WAVE PCM bytes; null on ANY malformation (bad magic,
    * missing/duplicate-inconsistent fmt, non-PCM codec id, unsupported
    * sample width, blockAlign that contradicts channels×width, truncated
    * or misaligned data chunk) — the expression layer turns that into a
    * NULL row, never an exception, so one corrupt blob cannot fail a
    * 100 TB scan. Unknown chunks (LIST, fact, cue…) are skipped with the
    * RIFF pad-byte rule; `fmt ` must precede `data` as the spec requires
    * (the stream cannot be interpreted before the format is known). */
  def decode(bytes: Array[Byte]): Audio = {
    if (bytes == null || bytes.length < 44) return null
    val n = bytes.length
    if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return null
    // riff size covers everything after its own 8-byte header; tolerate
    // files longer than declared (trailing junk) but not shorter
    val riffSize = le32(bytes, 4)
    if (riffSize < 36 || riffSize > Int.MaxValue || n < riffSize + 8) return null
    var i = 12
    var channels = 0; var sampleRate = 0; var bits = 0; var blockAlign = 0
    var haveFmt = false
    while (i + 8 <= n) {
      val id = tag(bytes, i)
      val size = le32(bytes, i + 4)
      if (size > Int.MaxValue || i + 8 + size > n) return null
      val sz = size.toInt
      id match {
        case "fmt " =>
          if (haveFmt || sz < 16) return null
          val audioFormat = le16(bytes, i + 8)
          channels = le16(bytes, i + 10)
          sampleRate = le32(bytes, i + 12).toInt
          blockAlign = le16(bytes, i + 20)
          bits = le16(bytes, i + 22)
          if (audioFormat != 1) return null // PCM only — no codec libs here
          if (channels < 1 || channels > 1024) return null
          if (sampleRate < 1) return null
          if (bits != 8 && bits != 16) return null
          if (blockAlign != channels * (bits / 8)) return null
          haveFmt = true
        case "data" =>
          if (!haveFmt) return null
          val bps = bits / 8
          if (sz % blockAlign != 0) return null
          val nSamples = sz / bps
          val out = new Array[Int](nSamples)
          val base = i + 8
          var j = 0
          if (bps == 1) {
            while (j < nSamples) { out(j) = (bytes(base + j) & 0xff) - 128; j += 1 }
          } else {
            while (j < nSamples) {
              out(j) = (le16(bytes, base + 2 * j) << 16) >> 16 // sign-extend
              j += 1
            }
          }
          return Audio(channels, sampleRate, bits, out)
        case _ => () // unknown chunk: skip
      }
      i += 8 + sz + (sz & 1) // RIFF word alignment: odd chunks carry a pad byte
    }
    null // ran out of chunks without a data chunk
  }

  /** Serialize as a canonical 44-byte-header WAV (fmt then data, pad byte
    * on an odd data size). Inverse of [[decode]] up to chunk layout. */
  def encode(channels: Int, sampleRate: Int, bitsPerSample: Int,
      samples: Array[Int]): Array[Byte] = {
    require(channels >= 1 && channels <= 1024, s"bad channels $channels")
    require(sampleRate >= 1, s"bad sampleRate $sampleRate")
    require(bitsPerSample == 8 || bitsPerSample == 16, s"bad bits $bitsPerSample")
    require(samples.length % channels == 0,
      s"${samples.length} samples not a whole number of $channels-channel frames")
    // range-check every sample: silent two's-complement wrap-around would
    // break the decode-inverse contract without an error
    val lo = if (bitsPerSample == 8) -128 else -32768
    val hi = if (bitsPerSample == 8) 127 else 32767
    var chk = 0
    while (chk < samples.length) {
      require(samples(chk) >= lo && samples(chk) <= hi,
        s"sample $chk (${samples(chk)}) out of $bitsPerSample-bit range [$lo, $hi]")
      chk += 1
    }
    val bps = bitsPerSample / 8
    val dataSize = samples.length * bps
    val pad = dataSize & 1
    val out = new Array[Byte](44 + dataSize + pad)
    def putTag(i: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, out, i, 4) }
    def put16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte }
    def put32(i: Int, v: Long): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte }
    putTag(0, "RIFF"); put32(4, 36L + dataSize + pad); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16L)
    put16(20, 1); put16(22, channels); put32(24, sampleRate.toLong)
    put32(28, sampleRate.toLong * channels * bps) // byteRate
    put16(32, channels * bps)                     // blockAlign
    put16(34, bitsPerSample)
    putTag(36, "data"); put32(40, dataSize.toLong)
    var j = 0
    if (bps == 1) {
      while (j < samples.length) { out(44 + j) = (samples(j) + 128).toByte; j += 1 }
    } else {
      while (j < samples.length) {
        put16(44 + 2 * j, samples(j) & 0xffff)
        j += 1
      }
    }
    out
  }

  /** Deterministic WAV fixture bytes for an id — REAL, complete PCM files
    * (playable by any WAV tool): channels/width/rate/length all cycle
    * with the id so every decoder branch is exercised, and sample j =
    * a signed linear-congruential pattern — arithmetic-mirrorable in
    * DuckDB without touching bytes (the Ppm.fixtureBytes move):
    *   channels   = 1 + id mod 2
    *   bits       = 8 when id mod 3 = 0 else 16
    *   sampleRate = 8000 + (id mod 4)·2000
    *   frames     = 4 + id mod 5
    *   sample j   = ((id·37 + j·11) mod 2^bits) − 2^(bits−1)
    * Used by q79. */
  def fixtureBytes(id: Long): Array[Byte] = {
    val ch = (1 + java.lang.Math.floorMod(id, 2L)).toInt
    val bits = if (java.lang.Math.floorMod(id, 3L) == 0L) 8 else 16
    val sr = (8000 + java.lang.Math.floorMod(id, 4L) * 2000).toInt
    val nFrames = (4 + java.lang.Math.floorMod(id, 5L)).toInt
    val samples = new Array[Int](nFrames * ch)
    val mod = if (bits == 8) 256L else 65536L
    var j = 0
    while (j < samples.length) {
      samples(j) = (java.lang.Math.floorMod(id * 37 + j * 11L, mod) - mod / 2).toInt
      j += 1
    }
    encode(ch, sr, bits, samples)
  }

  /** LONGER deterministic fixture for the audio-ANALYTICS layer
    * (q159/q160): mono 16-bit at 16 kHz, 32 + (id mod 5)·8 frames — a
    * multiple of 8 so Walsh–Hadamard windows tile exactly — with a
    * faster-stepping LCG so silence/active runs and band content vary
    * per id:
    *   sample j = ((id·37 + j·769) mod 65536) − 32768
    * (769 steps ~1.2 % of the range per sample: values sweep through
    * the silence band in runs of ~20, giving real segment structure). */
  def fixtureBytesLong(id: Long): Array[Byte] = {
    val nFrames = (32 + java.lang.Math.floorMod(id, 5L) * 8).toInt
    val samples = Array.tabulate(nFrames)(j =>
      (java.lang.Math.floorMod(id * 37 + j * 769L, 65536L) - 32768L).toInt)
    encode(1, 16000, 16, samples)
  }
}
