package graft.multimodal

/** REAL decoder/encoder for the binary PPM ("P6") image format — the
  * self-describing Netpbm format: ASCII header (`P6`, width, height,
  * maxval, with `#` comments allowed in the header whitespace) followed
  * by a big-endian RGB raster, 1 byte per sample for maxval < 256 and 2
  * bytes otherwise. Chosen because it is a genuine on-disk image format
  * that needs no codec library: the multimodal decode path parses actual
  * image bytes end-to-end (header grammar, raster bounds, sample width)
  * instead of a derived fake. Formats that DO need a native codec (jpeg,
  * wav, mp4) remain behind the clearly-marked stub in [[Multimodal]].
  *
  * Reference semantics (capability parity, not code): the reference
  * pipeline has no media handling at all — this layer is part of the
  * beyond-reference training-data surface the build prompt requires.
  */
object Ppm {

  /** Decoded image: interleaved RGB samples, row-major, 3 per pixel,
    * each already widened to Int (0..maxval). */
  final case class Image(width: Int, height: Int, maxval: Int, samples: Array[Int])

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b

  /** Parse P6 bytes; null on any malformation (bad magic, missing/zero
    * dims, maxval out of range, truncated raster) — the expression layer
    * turns that into a NULL row, never an exception, so one corrupt blob
    * cannot fail a 100 TB scan. */
  def decode(bytes: Array[Byte]): Image = {
    if (bytes == null || bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return null
    val n = bytes.length
    var i = 2
    def skipWsAndComments(): Unit = {
      var progressed = true
      while (progressed) {
        progressed = false
        while (i < n && isWs(bytes(i))) { i += 1; progressed = true }
        if (i < n && bytes(i) == '#') {
          while (i < n && bytes(i) != '\n') i += 1
          progressed = true
        }
      }
    }
    // -1 on malformed; caps at Int.MaxValue to reject absurd headers
    def readInt(): Int = {
      if (i >= n || bytes(i) < '0' || bytes(i) > '9') return -1
      var v = 0L
      while (i < n && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        if (v > Int.MaxValue) return -1
        i += 1
      }
      v.toInt
    }
    skipWsAndComments()
    val w = readInt(); if (w <= 0) return null
    skipWsAndComments()
    val h = readInt(); if (h <= 0) return null
    skipWsAndComments()
    val mv = readInt(); if (mv <= 0 || mv >= 65536) return null
    // exactly ONE whitespace byte separates the header from the raster
    if (i >= n || !isWs(bytes(i))) return null
    i += 1
    val bps = if (mv < 256) 1 else 2
    val nSamples = w.toLong * h * 3
    if (nSamples > Int.MaxValue / 4 || n - i < nSamples * bps) return null
    val out = new Array[Int](nSamples.toInt)
    var j = 0
    if (bps == 1) {
      while (j < out.length) { out(j) = bytes(i + j) & 0xff; j += 1 }
    } else {
      while (j < out.length) {
        out(j) = ((bytes(i + 2 * j) & 0xff) << 8) | (bytes(i + 2 * j + 1) & 0xff)
        j += 1
      }
    }
    Image(w, h, mv, out)
  }

  /** Serialize an image as canonical P6 bytes (single-space/newline
    * header, no comments). Inverse of [[decode]] up to header whitespace. */
  def encode(width: Int, height: Int, maxval: Int, samples: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && maxval > 0 && maxval < 65536,
      s"invalid PPM dims/maxval: ${width}x$height/$maxval")
    require(samples.length == width * height * 3,
      s"expected ${width * height * 3} samples, got ${samples.length}")
    val header = s"P6\n$width $height\n$maxval\n".getBytes("US-ASCII")
    val bps = if (maxval < 256) 1 else 2
    val out = new Array[Byte](header.length + samples.length * bps)
    System.arraycopy(header, 0, out, 0, header.length)
    var j = 0
    if (bps == 1) {
      while (j < samples.length) { out(header.length + j) = samples(j).toByte; j += 1 }
    } else {
      while (j < samples.length) {
        out(header.length + 2 * j) = (samples(j) >>> 8).toByte
        out(header.length + 2 * j + 1) = samples(j).toByte
        j += 1
      }
    }
    out
  }

  /** Block-average grayscale resize to a fixed cellW x cellH feature grid
    * (the "decode + resize + feature-extract" step): cell (cy,cx) averages
    * gray = (r+g+b)/3/maxval over its integer pixel block; when the image
    * is smaller than the grid the empty block degenerates to the single
    * nearest pixel (y0 = cy*h/cellH, width-1 guard via max(y0+1, ...)).
    * Sums are exact integer arithmetic; the two divisions run in double
    * and the result narrows to float last — the order the q26 oracle
    * mirrors bit-exactly. */
  def cellFeatures(img: Image, cellW: Int, cellH: Int): Array[Float] = {
    val out = new Array[Float](cellW * cellH)
    var cy = 0
    while (cy < cellH) {
      val y0 = cy * img.height / cellH
      val y1 = math.max(y0 + 1, (cy + 1) * img.height / cellH)
      var cx = 0
      while (cx < cellW) {
        val x0 = cx * img.width / cellW
        val x1 = math.max(x0 + 1, (cx + 1) * img.width / cellW)
        var sum = 0L
        var np = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = (y * img.width + x) * 3
            sum += img.samples(p) + img.samples(p + 1) + img.samples(p + 2)
            np += 1
            x += 1
          }
          y += 1
        }
        out(cy * cellW + cx) =
          ((sum.toDouble / (np * 3).toDouble) / img.maxval.toDouble).toFloat
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** Deterministic PPM fixture bytes for an id — REAL, complete P6 files
    * (parseable by any netpbm tool): dims cycle 3..5 x 2..3 with the id,
    * sample j = (id*31 + j*7) mod 256. Used by q26 (arithmetic-mirrorable
    * in DuckDB without touching bytes). */
  def fixtureBytes(id: Long): Array[Byte] = {
    val w = (3 + java.lang.Math.floorMod(id, 3L)).toInt
    val h = (2 + java.lang.Math.floorMod(id, 2L)).toInt
    val samples = new Array[Int](w * h * 3)
    var j = 0
    while (j < samples.length) {
      samples(j) = java.lang.Math.floorMod(id * 31 + j * 7L, 256L).toInt
      j += 1
    }
    encode(w, h, 255, samples)
  }
}
