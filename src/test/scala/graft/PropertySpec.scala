package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.core.InferredType
import graft.analyze.{Analyze, Ddl}
import graft.core.ColumnProfile

/** Property tests (SURVEY §5.2): the type-inference lattice and naming
  * rules as laws, not examples. Pure-function properties run driverless;
  * Spark-backed laws (upsert idempotence, last-wins determinism) live in
  * LoaderSpec/UpsertSpec with fixed fixtures. */
class PropertySpec extends AnyFunSuite {

  /** Minimal deterministic property driver over ScalaCheck Gens (the
    * scalatest-scalacheck bridge isn't in the offline cache). */
  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    var seed = seed0
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(t => f(t._1, t._2))
  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  test("varcharBucket is monotone and always covers the observed length") {
    forAll(Gen.choose(0L, 100000L), Gen.choose(0L, 100000L)) { (a: Long, b: Long) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      assert(InferredType.varcharBucket(lo) <= InferredType.varcharBucket(hi))
      assert(InferredType.varcharBucket(hi) >= hi || hi <= 50)
    }
  }

  test("varcharBucket emits only the documented buckets below 500") {
    forAll(Gen.choose(0L, 500L)) { (n: Long) =>
      assert(Set(50, 100, 255, 500).contains(InferredType.varcharBucket(n)))
    }
  }

  test("table name derivation is idempotent and always a valid identifier") {
    val fileGen = for {
      stem <- Gen.nonEmptyListOf(Gen.frequency(
        8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('-', ' ', '.', '_'))).map(_.mkString)
      ext <- Gen.oneOf(".csv", ".psv", ".json", "")
    } yield stem + ext
    forAll(fileGen) { (f: String) =>
      val name = Ddl.tableName(s"/data/$f")
      whenever(name.nonEmpty) {
        // valid: starts with letter/underscore (or t_ prefix applied), word chars only
        assert(name.matches("[A-Za-z_]\\w*"), s"'$f' -> '$name'")
        // idempotent through a second derivation
        assert(Ddl.tableName(s"/data/$name.csv") == name.replaceAll("_\\d{3,}$", ""))
      }
    }
  }

  private def profileFor(values: Seq[String]): ColumnProfile = {
    // driver-side mirror of the distributed profile semantics for law
    // checking (absent = null/''/nan)
    val present = values.filterNot(v => v == null || v.trim.isEmpty || v.trim.toLowerCase == "nan")
    def parses(f: String => Boolean)(v: String) = f(v.trim)
    def isLong(v: String) = v.trim.nonEmpty && scala.util.Try(v.trim.toLong).isSuccess
    def isInt(v: String) = scala.util.Try(v.trim.toInt).isSuccess
    def isDec(v: String) = scala.util.Try(BigDecimal(v.trim)).isSuccess &&
      BigDecimal(v.trim).scale <= 4 || scala.util.Try(BigDecimal(v.trim)).isSuccess
    ColumnProfile(
      name = "c",
      maxLength = if (values.isEmpty) 0 else values.filter(_ != null).map(_.length.toLong).maxOption.getOrElse(0L),
      hasNulls = present.size < values.size,
      allInteger = present.nonEmpty && present.forall(isLong),
      allDecimal = present.nonEmpty && present.forall(isDec),
      allDatetime = false,
      intFitsInt32 = present.forall(isInt),
      nonNullCount = present.size)
  }

  test("lattice: all-integer columns never infer as varchar; ints within Int range infer INT") {
    val intGen = Gen.nonEmptyListOf(Gen.choose(Int.MinValue.toLong, Int.MaxValue.toLong).map(_.toString))
    forAll(intGen) { (vals: List[String]) =>
      val t = Analyze.inferType(profileFor(vals))
      assert(t == InferredType.IntType)
    }
  }

  test("lattice: any value beyond Int range widens to BIGINT, never truncates") {
    val mixGen = for {
      small <- Gen.listOf(Gen.choose(-1000L, 1000L).map(_.toString))
      big <- Gen.choose(Int.MaxValue.toLong + 1, Long.MaxValue).map(_.toString)
    } yield scala.util.Random.shuffle(big :: small)
    forAll(mixGen) { (vals: List[String]) =>
      assert(Analyze.inferType(profileFor(vals)) == InferredType.BigIntType)
    }
  }

  test("lattice: a single non-parsable value forces varchar with a covering bucket") {
    val gen = for {
      nums <- Gen.listOf(Gen.choose(0, 9999).map(_.toString))
      junk <- Gen.oneOf("abc", "12x", "--", "1.2.3")
    } yield (scala.util.Random.shuffle(junk :: nums), junk)
    forAll(gen) { case (vals: List[String], _) =>
      Analyze.inferType(profileFor(vals)) match {
        case InferredType.VarcharType(n) =>
          assert(n >= math.min(vals.map(_.length).max, 50))
        case other => fail(s"expected varchar, got $other for $vals")
      }
    }
  }

  // --- binary codec laws (pure functions, driverless) ----------------------

  test("Wav: decode ∘ encode is the identity for every valid shape and sample set") {
    val gen = for {
      ch <- Gen.choose(1, 4)
      rate <- Gen.choose(1, 192000)
      bits <- Gen.oneOf(8, 16)
      nFrames <- Gen.choose(0, 24)
      lo = if (bits == 8) -128 else -32768
      hi = if (bits == 8) 127 else 32767
      samples <- Gen.listOfN(nFrames * ch, Gen.choose(lo, hi))
    } yield (ch, rate, bits, samples.toArray)
    forAll(gen) { case (ch, rate, bits, s) =>
      val a = graft.multimodal.Wav.decode(
        graft.multimodal.Wav.encode(ch, rate, bits, s))
      assert(a != null, s"roundtrip lost ${s.length} samples at $ch/$rate/$bits")
      assert(a.channels == ch && a.sampleRate == rate && a.bitsPerSample == bits)
      assert(a.samples.toSeq == s.toSeq)
    }
  }

  test("Ppm: decode ∘ encode is the identity across dims and both sample widths") {
    val gen = for {
      w <- Gen.choose(1, 8); h <- Gen.choose(1, 8)
      maxval <- Gen.oneOf(255, 65535)
      samples <- Gen.listOfN(w * h * 3, Gen.choose(0, maxval))
    } yield (w, h, maxval, samples.toArray)
    forAll(gen) { case (w, h, mv, s) =>
      val img = graft.multimodal.Ppm.decode(
        graft.multimodal.Ppm.encode(w, h, mv, s))
      assert(img != null && img.width == w && img.height == h && img.maxval == mv)
      assert(img.samples.toSeq == s.toSeq)
    }
  }

  test("codec totality: decode NEVER throws — random bytes, every 1-byte mutation, every truncation") {
    // the 100 TB contract both kernels document: one corrupt blob costs
    // one NULL row, never an exception. Exercise three corruption
    // families exhaustively / generatively; result validity is not
    // asserted (null or parsed both fine) — NOT THROWING is the law.
    val rndBytes = for {
      n <- Gen.choose(0, 200)
      bs <- Gen.listOfN(n, Gen.choose(0, 255).map(_.toByte))
    } yield bs.toArray
    forAll(rndBytes) { bytes =>
      graft.multimodal.Wav.decode(bytes)
      graft.multimodal.Ppm.decode(bytes)
      graft.multimodal.Mp4.decode(bytes)
      graft.multimodal.Wav.decode("RIFF".getBytes("US-ASCII") ++ bytes)
      graft.multimodal.Ppm.decode("P6\n".getBytes("US-ASCII") ++ bytes)
      ()
    }
    // exhaustive sweeps over real fixture files (headers included):
    // every single-byte XOR mutation and every truncation point
    val wav = graft.multimodal.Wav.fixtureBytes(7L)
    for (i <- wav.indices) {
      val b = wav.clone(); b(i) = (b(i) ^ 0x5a).toByte
      graft.multimodal.Wav.decode(b)
    }
    for (i <- 0 to wav.length) graft.multimodal.Wav.decode(wav.take(i))
    val ppm = graft.multimodal.Ppm.fixtureBytes(7L)
    for (i <- ppm.indices) {
      val b = ppm.clone(); b(i) = (b(i) ^ 0x5a).toByte
      graft.multimodal.Ppm.decode(b)
    }
    for (i <- 0 to ppm.length) graft.multimodal.Ppm.decode(ppm.take(i))
    val mp4 = graft.multimodal.Mp4.fixtureBytes(7L)
    for (i <- mp4.indices) {
      val b = mp4.clone(); b(i) = (b(i) ^ 0x5a).toByte
      graft.multimodal.Mp4.decode(b)
    }
    for (i <- 0 to mp4.length) graft.multimodal.Mp4.decode(mp4.take(i))
  }

  test("Mp4: probe ∘ encode preserves the metadata for every valid shape") {
    val gen = for {
      ts <- Gen.choose(1, 1000000)
      dur <- Gen.choose(0L, 0xffffffffL)
      nPayload <- Gen.choose(0, 64)
      payload <- Gen.listOfN(nPayload, Gen.choose(0, 255).map(_.toByte))
      brand <- Gen.listOfN(4, Gen.alphaChar).map(_.mkString)
    } yield (brand, ts, dur, payload.toArray)
    forAll(gen) { case (brand, ts, dur, payload) =>
      val m = graft.multimodal.Mp4.decode(
        graft.multimodal.Mp4.encode(brand, ts, dur, payload))
      assert(m != null && m.majorBrand == brand && m.timescale == ts &&
        m.duration == dur && m.nTopBoxes == 3)
    }
  }

  test("Mp4 track layer: decodeTracks total on fixture prefixes and random bytes") {
    import graft.multimodal.Mp4
    val fx = Mp4.fixtureBytesWithTracks(11L)
    for (i <- 0 to fx.length) Mp4.decodeTracks(fx.take(i)) // no throw
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      Mp4.decodeTracks(b) // no throw
    }
  }

  test("Mp4 track layer: decodeTracks ∘ encodeWithTracks is identity for every valid shape") {
    import graft.multimodal.Mp4
    import graft.multimodal.Mp4.TrackSpec
    val gen = for {
      n <- Gen.choose(1, 3)
      specs <- Gen.listOfN(n, for {
        ts <- Gen.choose(1, 1000000)
        entries <- Gen.choose(0, 4)
        stts <- Gen.listOfN(entries, for {
          c <- Gen.choose(0L, 1000L)
          d <- Gen.choose(0L, 5000L)
        } yield (c, d))
      } yield (ts, stts))
    } yield specs.zipWithIndex.map { case ((ts, stts), k) =>
      TrackSpec(k + 1L, ts, stts)
    }
    forAll(gen) { tracks =>
      val got = Mp4.decodeTracks(Mp4.encodeWithTracks(
        "isom", 600, 1200L, tracks, Array[Byte](1, 2)))
      assert(got != null && got.length == tracks.length)
      tracks.zip(got).foreach { case (spec, t) =>
        assert(t == Mp4.Track(spec.trackId, spec.timescale, spec.duration,
          spec.nSamples), s"spec $spec -> $t")
      }
    }
  }

  test("Mp4 sample tables: extraction ∘ encode is the identity for every layout") {
    import graft.multimodal.Mp4
    import graft.multimodal.Mp4.SampledTrack
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 40) {
      val nTracks = 1 + rnd.nextInt(3)
      val tracks = (1 to nTracks).map { tid =>
        val n = 1 + rnd.nextInt(8)
        val samples = (0 until n).map { _ =>
          val b = new Array[Byte](rnd.nextInt(9))
          rnd.nextBytes(b); b
        }
        // random partition of n samples into chunks
        val chunks = scala.collection.mutable.ArrayBuffer[Int]()
        var left = n
        while (left > 0) { val c = 1 + rnd.nextInt(left); chunks += c; left -= c }
        SampledTrack(tid.toLong, 1 + rnd.nextInt(90000),
          Seq((n.toLong, 100L)), samples, chunks.toSeq)
      }
      val bytes = Mp4.encodeWithSampleTables("isom", 600, 1200L, tracks)
      val refs = Mp4.sampleRefs(bytes)
      assert(refs != null && refs.length == tracks.map(_.nSamples).sum)
      for (t <- tracks; j <- t.samples.indices) {
        val got = Mp4.sampleBytes(bytes, t.trackId, j)
        assert(got != null && got.sameElements(t.samples(j)),
          s"track ${t.trackId} sample $j of ${t.samplesPerChunk}")
      }
    }
  }

  test("Mp4 sample tables: sampleRefs total on fixture prefixes and random bytes") {
    import graft.multimodal.Mp4
    val fx = Mp4.fixtureBytesWithSamples(13L)
    for (i <- 0 to fx.length) Mp4.sampleRefs(fx.take(i)) // no throw
    val rnd = new scala.util.Random(44)
    for (_ <- 1 to 200) {
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      Mp4.sampleRefs(b) // no throw
    }
  }

  test("Mp3: decode ∘ encode is the identity for every valid shape") {
    import graft.multimodal.Mp3
    val gen = for {
      sr <- Gen.choose(0, 2)
      n <- Gen.choose(1, 8)
      frames <- Gen.listOfN(n, for {
        br <- Gen.choose(1, 14)
        pad <- Gen.choose(0, 1)
      } yield (br, pad))
      id3 <- Gen.oneOf(Gen.const(-1), Gen.choose(0, 300))
    } yield (sr, frames, id3)
    forAll(gen) { case (sr, frames, id3) =>
      val bytes = Mp3.encode(sr, frames, id3)
      val a = Mp3.decode(bytes)
      assert(a != null && a.sampleRate == Mp3.SampleRateHz(sr) &&
        a.nFrames == frames.length &&
        a.sumBitrateKbps == frames.map(f => Mp3.BitrateKbps(f._1).toLong).sum &&
        a.nBytes == bytes.length, s"($sr, $frames, $id3) -> $a")
    }
  }

  test("Mp3: decode total on fixture prefixes and random bytes") {
    import graft.multimodal.Mp3
    val fx = Mp3.fixtureBytes(12L) // id%4=0 -> the ID3-tagged arm
    for (i <- 0 to fx.length) Mp3.decode(fx.take(i)) // no throw
    val rnd = new scala.util.Random(43)
    for (_ <- 1 to 200) {
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      Mp3.decode(b) // no throw
    }
  }
}
