package graft

import org.apache.spark.sql.functions._

/** Ground-truth laws for the round-9 batch-8 operators: deterministic
  * fixed-point k-means (q113), degree-ordered triangle counting (q114),
  * Simpson diversity (q115), exact chi-square independence (q116). */
class ScaleOps9Spec extends GraftSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --- q113 k-means --------------------------------------------------------

  test("q113: clusters partition the corpus and cluster ids are the 8 seeds") {
    val rows = graft.ops.ScaleOps9.q113Kmeans(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("cluster_id")).toSeq == (0L to 7L))
    assert(rows.map(_.getAs[Long]("n_members")).sum == 500L)
    // vec_ids 0..499 partitioned exactly once: Σ sum_vec_ids = 499·500/2
    assert(rows.map(_.getAs[Long]("sum_vec_ids")).sum == 499L * 500 / 2)
    assert(rows.forall(_.getAs[Long]("n_members") >= 1L))
  }

  test("q113: deterministic — two runs produce identical rows (the reproducible-clustering contract)") {
    val a = graft.ops.ScaleOps9.q113Kmeans(spark, sf).collect().toSeq
    val b = graft.ops.ScaleOps9.q113Kmeans(spark, sf).collect().toSeq
    assert(a == b)
  }

  // --- q114 triangles ------------------------------------------------------

  test("q114: hand graph — known triangles, odd orders excluded") {
    val dir = tempDir("q114-hand")
    // even orders 2:{1,2,3} and 4:{2,3,4} (triangles {1,2,3},{2,3,4});
    // odd order 3:{1,4,5} MUST be excluded by the %2 guard (it would
    // otherwise add edges 1-4,1-5,4-5)
    Seq(
      (2L, 1L), (2L, 2L), (2L, 3L),
      (4L, 2L), (4L, 3L), (4L, 4L),
      (3L, 1L), (3L, 4L), (3L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def triangles() = graft.ops.ScaleOps9.q114Triangles(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 1L))
    assert(triangles() == expected)
    // bloomMaxEdges=0 skips the Bloom prefilter: the plain wedge join
    // must close exactly the same triangles
    spark.conf.set("graft.triangles.bloomMaxEdges", "0")
    try assert(triangles() == expected)
    finally spark.conf.unset("graft.triangles.bloomMaxEdges")
  }

  test("q114: degree-ordered orientation count equals the naive u<v<w enumeration on real data") {
    // independent naive algorithm over the same guarded co-occurrence
    // graph: edges (u<v), triangles as ordered triples joined pairwise
    val li = graft.ops.Relational.fanOut(
        graft.ops.Relational.t(spark, sf, "lineitem"))
      .filter(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val naive = e0.as("ab").join(e0.as("bc"), col("ab.v") === col("bc.u"))
      .join(e0.as("ac"),
        col("ac.u") === col("ab.u") && col("ac.v") === col("bc.v"))
      .count()
    val perNode = graft.ops.ScaleOps9.q114Triangles(spark, sf)
      .agg(sum(col("tri_cnt"))).head.getLong(0)
    // every triangle contributes exactly 3 node increments
    assert(perNode == naive * 3, s"oriented=$perNode naive=$naive")
    assert(naive > 0, "fixture graph must actually carry triangles")
  }

  // --- q115 Simpson diversity ----------------------------------------------

  test("q115: hand corpus — 1 − Σc(c−1)/(N(N−1)) on a counted-by-hand source") {
    val dir = tempDir("q115-hand")
    // src A: tokens a a b → N=3, V=2, coincide=2·1+1·0=2, simpson=1−2/6
    // src B: tokens x y z → N=3, V=3, coincide=0, simpson=1
    Seq(("A", "a a b"), ("B", "x y z"))
      .toDF("source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.ScaleOps9.q115Simpson(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("A", 3L, 2L, 1.0 - 2.0 / 6.0), ("B", 3L, 3L, 1.0)))
  }

  test("q115: diversity bounded by (0, 1] and token totals match the q42 word count") {
    val rows = graft.ops.ScaleOps9.q115Simpson(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Double]("simpson")
      assert(d > 0.0 && d <= 1.0, s"${r.getString(0)}: $d")
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
    }
  }

  // --- q116 chi-square -----------------------------------------------------

  test("q116: BigInt re-derivation — every fixed-point cell term and the total match exact integer arithmetic") {
    val rows = graft.ops.ScaleOps9.q116ChiSquare(spark, sf).collect()
    assert(rows.length == 10) // 2 cohorts × 5 event types
    val obs = rows.map(r => ((r.getAs[Long]("grp"), r.getAs[String]("event_type")),
      r.getAs[Long]("obs"))).toMap
    val n = BigInt(obs.values.sum)
    val rTot = obs.groupBy(_._1._1).view.mapValues(m => BigInt(m.values.sum)).toMap
    val cTot = obs.groupBy(_._1._2).view.mapValues(m => BigInt(m.values.sum)).toMap
    var total = BigInt(0)
    rows.foreach { row =>
      val key = (row.getAs[Long]("grp"), row.getAs[String]("event_type"))
      val (r, c, o) = (rTot(key._1), cTot(key._2), BigInt(obs(key)))
      val eFp = (r * c * 1000000) / n
      val diff = o * n - r * c
      val termFp = (diff * diff * 1000000) / (n * r * c)
      assert(BigInt(row.getAs[Long]("e_fp")) == eFp, s"$key e_fp")
      assert(BigInt(row.getAs[Long]("term_fp")) == termFp, s"$key term_fp")
      total += termFp
      assert(row.getAs[Long]("dof") == 4L)
    }
    rows.foreach { row =>
      assert(row.getAs[Double]("chi2") == total.toDouble / 1000000.0)
    }
  }

  // --- Damerau–Levenshtein kernel ------------------------------------------

  test("damerau_levenshtein: unrestricted-variant pins and classic cases") {
    import graft.functions.StringDistanceKernels.{damerau => dl}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // THE variant discriminator: OSA gives 3, unrestricted DL gives 2
    assert(dl(u("CA"), u("ABC")) == 2)
    assert(dl(u("martha"), u("marhta")) == 1)  // one transposition
    assert(dl(u("kitten"), u("sitting")) == 3)
    assert(dl(u(""), u("")) == 0)
    assert(dl(u("abc"), u("")) == 3 && dl(u(""), u("abc")) == 3)
    assert(dl(u("same"), u("same")) == 0)
    assert(dl(u("ab"), u("ba")) == 1)
    // transposition with an edit in between — OSA cannot do this at 2
    assert(dl(u("abcd"), u("badc")) == 2)
  }

  test("damerau_levenshtein: metric properties and DuckDB-fuzzed goldens") {
    import graft.functions.StringDistanceKernels.{damerau => dl}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val rnd = new scala.util.Random(20260814)
    def rs() = (0 until rnd.nextInt(9)).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
    for (_ <- 1 to 2000) {
      val (a, b, c) = (rs(), rs(), rs())
      val ab = dl(u(a), u(b))
      assert(ab == dl(u(b), u(a)), s"symmetry $a $b")
      assert(ab >= math.abs(a.length - b.length), s"length bound $a $b")
      assert(ab <= math.max(a.length, b.length), s"upper bound $a $b")
      assert(ab <= dl(u(a), u(c)) + dl(u(c), u(b)), s"triangle $a $b via $c")
      assert((ab == 0) == (a == b), s"identity $a $b")
    }
    // goldens computed by DuckDB 1.0.0 damerau_levenshtein (ASCII inputs,
    // where the byte/code-point unit difference is moot)
    val goldens = Seq(
      ("edcba", "abcde", 4), ("acb", "bca", 2), ("aabb", "bbaa", 3),
      ("abcde", "aebcd", 2), ("banana", "ananas", 2), ("xyz", "zyx", 2))
    goldens.foreach { case (a, b, want) =>
      assert(dl(u(a), u(b)) == want, s"golden $a $b")
    }
  }

  test("damerau_levenshtein: registered as a SQL function and codegen path agrees with eval") {
    graft.functions.GraftExtensions.registerAll(spark)
    val got = spark.sql(
      "SELECT damerau_levenshtein('CA', 'ABC') AS d1, damerau_levenshtein(NULL, 'x') AS d2")
      .head
    assert(got.getInt(0) == 2 && got.isNullAt(1))
    // through a projection over real rows (exercises doGenCode)
    val df = Seq(("martha", "marhta"), ("kitten", "sitting")).toDF("a", "b")
    df.createOrReplaceTempView("dl_pairs")
    val rows = spark.sql("SELECT damerau_levenshtein(a, b) FROM dl_pairs ORDER BY 1")
      .collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 3))
  }

  // --- q117 rolling median -------------------------------------------------

  test("q117: hand stream — 3rd order statistic of each full 5-row frame") {
    val dir = tempDir("q117-hand")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val vals = Seq(5.0, 1.0, 4.0, 2.0, 8.0, 3.0)
    vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, new java.sql.Timestamp(base + i * 60000L), 7L, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.ScaleOps9.q117RollingMedian(spark, dir.toString)
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("med5"))).toSeq
    // rows 0-4 sorted [1,2,4,5,8] → 4; rows 1-5 sorted [1,2,3,4,8] → 3
    assert(got == Seq((4L, 4.0), (5L, 3.0)))
  }

  test("q117: full scalar re-derivation over the real corpus") {
    val ev = graft.ops.Relational.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value")).collect()
    val expected = ev.groupBy(_.getAs[Long]("user_id")).flatMap { case (u, rows) =>
      val ordered = rows.sortBy(r =>
        (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id")))
      ordered.sliding(5).zipWithIndex.collect { case (frame, _) if frame.length == 5 =>
        val med = frame.map(_.getAs[Double]("value")).sorted.apply(2)
        ((u, frame.last.getAs[Long]("event_id")), med)
      }
    }.toMap
    val got = graft.ops.ScaleOps9.q117RollingMedian(spark, sf).collect()
      .map(r => ((r.getAs[Long]("user_id"), r.getAs[Long]("event_id")),
        r.getAs[Double]("med5"))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // --- q118 autocorrelation ------------------------------------------------

  test("q118: linearly growing daily volume has autocorrelation ≈ 1") {
    val dir = tempDir("q118-hand")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = for (day <- 0 until 8; k <- 0 to day) yield
      ((day * 100 + k).toLong,
        new java.sql.Timestamp(base + day * 86400000L + k * 1000L),
        1L, "click", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.ops.ScaleOps9.q118Autocorr(spark, dir.toString).head
    assert(r.getAs[Long]("n_pairs") == 7L)
    // counts 1..8: y = x+1 exactly → Pearson r = 1 up to the √·√ ulp
    assert(math.abs(r.getAs[Double]("autocorr") - 1.0) < 1e-12)
    // num = den1 = den2 for a unit-slope line
    assert(r.getAs[Long]("num") == r.getAs[Long]("den1"))
    assert(r.getAs[Long]("den1") == r.getAs[Long]("den2"))
  }

  test("q118: real data — all five types, |r| ≤ 1, near-full day chains") {
    val rows = graft.ops.ScaleOps9.q118Autocorr(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("autocorr")) <= 1.0)
      assert(r.getAs[Long]("n_pairs") >= 25L, s"${r.getString(0)} chain too short")
    }
  }

  // --- q121 Kolmogorov–Smirnov --------------------------------------------

  test("q121: independent ECDF re-derivation on collected values") {
    val ev = graft.ops.Relational.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("value")).collect()
    val clicks = ev.filter(_.getString(0) == "click").map(_.getDouble(1)).sorted
    val views = ev.filter(_.getString(0) == "view").map(_.getDouble(1)).sorted
    val points = (clicks ++ views).distinct.sorted
    def ecdf(xs: Array[Double], p: Double) =
      xs.count(_ <= p).toDouble / xs.length.toDouble
    val dExpected = points.map(p => math.abs(ecdf(clicks, p) - ecdf(views, p))).max
    val r = graft.ops.ScaleOps9.q121KsTest(spark, sf).head
    assert(r.getAs[Long]("n1") == clicks.length && r.getAs[Long]("n2") == views.length)
    assert(math.abs(r.getAs[Double]("ks_d") - dExpected) < 1e-15)
  }

  // --- q122 regression -----------------------------------------------------

  test("q122: hand series — exact slope and intercept for a 2-point daily line") {
    val dir = tempDir("q122-hand")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    Seq(
      (0L, new java.sql.Timestamp(base), 1L, "a", 1.0, "{}"),
      (1L, new java.sql.Timestamp(base + 86400000L), 1L, "a", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.ops.ScaleOps9.q122Regression(spark, dir.toString).head
    assert(r.getAs[Long]("n") == 2L)
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 1.0)
  }

  test("q122: moments law — num/den re-derived with BigInt from raw rows") {
    val raw = graft.ops.Relational.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value")).collect()
    val anchor = java.time.LocalDate.parse("2024-01-01")
    val byType = raw.groupBy(_.getString(0))
    val got = graft.ops.ScaleOps9.q122Regression(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    byType.foreach { case (tpe, rows) =>
      val xy = rows.map { r =>
        val x = BigInt(java.time.temporal.ChronoUnit.DAYS.between(
          anchor, r.getDate(1).toLocalDate))
        val yc = BigInt(new java.math.BigDecimal(r.getDouble(2))
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).longValueExact())
        (x, yc)
      }
      val n = BigInt(xy.length)
      val sx = xy.map(_._1).sum; val syc = xy.map(_._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val sxyc = xy.map(p => p._1 * p._2).sum
      val r = got(tpe)
      assert(BigInt(r.getAs[Long]("num")) == n * sxyc - sx * syc, s"$tpe num")
      assert(BigInt(r.getAs[Long]("den")) == n * sxx - sx * sx, s"$tpe den")
    }
  }
}
