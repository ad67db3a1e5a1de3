package graft

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: one warmup pass at sf0.001 first (JIT + codegen compile +
  * interpreted-HOF warmup would otherwise land entirely on whichever heavy
  * query runs first — measured ~10s of one-time cost), then each query is
  * timed at the target SF with the SQL cache cleared so per-query numbers
  * don't hide cross-query cache reuse.
  *
  * Artifact-cache pinning (r16 verdict #2): the stamped artifacts live
  * in the [[graft.core.StampedArtifact.families]] directories under the
  * JVM temp dir, keyed by corpus signature, and persist
  * ACROSS JVMs, so [[SparkEntry.artifactQueries]] used to read bimodal
  * across runs — a clean-tmpdir run paid the rebuild (seconds), a warm
  * one a metadata load (ms), and window medians mixed the two states.
  * The pinned protocol (default): CLEAR the `graft_*` roots, run each
  * artifact arm once at the target SF labeled `"metric":"query_cold"`
  * (the rebuild cost, from a clean root), then run the timed suite —
  * which now measures the WARM mode for every run alike. Both modes
  * land in the output, separately labeled. SPARK_GRAFT_BENCH_ARTIFACTS
  * =asis restores the legacy run-against-whatever-the-host-had
  * behavior. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = Sessions.create("graft-bench")

    val artifactMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARTIFACTS", "warm")
    if (artifactMode != "asis") graft.core.StampedArtifact.clearAll()

    // SPARK_GRAFT_BENCH_ORDER=reverse runs the suite back-to-front: used
    // for clean re-measurement (run-order/JIT drift shows up as a
    // forward-vs-reverse split on the same build; a real plan regression
    // shows up in both orderings).
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val queries =
      if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse")) sorted.reverse
      else sorted
    queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()

    // Per-query lines are emitted as each query completes: every line is
    // short and independently parseable, so a bounded tail capture always
    // holds complete records even if it can't hold the whole run. The final
    // summary line uses 4-decimal values to stay compact at any query
    // count (the r6 full-precision 71-query line outgrew the driver's tail
    // buffer and the round lost its machine-readable record).
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma decimal separator (de_DE etc.) would corrupt these
    // machine-parsed JSON lines — the exact failure this format exists to
    // prevent
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // A thrown query must NEVER masquerade as a fast one: the r8 driver
    // bench recorded 10 broken queries at 54–92 ms because the error path
    // was timed like a success. Failures record value -1 with an explicit
    // "err" field, and are excluded from the total.
    def errMsg(e: Throwable): String = {
      val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      m.take(160).map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c)
    }
    // COLD pass (r16 verdict #2): each artifact arm once at the target
    // SF against the just-cleared roots — the rebuild cost, labeled
    // "query_cold" so window parsers never mix it into the warm
    // medians. Side effect is the point: the artifacts (and their
    // in-JVM memos) are warm when the timed loop reaches them.
    if (artifactMode != "asis") {
      SparkEntry.artifactQueries.toSeq.sorted.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          val t0 = System.nanoTime()
          val outcome = try { fn(spark, sfDir).count(); None }
                        catch { case e: Throwable => Some(e) }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          outcome match {
            case None => println(
              s"""{"metric":"query_cold","name":"$name","value":${fmt(dt)},"unit":"sec"}""")
            case Some(e) => println(
              s"""{"metric":"query_cold","name":"$name","value":-1,"unit":"sec","err":"${errMsg(e)}"}""")
          }
        }
      }
    }
    val results = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val outcome = try { fn(spark, sfDir).count(); None }
                    catch { case e: Throwable => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      outcome match {
        case None =>
          println(s"""{"metric":"query","name":"$name","value":${fmt(dt)},"unit":"sec"}""")
          name -> dt
        case Some(e) =>
          println(s"""{"metric":"query","name":"$name","value":-1,"unit":"sec","err":"${errMsg(e)}"}""")
          name -> -1.0
      }
    }
    // The driver records only a bounded TAIL of this process's stdout
    // (2000 chars, measured in BENCH_r08/r09.json): the r8 short-key
    // 4-decimal summary (~13.3 B/query) outgrew it at 148 queries — the
    // window started MID-LINE and r9's driver record lost q01–q06 with
    // parsed:null. Three defenses, all needed:
    //  1. Per-query full-precision records are re-emitted immediately
    //     before the summary, so the tail always ends in complete,
    //     independently parseable JSON lines at any query count.
    //  2. The summary map is maximally compact: bare-number keys ("101",
    //     not "q101_png") and INTEGER-MILLISECOND values ("qunit":"ms") —
    //     ~9.5 B/query, 1.5 KB at 148 queries. Full precision lives on the
    //     per-query lines; the summary is the driver's index of record.
    //  3. A HARD 1800-byte bound: if the map ever outgrows it (~190
    //     queries), the map is split across "total_part" chunk lines and
    //     the DEAD-LAST "total" line carries only totals+errors — bounded
    //     forever, so growth degrades the record's shape, never its
    //     parseability.
    results.foreach { case (name, dt) =>
      val v = if (dt < 0) "-1" else fmt(dt)
      println(s"""{"metric":"query","name":"$name","value":$v,"unit":"sec"}""")
    }
    def numKey(name: String): String = name.split("_")(0).stripPrefix("q")
    val keys = results.map { case (k, _) => numKey(k) }
    // Fall back to full names if a bare-number key ever collides (never
    // expected: names are qNN_label with unique NN) rather than silently
    // dropping data.
    val useNum = keys.distinct.size == results.size
    val entries = results.map { case (k, v) =>
      "\"" + (if (useNum) numKey(k) else k) + "\":" +
        (if (v < 0) "-1" else math.round(v * 1000).toString)
    }
    // Failed queries (value -1) are excluded from the total and counted
    // explicitly — a partially-broken run can never read as a fast one.
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val nErr = results.size - ok.size
    val total = if (ok.nonEmpty) ok.sum else 0.0
    val head = s""""value":${fmt(total)},"unit":"sec","errors":$nErr,"n":${results.size},"qunit":"ms","sf":"$sfDir""""
    val oneLine = s"""{"metric":"total",$head,"queries":${entries.mkString("{", ",", "}")}}"""
    if (oneLine.length <= 1800) println(oneLine)
    else {
      // chunk the map into ≤1500-byte complete JSON lines, then the
      // bounded totals line dead last
      var chunk = List.empty[String]; var size = 0; var part = 0
      def flush(): Unit = if (chunk.nonEmpty) {
        println(s"""{"metric":"total_part","part":$part,"qunit":"ms","queries":${chunk.reverse.mkString("{", ",", "}")}}""")
        part += 1; chunk = Nil; size = 0
      }
      entries.foreach { e =>
        if (size + e.length > 1500) flush()
        chunk = e :: chunk; size += e.length + 1
      }
      flush()
      println(s"""{"metric":"total",$head,"parts":$part}""")
    }
    spark.stop()
  }
}
