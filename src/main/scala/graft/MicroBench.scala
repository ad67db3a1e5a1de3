package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A/B micro-benchmark for operator-routing decisions (not part of the
  * driver contract). Each arm is a [[SparkEntry.queries]] name with
  * optional session conf settings, e.g. `q114_triangles` and
  * `q114_triangles@graft.triangles.bloomMaxEdges=0` (comma-separated
  * `k=v` pairs, set for that arm's run and restored after it). Arms are
  * timed interleaved A,B,A,B,… so JIT/IO drift hits both equally — the
  * per-round bench showed that back-to-back blocks of the same query can
  * differ 2-5x on a shared host purely from run order, which is exactly
  * the mistake this harness avoids.
  *
  * Usage: `runMain graft.MicroBench <sfDir> <reps> [--explain <outDir>]
  * <arm>...`. With `--explain`, each arm's formatted physical plan is
  * written to `<outDir>/<arm>.txt` instead of timing it. */
object MicroBench {

  final case class Arm(name: String, query: String, settings: Seq[(String, String)])

  /** Parse `query[@k=v,k=v...]`; throws IllegalArgumentException on an
    * unknown query or a malformed setting. */
  def parseArm(spec: String): Arm = {
    val (query, conf) = spec.split("@", 2) match {
      case Array(q) => (q, None)
      case Array(q, c) => (q, Some(c))
    }
    require(SparkEntry.queries.contains(query), s"unknown query '$query' in arm '$spec'")
    val settings = conf.toSeq.flatMap(_.split(",", -1)).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"malformed setting '$kv' in arm '$spec' (expected k=v)")
      }
    }
    Arm(spec, query, settings)
  }

  /** Run `f` with the arm's settings applied, restoring the previous
    * values (or unsetting) afterwards. */
  private def withSettings[T](spark: SparkSession, arm: Arm)(f: => T): T = {
    val saved = arm.settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    arm.settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, old) => old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val usage =
    "usage: MicroBench <sfDir> <reps> [--explain <outDir>] <arm>... " +
      "(arm = query or query@k=v,k=v)"

  def main(args: Array[String]): Unit = {
    val parsed = try {
      require(args.length >= 3, usage)
      val reps = args(1).toIntOption.filter(_ > 0)
        .getOrElse(throw new IllegalArgumentException(s"reps must be a positive integer, got '${args(1)}'"))
      val (explainDir, armSpecs) = args.drop(2).toSeq match {
        case "--explain" +: dir +: rest => (Some(dir), rest)
        case rest => (None, rest)
      }
      require(armSpecs.nonEmpty, usage)
      (args(0), reps, explainDir, armSpecs.map(parseArm))
    } catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[microbench] ${e.getMessage}")
        sys.exit(2)
    }
    val (sfDir, reps, explainDir, arms) = parsed

    val spark = Sessions.create("graft-microbench")
    def build(arm: Arm): DataFrame = SparkEntry.queries(arm.query)(spark, sfDir)

    explainDir match {
      case Some(dir) =>
        new java.io.File(dir).mkdirs()
        arms.foreach { arm =>
          val txt = withSettings(spark, arm)(build(arm).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          val f = new java.io.File(dir, s"${arm.name}.txt")
          java.nio.file.Files.writeString(f.toPath, txt)
          println(s"EXPLAIN ${arm.name} -> $f (${txt.length} chars)")
        }
      case None =>
        arms.foreach(arm => withSettings(spark, arm)(build(arm).count()))
        spark.catalog.clearCache()
        val times = Array.fill(arms.size)(List.empty[Double])
        for (_ <- 1 to reps; (arm, i) <- arms.zipWithIndex) {
          val dt = withSettings(spark, arm) {
            val t0 = System.nanoTime()
            build(arm).count()
            (System.nanoTime() - t0) / 1e9
          }
          spark.catalog.clearCache()
          times(i) = times(i) :+ dt
        }
        arms.zip(times).foreach { case (arm, ts) =>
          val sorted = ts.sorted
          println(f"MICRO ${arm.name}%-12s median=${sorted(sorted.size / 2)}%.3f " +
            f"min=${sorted.head}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
    }
    spark.stop()
  }
}
