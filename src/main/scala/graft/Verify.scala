package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // aid — the driver always invokes with exactly two args = full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Schema-drift canary FIRST: if the driver's tables changed shape under
    // the engine (the r8 events regression), say so in one pointed line per
    // drift before any query failure noise.
    val drift = Schemas.check(spark, sfDir) ++ Schemas.checkEmbeddingDim(spark, sfDir)
    drift.foreach(d => System.err.println(s"[verify][SCHEMA DRIFT] $d"))
    // A failed dump must not let the correctness surface SHRINK silently
    // (r8: 10 queries vanished from the driver's file with only stderr
    // noise). Every failure lands in _failed.json and forces exit 1.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      }
      // the dedup-family queries register cached candidate intermediates
      // (the freeCandidateCaches contract); free per query like Bench's
      // clearCache so a 78-query run doesn't accumulate 7+ exploded
      // shingle tables in executor storage
      graft.dedup.Dedup.freeCandidateCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dir-keyed: the q35/q66 centroid-literal mirrors are built for
    // exactly the corpus this dump ran, immune to any other corpus
    // trained in the same JVM
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      val fj = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_failed.json"), fj)
      System.err.println(s"[verify] ${failed.size} of ${SparkEntry.queries.size} dumps FAILED: ${failed.keys.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
