package graft.pipeline

/** CLI for the one-call training-data pipeline:
  *
  * {{{
  * runMain graft.pipeline.PipelineMain <docs.parquet> <outDir> [test.parquet]
  * }}}
  *
  * Runs [[TrainingPipeline.curateToTraining]] (production curation preset)
  * over the documents table, optionally decontaminating against a test
  * parquet, writes the packed corpus partitioned by split to
  * `<outDir>/packed` plus the hash-sharded training-release layout to
  * `<outDir>/shards` ([[TrainingPipeline.writeSharded]] — one ledger row
  * per shard with the q169 skew readout), and prints one line per stage
  * (the same counts land in the job-statistics ledger under the printed
  * run id). */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: PipelineMain <docs.parquet> <outDir> [test.parquet]")
      sys.exit(1)
    }
    val Array(docsPath, outDir) = args.take(2)
    val spark = graft.Sessions.create("graft-pipeline")
    try {
      val docs = spark.read.parquet(docsPath)
      val test = args.lift(2).map(spark.read.parquet(_))
      val r = TrainingPipeline.curateToTraining(spark, docs, test)
      r.stages.foreach { s =>
        println(f"[pipeline] ${s.stage}%-16s in=${s.rowsIn}%9d out=${s.rowsOut}%9d dropped=${s.rowsIn - s.rowsOut}%8d")
      }
      r.packed.write.mode("overwrite").partitionBy("split")
        .parquet(s"$outDir/packed")
      println(s"[pipeline] run ${r.runId}: packed corpus written to $outDir/packed")
      // writer stage: the training-release layout — hash-sharded files a
      // loader streams, with the per-shard balance readout in the ledger.
      // With SPARK_GRAFT_TARGET_BYTES set, leaf files are byte-targeted
      // per shard through the EXPLICIT text-column measure
      // (releaseShardedByBytes — the release never pays the row-wide
      // JSON measure proxy); otherwise the fixed one-file-per-shard
      // layout.
      val stats = sys.env.get("SPARK_GRAFT_TARGET_BYTES") match {
        case Some(tb) =>
          // validate the env var HERE with its name in the error (r16
          // advice): a bare toLong would crash the pipeline with an
          // uncontextualized NumberFormatException, and a non-positive
          // value would feed targetBytes <= 0 into the shard writer
          val target = try tb.trim.toLong catch {
            case _: NumberFormatException => sys.error(
              s"SPARK_GRAFT_TARGET_BYTES must be a positive long " +
                s"(bytes per shard leaf file), got '$tb'")
          }
          require(target > 0,
            s"SPARK_GRAFT_TARGET_BYTES must be positive, got $target")
          TrainingPipeline.releaseShardedByBytes(spark, r.packed,
            s"$outDir/shards", target, runId = r.runId)
        case None =>
          TrainingPipeline.writeSharded(spark, r.packed,
            s"$outDir/shards", runId = r.runId)
      }
      val worst = stats.maxBy(s => math.abs(s.skewPpm))
      println(s"[pipeline] ${stats.size} shards written to $outDir/shards " +
        s"(worst skew: shard ${worst.shard} at ${worst.skewPpm} ppm)")
      r.free()
    } finally spark.stop()
  }
}
