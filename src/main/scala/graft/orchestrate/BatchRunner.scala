package graft.orchestrate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.ingest.Detect
import graft.ledger.Ledger
import graft.report.Report

/** Directory batch with checkpoint/resume/retry (reference `main` directory
  * arm src/file-to-sql-loader.py:1517-1659 + BatchJobManager :162-291).
  *
  * Each file is an independent commit scope; the ledger gives idempotent
  * resume: a re-run of the same directory finds the InProgress/Failed batch
  * (within the resume window), skips files whose job rows are Completed,
  * and processes the remainder. */
object BatchRunner {

  /** The parallel walk's containment guard (r15 advice): `run` already
    * absorbs Exceptions into Failed jobs; anything ELSE a file job
    * throws (Error classes a future would otherwise carry into
    * `Await.result`) becomes that file's Failed stub, so one file's
    * catastrophe never discards sibling groups' finished work from the
    * batch rollup or strands the batch row InProgress. Pinned by its
    * own spec because no file fixture can inject a non-Exception
    * Throwable through the real load path.
    *
    * Two Throwable classes are NOT contained (r16 advice): a
    * VirtualMachineError (OutOfMemoryError etc.) is rethrown — stubbing
    * it would run the ledger write on an already-dying JVM and let the
    * batch keep going in a corrupted process; an InterruptedException
    * still stubs (the file genuinely did not complete) but RESTORES the
    * thread's interrupt status first, so the cancellation the interrupt
    * carries is never silently swallowed — the next blocking call on
    * this worker sees it. */
  private[graft] def guarded(f: String,
      run: String => ProcessFile.FileJob,
      stub: (String, Option[Throwable]) => ProcessFile.FileJob)
      : ProcessFile.FileJob =
    try run(f) catch {
      case e: VirtualMachineError => throw e
      case e: InterruptedException =>
        Thread.currentThread().interrupt(); stub(f, Some(e))
      case t: Throwable => stub(f, Some(t))
    }

  final case class BatchOutcome(
      batchJobId: String,
      status: String,
      totalFiles: Long,
      processed: Long,
      failed: Long,
      jobs: Seq[ProcessFile.FileJob])

  def run(spark: SparkSession, inputDir: String, config: EngineConfig): BatchOutcome = {
    val allFiles = Detect.listFiles(spark, inputDir)
    val now = new java.sql.Timestamp(System.currentTimeMillis())

    // C5: resume or create (reference get_or_create_batch_job :170-229)
    val resumed: Option[BatchStats] =
      if (config.checkpointEnabled && config.resumeIncompleteBatches)
        Ledger.findResumableBatch(spark, inputDir, config.maxResumeAgeHours)
      else None

    val (batchId, isResumed) = resumed match {
      case Some(b) =>
        Ledger.writeBatchStats(spark, b.copy(IsResumed = true, BatchStatus = "InProgress",
          OriginalBatchJobID = b.OriginalBatchJobID.orElse(Some(b.BatchJobID))))
        (b.BatchJobID, true)
      case None =>
        val id = java.util.UUID.randomUUID().toString
        Ledger.writeBatchStats(spark, BatchStats(
          BatchJobID = id, DirectoryPath = inputDir, BatchStartTime = now,
          BatchEndTime = None, BatchStatus = "InProgress",
          TotalFiles = allFiles.size, FilesProcessed = 0, FilesFailed = 0,
          IsResumed = false, OriginalBatchJobID = None))
        (id, false)
    }

    // C4: pending = all − completed (anti-join; file set is driver-small —
    // one path string per file — so the difference runs driver-side). The
    // roll-up counts the earlier runs' files from their job rows, not from
    // the batch row, which a crashed run left at its start counts.
    val prior: Map[String, Ledger.LastJob] =
      if (isResumed) Ledger.lastJobs(spark, batchId) else Map.empty
    val done = prior.collect { case (f, j) if j.status != "Failed" => f }.toSet
    // a run that crashed between a file's ledger row and its move left a
    // Completed file in the inbox: finish the move, or the next batch
    // would load it again. A file modified after that job started is a
    // later arrival under the same name, not the file the job loaded: it
    // stays in the inbox for the next batch.
    val hconf = spark.sparkContext.hadoopConfiguration
    def modified(f: String): Long = {
      val p = new Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getModificationTime
    }
    allFiles.filter(f => done(f) && modified(f) <= prior(f).started.getTime)
      .flatMap(ProcessFile.moveFile(spark, _, "processed"))
      .foreach(m => System.err.println(s"$now ERROR $m"))
    val pending = allFiles.filterNot(done.contains)

    // J3: per-file retry loop — retries BOTH thrown errors and Failed
    // results; the file is only quarantined to error/ on the final attempt
    val maxAttempts = math.max(1, config.maxRetries)
    def processOne(f: String): ProcessFile.FileJob = {
      var attempt = 0
      var job: ProcessFile.FileJob = null
      var lastErr: Option[Throwable] = None
      while (attempt < maxAttempts &&
          (job == null || job.result.status == "Failed")) {
        attempt += 1
        val isFinal = attempt == maxAttempts
        try {
          job = ProcessFile.run(spark, f, config, Some(batchId),
            moveOnFailure = isFinal)
        } catch {
          case e: Exception => lastErr = Some(e)
        }
      }
      if (job == null) job = failedStub(f, lastErr)
      job
    }

    // failed-stats stub (reference :1368-1384) — shared by the retry
    // loop's all-attempts-threw path and the parallel walk's
    // unexpected-Throwable guard below
    def failedStub(f: String, err: Option[Throwable]): ProcessFile.FileJob = {
      val r = LoadResult("Failed", -1, 0, 0, -1, err.map(_.getMessage))
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      ProcessFile.recordJob(spark, config, java.util.UUID.randomUUID().toString, ts, ts,
        f, "", r, Some(batchId))
      ProcessFile.FileJob("", f, "", r, "")
    }

    // batch_processing.parallelism (beyond-reference, r14 verdict #8):
    // at 1 the driver loop is the reference's sequential walk; above 1,
    // files are grouped by TARGET TABLE (the same pure path+config
    // derivation ProcessFile.run uses, so the grouping cannot disagree
    // with the job) and the groups run on a bounded pool. Within one
    // table the files stay strictly sequential in listing order —
    // drop_recreate/append ordering, retries, quarantine moves, and
    // per-file ledger rows are exactly the sequential behavior; only
    // INDEPENDENT tables overlap. Ledger appends publish under Ledger's
    // own lock (the one cross-thread shared sink). The ledger rows
    // are per-file and idempotent, so resume semantics are unchanged:
    // a crash mid-parallel-batch leaves Completed rows for whatever
    // finished, and the next run processes the remainder.
    def targetTableOf(f: String): String = {
      val stem = graft.analyze.Ddl.tableName(f)
      config.overridesFor(stem).overrideTableName.getOrElse(stem)
    }
    val jobByFile: Map[String, ProcessFile.FileJob] =
      if (config.batchParallelism <= 1 || pending.size <= 1)
        pending.map(f => f -> processOne(f)).toMap
      else {
        val groups = pending.groupBy(targetTableOf).values.toSeq
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(config.batchParallelism, groups.size)))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        // every per-file call is wrapped so an UNEXPECTED Throwable
        // (processOne's retry loop already absorbs Exceptions) surfaces
        // as that file's Failed stub instead of rethrowing through
        // Await.result — which would discard completed sibling groups'
        // jobs from the E3 rollup and strand the batch row InProgress
        // (r15 advice: the sequential walk's failure blast radius was
        // one file; the parallel walk's must not include other tables'
        // finished work)
        try
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(groups.map(fs =>
              scala.concurrent.Future(fs.map(f =>
                f -> guarded(f, processOne, failedStub))))),
            scala.concurrent.duration.Duration.Inf).flatten.toMap
        finally pool.shutdown()
      }
    // jobs surface in listing order regardless of completion order, so
    // the outcome (and the rendered report) is parallelism-invariant
    val jobs = pending.map(jobByFile)
    val statuses = prior.map { case (f, j) => f -> j.status } ++
      jobs.map(j => j.sourceFile -> j.result.status)
    val failed = statuses.values.count(_ == "Failed").toLong
    val processed = statuses.size - failed
    val totalFiles = (allFiles.toSet ++ prior.keySet).size.toLong

    // E3: roll-up + final status (reference :1601-1638)
    val status =
      if (failed > 0 && processed == 0) "Failed"
      else if (failed > 0) "CompletedWithErrors"
      else "Completed"
    Ledger.writeBatchStats(spark, BatchStats(
      BatchJobID = batchId, DirectoryPath = inputDir,
      BatchStartTime = resumed.map(_.BatchStartTime).getOrElse(now),
      BatchEndTime = Some(new java.sql.Timestamp(System.currentTimeMillis())),
      BatchStatus = status, TotalFiles = totalFiles,
      FilesProcessed = processed, FilesFailed = failed,
      IsResumed = isResumed,
      OriginalBatchJobID = resumed.flatMap(_.OriginalBatchJobID)))

    val outcome = BatchOutcome(batchId, status, totalFiles, processed, failed, jobs)
    if (config.emailEnabled)
      Report.writeBatchReport(spark, outcome, config)
    outcome
  }
}
