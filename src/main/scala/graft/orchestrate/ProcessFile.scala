package graft.orchestrate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.core._
import graft.ingest.{Detect, Reader}
import graft.analyze.{Analyze, Ddl}
import graft.load.Loader
import graft.ledger.Ledger

/** The single-file job (reference `process_file`
  * src/file-to-sql-loader.py:1386-1500): detect → read → profile → infer →
  * table-mode handling → load → stats → lifecycle move. Every data-touching
  * step is a distributed DataFrame op; only sniffing, DDL and ledger writes
  * run on the driver. */
object ProcessFile {

  final case class FileJob(
      jobRunId: String,
      sourceFile: String,
      targetTable: String,
      result: LoadResult,
      ddl: String)

  /** @param moveOnFailure quarantine the file to error/ on failure; the
    *        batch runner passes false for non-final retry attempts so the
    *        source file is still in place for the next attempt.
    * @param sink where loaded tables land — the session catalog by
    *        default, or a [[graft.load.JdbcSink]] for the reference's
    *        SQL-Server target. */
  def run(spark: SparkSession, filePath: String, config: EngineConfig,
      batchJobId: Option[String] = None, moveOnFailure: Boolean = true,
      sink: graft.load.TableSink = graft.load.CatalogSink): FileJob = {
    val jobRunId = java.util.UUID.randomUUID().toString
    val start = new java.sql.Timestamp(System.currentTimeMillis())
    val fmt = Detect.detect(spark, filePath)
    val raw = Reader.read(spark, filePath, fmt)

    val stem = Ddl.tableName(filePath)
    val overrides = config.overridesFor(stem)
    val table = overrides.overrideTableName.getOrElse(stem)

    // A6: empty input — upsert ⇒ success no-op, others ⇒ fail (:1420-1432);
    // the row count and the NOT NULL gate's bad count ride the profile
    // aggregate, so neither needs a job of its own
    val notNull = config.notNullColumns.getOrElse(table, Nil)
    val profile =
      if (raw.columns.isEmpty) Analyze.FileProfile(0L, Nil, NotNullGate(notNull, 0L))
      else Analyze.profile(raw, notNull)
    if (profile.rows == 0) {
      val (status, err) =
        if (config.tableMode == TableMode.Upsert) ("Completed", None)
        else ("Failed", Some("empty input file"))
      val result = LoadResult(status, 0, 0, 0, 0, err)
      finish(spark, filePath, jobRunId, table, start, result, config, batchJobId, None,
        moveOnFailure)
      return FileJob(jobRunId, filePath, table, result, "")
    }

    val inferred = Analyze.inferSchema(profile.columns, overrides, notNull)
    val types = inferred.map { case (p, t, _) => (p.name, t) }
    val ddl = Ddl.render(table, inferred.map { case (p, t, n) => (p.name, t, n) })

    val (result, badRows) =
      try {
        val casted = Analyze.castPlan(Reader.withRowIndex(raw),
          types :+ ("_row_idx" -> InferredType.BigIntType))
        Loader.load(spark, casted, table, config, profile.notNull, sink)
      } catch {
        case e: Exception =>
          (LoadResult("Failed", -1, 0, 0, -1, Some(e.getMessage)), None)
      }

    finish(spark, filePath, jobRunId, table, start, result, config, batchJobId, badRows,
      moveOnFailure)
    FileJob(jobRunId, filePath, table, result, ddl)
  }

  /** The one place an EtlJobStatistics row is built (this job's, or the
    * batch runner's stub for a file whose every attempt threw). */
  private[orchestrate] def recordJob(spark: SparkSession, config: EngineConfig,
      jobRunId: String, start: java.sql.Timestamp, end: java.sql.Timestamp,
      filePath: String, table: String, result: LoadResult,
      batchJobId: Option[String]): Unit =
    if (config.jobStatisticsEnabled)
      Ledger.writeJobStats(spark, JobStats(
        JobRunID = jobRunId, JobStartTime = start, JobEndTime = end,
        JobDurationSeconds = (end.getTime - start.getTime) / 1000,
        JobStatus = result.status, SourceFile = filePath, TargetTable = table,
        RowsRead = result.rowsRead, RowsInserted = result.rowsInserted,
        RowsUpdated = result.rowsUpdated, RowsFailed = result.rowsErrored,
        ErrorMessage = result.errorMessage, BatchJobID = batchJobId,
        TableMode = config.tableMode.name, TransactionMode = config.transactionMode.name))

  private def finish(spark: SparkSession, filePath: String, jobRunId: String,
      table: String, start: java.sql.Timestamp, result: LoadResult,
      config: EngineConfig, batchJobId: Option[String],
      badRows: Option[DataFrame], moveOnFailure: Boolean = true): Unit = {
    val end = new java.sql.Timestamp(System.currentTimeMillis())

    recordJob(spark, config, jobRunId, start, end, filePath, table, result, batchJobId)

    if (config.errorLoggingEnabled) badRows.foreach(logBadRows(spark, filePath, jobRunId, table, _))

    // I10: file lifecycle — success ⇒ processed/, failure ⇒ error/
    // (skipped for non-final retry attempts). The load has committed, so a
    // file that cannot move is reported, not thrown.
    val stranded =
      if (result.status != "Failed") moveFile(spark, filePath, "processed")
      else if (moveOnFailure) moveFile(spark, filePath, "error")
      else None
    stranded.foreach(m => System.err.println(s"$end ERROR $m"))

    // J5: per-file log artifact — the greppable processing trace the
    // reference writes via setup_file_specific_logging
    // (src/file-to-sql-loader.py:69-101: process_<stem>_<id>.log in the
    // logs dir next to the source). Driver-side, tiny, best-effort.
    writeFileLog(spark, filePath, jobRunId, table, start, end, result, batchJobId, stranded)
  }

  /** One read of the bad rows feeds both the error ledger and the
    * row-level quarantine dump (reference logs/<stem>_<jobrun>.txt
    * :1049-1058). A dump line is `to_json` of the whole bad row, the
    * generator Spark's JSON writer uses. `toLocalIterator` holds one
    * partition at a time on the driver, within the error budget or over
    * it, and the read runs outside the ledger's lock. */
  private def logBadRows(spark: SparkSession, filePath: String, jobRunId: String,
      table: String, bad: DataFrame): Unit = {
    val data = bad.columns.filterNot(_ == "_row_idx").map(ColumnRef(_)).toSeq
    val rows = bad.select(col("_row_idx"), to_json(struct(data: _*)),
      to_json(struct(bad.columns.map(ColumnRef(_)).toSeq: _*))).toLocalIterator().asScala
    if (rows.hasNext) {
      val logged = new java.sql.Timestamp(System.currentTimeMillis())
      val dump = moveTargetDir(spark, filePath, "logs").map { logs =>
        val p = new Path(s"$logs/${Ddl.tableName(filePath)}_$jobRunId/part-00000.json")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        new java.io.BufferedWriter(new java.io.OutputStreamWriter(fs.create(p, true),
          java.nio.charset.StandardCharsets.UTF_8))
      }
      try Ledger.writeErrors(spark, rows.map { r =>
        dump.foreach(_.write(r.getString(2) + "\n"))
        JobError(ErrorID = java.util.UUID.randomUUID().toString, JobRunID = jobRunId,
          TableName = table, ColumnName = "", ErrorType = "constraint_violation",
          ErrorMessage = "NOT NULL constraint violated", ErrorTimestamp = logged,
          SourceFile = filePath, RowNumber = r.getLong(0), RawValue = r.getString(1))
      })
      finally dump.foreach(_.close())
    }
  }

  private def writeFileLog(spark: SparkSession, filePath: String, jobRunId: String,
      table: String, start: java.sql.Timestamp, end: java.sql.Timestamp,
      result: LoadResult, batchJobId: Option[String], stranded: Option[String]): Unit =
    try {
      moveTargetDir(spark, filePath, "logs").foreach { logs =>
        val stem = Ddl.tableName(filePath)
        val dir = new Path(logs)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(dir)) fs.mkdirs(dir)
        val lines = Seq(
          s"$start INFO job_run_id=$jobRunId",
          s"$start INFO source_file=$filePath",
          s"$start INFO target_table=$table" +
            batchJobId.map(b => s" batch_job_id=$b").getOrElse(""),
          s"$end ${if (result.status == "Failed") "ERROR" else "INFO"} " +
            s"status=${result.status} rows_read=${result.rowsRead} " +
            s"rows_inserted=${result.rowsInserted} rows_updated=${result.rowsUpdated} " +
            s"rows_failed=${result.rowsErrored}" +
            result.errorMessage.map(m => s" error=$m").getOrElse(""),
          s"$end INFO duration_seconds=${(end.getTime - start.getTime) / 1000}") ++
          stranded.map(m => s"$end ERROR $m")
        val out = fs.create(new Path(dir, s"process_${stem}_$jobRunId.log"), true)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
    } catch { case _: Exception => () } // logging must never fail the job

  private def moveTargetDir(spark: SparkSession, filePath: String, sub: String)
      : Option[String] = {
    val p = new Path(filePath)
    Option(p.getParent).map(parent => new Path(parent, sub).toString)
  }

  /** Moves the file into `sub/` next to it, replacing an older file of the
    * same name there (the reference's `os.rename`). Returns the error when
    * the file is still in place, since the next run would load it again. */
  private[orchestrate] def moveFile(spark: SparkSession, filePath: String, sub: String)
      : Option[String] = {
    val p = new Path(filePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(p.getParent).flatMap { parent =>
      val dir = new Path(parent, sub)
      if (!fs.exists(dir)) fs.mkdirs(dir)
      val dest = new Path(dir, p.getName)
      if (fs.exists(dest)) fs.delete(dest, false)
      if (fs.rename(p, dest)) None
      else Some(s"could not move $filePath to $dest; it stays in the inbox")
    }
  }
}
