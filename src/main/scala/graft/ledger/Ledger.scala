package graft.ledger

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{BatchStats, JobError, JobStats}

/** Job/batch ledger — the reference's three system tables
  * (EtlJobStatistics :511-525, EtlJobError :548-557,
  * EtlBatchJobStatistics :574-588 + resume columns :258-284) as Spark
  * catalog parquet tables.
  *
  * Design: APPEND-ONLY. The reference mutates its batch row in place
  * (`UPDATE … SET FilesProcessed…`, :1628-1633); an in-place update of a
  * distributed table is an anti-pattern, so state transitions append a new
  * version row and readers resolve current state last-wins by
  * `_version_ts` — the same ledger idiom the engine's own upsert teaches.
  * All three tables are tiny relative to data volume (one row per
  * file-job / error / batch transition).
  *
  * Write path: an append is one parquet file that the driver writes into
  * the table's directory, with no Spark job. The rows are encoded by the
  * table's [[JobStats]] / [[JobError]] / [[BatchStats]] encoder, in its
  * column order, plus `_version_ts` on the two versioned tables. The file
  * goes through Spark's own parquet writer factory, which takes the
  * timestamp type, legacy format and compression from the session, so a
  * driver-written file encodes like one an `insertInto` wrote and both can
  * sit in one table.
  *
  * Publish: the file is written under a `_`-prefixed name, which Spark's
  * file listing skips, then renamed to `part-<uuid>.<codec>.parquet`, and
  * the table is refreshed. A reader sees a whole append or none of it, and
  * a crash before the rename leaves no visible row.
  *
  * No stats: the tables are created empty (`CREATE TABLE … USING parquet`,
  * not a create-as-select), so the catalog records no size, and nothing
  * records one later. The planner sizes a ledger table from its files,
  * which the refresh re-lists, instead of from a catalog figure that the
  * appends would leave stale.
  *
  * The tables are checked (and created if missing) once per
  * `SparkSession`. An append first checks that the table's directory is
  * still there: dropping a managed table deletes it, so a table dropped
  * mid-session is re-created as a managed table before the new file is
  * written. A table dropped with its directory kept is found missing by
  * the refresh, after the rename; it is then re-attached over that
  * directory, new file included. The row is never written twice.
  */
object Ledger {

  val JobStatsTable  = "etl_job_statistics"
  val JobErrorTable  = "etl_job_error"
  val BatchStatsTable = "etl_batch_job_statistics"

  /** Serializes the ledger's catalog work across driver threads (the
    * parallel batch runner, r15): `ensureTables`' exists-then-create, a
    * drop check and the re-creation it may start, and each append's
    * rename and refresh. The append's file itself is written outside the
    * lock under a name no other append uses, so a long error-row read
    * does not hold up other tables' loads. Data loads never hold it (the
    * batch runner keeps same-target-table files sequential instead). */
  private val writeLock = new Object

  /** One ledger table: its name, its columns and how a row is encoded.
    * The schema keeps the encoder's nullability, as an `insertInto` of the
    * encoded rows would write it. */
  private final class Table[T](val name: String, encoder: ExpressionEncoder[T],
      versioned: Boolean) {
    val schema: StructType = StructType(encoder.schema.fields ++
      (if (versioned) Seq(StructField("_version_ts", LongType, nullable = false)) else Nil))

    /** The rows as the table's columns; one `_version_ts` per append. */
    def encode(rows: Iterator[T]): Iterator[InternalRow] = {
      val toRow = encoder.createSerializer()
      if (!versioned) rows.map(toRow)
      else {
        val version = InternalRow(System.nanoTime())
        rows.map(r => new JoinedRow(toRow(r), version))
      }
    }
  }

  private val JobStatsT = new Table(JobStatsTable, ExpressionEncoder[JobStats](), versioned = true)
  private val JobErrorT = new Table(JobErrorTable, ExpressionEncoder[JobError](), versioned = false)
  private val BatchStatsT =
    new Table(BatchStatsTable, ExpressionEncoder[BatchStats](), versioned = true)
  private val Tables = Seq(JobStatsT, JobErrorT, BatchStatsT)

  /** Each session's table directories, once its three tables are known to
    * exist. Guarded by [[writeLock]]; weak, so a stopped session does not
    * stay reachable. */
  private val dirs = new java.util.WeakHashMap[SparkSession, Map[String, Path]]()

  /** Create-if-missing for the three catalog tables, once per session. */
  def ensureTables(spark: SparkSession): Unit = tableDirs(spark)

  private def tableDirs(spark: SparkSession): Map[String, Path] = writeLock.synchronized {
    Option(dirs.get(spark)).getOrElse {
      val found = Tables.map(t => t.name -> ensure(spark, t)).toMap
      dirs.put(spark, found)
      found
    }
  }

  /** Creates `t` empty if it is missing and returns its directory. */
  private def ensure(spark: SparkSession, t: Table[_]): Path = {
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(t.name)
    if (!catalog.tableExists(id)) {
      val cols = t.schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      try spark.sql(s"CREATE TABLE `${t.name}` ($cols) USING parquet")
      catch {
        // catalog lost but warehouse data survived (e.g. in-memory catalog
        // across JVMs): re-attach the existing location as the table
        case e: Exception if Option(e.getMessage).exists(_.contains("LOCATION_ALREADY_EXISTS")) =>
          spark.sql(s"CREATE TABLE `${t.name}` ($cols) USING parquet " +
            s"LOCATION '${catalog.defaultTablePath(id)}'")
      }
    }
    new Path(catalog.getTableMetadata(id).location)
  }

  private def forget(spark: SparkSession): Unit = writeLock.synchronized(dirs.remove(spark))

  private def notFound(e: AnalysisException): Boolean =
    e.getCondition == "TABLE_OR_VIEW_NOT_FOUND"

  // --- sinks (I11-I13) --------------------------------------------------

  /** Appends `rows` to `t` as one new file; no file if there are none. */
  private def append[T](spark: SparkSession, t: Table[T], rows: Iterator[T]): Unit =
    if (rows.hasNext) {
      val hidden = writeHidden(spark, liveDir(spark, t), t.schema, t.encode(rows))
      publish(spark, t, hidden)
    }

  /** `t`'s directory, re-creating the table first if it was dropped. */
  private def liveDir(spark: SparkSession, t: Table[_]): Path = writeLock.synchronized {
    val dir = tableDirs(spark)(t.name)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) dir
    else { forget(spark); tableDirs(spark)(t.name) }
  }

  /** Writes `rows` into `dir` as one parquet file under a hidden name, with
    * the writer a Spark table write uses under this session's settings. */
  private def writeHidden(spark: SparkSession, dir: Path, schema: StructType,
      rows: Iterator[InternalRow]): Path = {
    val conf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, schema,
      new ParquetOptions(Map.empty[String, String], conf))
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("ledger", 0), TaskType.MAP, 0), 0))
    val file = new Path(dir, s"_part-${UUID.randomUUID()}${factory.getFileExtension(task)}")
    val out = factory.newInstance(file.toString, schema, task)
    try { rows.foreach(out.write); out.close() }
    catch {
      case e: Throwable =>
        scala.util.Try(out.close())
        file.getFileSystem(job.getConfiguration).delete(file, false)
        throw e
    }
    file
  }

  /** Makes the hidden file visible and refreshes the table's listing. */
  private def publish(spark: SparkSession, t: Table[_], hidden: Path): Unit =
    writeLock.synchronized {
      val fs = hidden.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val visible = new Path(hidden.getParent, hidden.getName.stripPrefix("_"))
      if (!fs.rename(hidden, visible))
        throw new java.io.IOException(s"could not rename $hidden to $visible")
      try spark.catalog.refreshTable(t.name)
      catch {
        // dropped with its directory kept: re-attached with the new file
        case e: AnalysisException if notFound(e) => forget(spark); ensureTables(spark)
      }
    }

  def writeJobStats(spark: SparkSession, stats: JobStats): Unit =
    append(spark, JobStatsT, Iterator(stats))

  /** Appends the error rows as one file. The iterator is read once, outside
    * the ledger's lock, so a caller may stream rows from a Spark job. */
  def writeErrors(spark: SparkSession, errors: Iterator[JobError]): Unit =
    append(spark, JobErrorT, errors)

  def writeBatchStats(spark: SparkSession, b: BatchStats): Unit =
    append(spark, BatchStatsT, Iterator(b))

  // --- scans (A7) -------------------------------------------------------

  /** Current batch state: last-wins per BatchJobID over version appends. */
  def currentBatches(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy(col("BatchJobID")).orderBy(col("_version_ts").desc)
    table(spark, BatchStatsTable)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "_version_ts")
  }

  def jobStats(spark: SparkSession): DataFrame =
    table(spark, JobStatsTable).drop("_version_ts")

  /** `spark.table(name)`, re-creating the ledger tables if one was dropped. */
  private def table(spark: SparkSession, name: String): DataFrame = {
    ensureTables(spark)
    try spark.table(name)
    catch {
      case e: AnalysisException if notFound(e) =>
        forget(spark)
        ensureTables(spark)
        spark.table(name)
    }
  }

  // --- resume queries (C4/C5/F1) ---------------------------------------

  /** Most recent resumable batch for a directory (reference :186-223):
    * status InProgress/Failed, younger than maxAgeHours, files remaining.
    * Every version row of a batch carries its directory, so the scan keeps
    * that directory's rows and resolves last-wins on the driver: one
    * collect, no shuffle. */
  def findResumableBatch(spark: SparkSession, inputDir: String, maxAgeHours: Int)
      : Option[BatchStats] = {
    import spark.implicits._
    val cutoff = System.currentTimeMillis() - maxAgeHours.toLong * 3600 * 1000
    val batchColumns = BatchStatsT.schema.fieldNames.filter(_ != "_version_ts").map(col)
    table(spark, BatchStatsTable)
      .filter(col("DirectoryPath") === inputDir)
      .select(struct(batchColumns.toSeq: _*).as("_1"), col("_version_ts").as("_2"))
      .as[(BatchStats, Long)]
      .collect().toSeq
      .groupBy(_._1.BatchJobID).values
      .map(_.maxBy(_._2)._1)
      .filter(b => Set("InProgress", "Failed")(b.BatchStatus) &&
        b.BatchStartTime.getTime > cutoff &&
        b.TotalFiles - b.FilesProcessed - b.FilesFailed > 0)
      .maxByOption(_.BatchStartTime.getTime)
  }

  /** A file's last job row in a batch: its status and when that job
    * started. */
  final case class LastJob(status: String, started: java.sql.Timestamp)

  /** The last job row of each file a batch has one for, by `JobEndTime`
    * and then `_version_ts` (a retried file has one row per attempt).
    * Completed files are the ones a resume skips (reference
    * get_pending_files :231-251); all of them feed its roll-up. One
    * collect of the batch's rows. */
  def lastJobs(spark: SparkSession, batchJobId: String): Map[String, LastJob] =
    table(spark, JobStatsTable)
      .filter(col("BatchJobID") === batchJobId)
      .select(col("SourceFile"), col("JobStatus"), col("JobStartTime"), col("JobEndTime"),
        col("_version_ts"))
      .collect().toSeq
      .sortBy(r => (r.getTimestamp(3).getTime, r.getLong(4)))
      .map(r => r.getString(0) -> LastJob(r.getString(1), r.getTimestamp(2)))
      .toMap
}
