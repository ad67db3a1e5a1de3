package graft.ledger

import org.apache.spark.sql.{AnalysisException, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{BatchStats, ColumnRef, JobError, JobStats}

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
  * Fixed cost per append: the tables are checked (and created if missing)
  * once per `SparkSession`, not on every append, and each append is a
  * position-based `insertInto` of a frame built in its table's column
  * order (the [[JobStats]] / [[BatchStats]] encoder plus `_version_ts`;
  * the [[JobError]] encoder). So after a session's first ledger call an
  * append makes no `tableExists` call, looks up no table schema and runs
  * no create-as-select. A table dropped mid-session is re-created by the
  * next call that finds it missing, which then goes through.
  */
object Ledger {

  val JobStatsTable  = "etl_job_statistics"
  val JobErrorTable  = "etl_job_error"
  val BatchStatsTable = "etl_batch_job_statistics"

  /** Serializes ledger appends across driver threads (the parallel
    * batch runner, r15): the rows are single-digit-millisecond writes,
    * but `ensureTables`' exists-then-create and two concurrent appends
    * into ONE catalog table would race — the ledger is the one piece of
    * state every parallel file job shares, so it takes the one lock.
    * Data loads never hold it (the batch runner keeps same-target-table
    * files sequential instead). */
  private val writeLock = new Object

  /** Sessions whose three tables are known to exist. Guarded by
    * [[writeLock]]; weak, so a stopped session does not stay reachable. */
  private val checked = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  private val JobErrorColumns: Seq[String] =
    Encoders.product[JobError].schema.fieldNames.toSeq

  /** Create-if-missing for the three catalog tables, once per session.
    * Holds [[writeLock]] itself (r15 advice): the exists-then-create pair
    * races table creation if two threads run it concurrently. The lock is
    * reentrant, so the write sinks (which already hold it) are
    * unchanged. */
  def ensureTables(spark: SparkSession): Unit = writeLock.synchronized {
    if (!checked.containsKey(spark)) {
      createMissing(spark)
      checked.put(spark, true)
    }
  }

  private def createMissing(spark: SparkSession): Unit = {
    import spark.implicits._
    def ensure(name: String, empty: => DataFrame): Unit =
      if (!spark.catalog.tableExists(name)) {
        try empty.write.format("parquet").saveAsTable(name)
        catch {
          // catalog lost but warehouse data survived (e.g. in-memory catalog
          // across JVMs): re-attach the existing location as the table
          case e: Exception if Option(e.getMessage).exists(_.contains("LOCATION_ALREADY_EXISTS")) =>
            val loc = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + s"/$name"
            val ddlCols = empty.schema.fields
              .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
            spark.sql(s"CREATE TABLE `$name` ($ddlCols) USING parquet LOCATION '$loc'")
        }
      }
    ensure(JobStatsTable,
      Seq.empty[JobStats].toDS.toDF.withColumn("_version_ts", lit(0L)))
    ensure(JobErrorTable, Seq.empty[JobError].toDS.toDF)
    ensure(BatchStatsTable,
      Seq.empty[BatchStats].toDS.toDF.withColumn("_version_ts", lit(0L)))
  }

  /** Runs `body` against tables [[ensureTables]] has seen. If one of them
    * was dropped since, `body` fails to resolve it: the tables are checked
    * again and `body` runs once more. */
  private def withTables[A](spark: SparkSession)(body: => A): A =
    writeLock.synchronized {
      ensureTables(spark)
      try body
      catch {
        case e: AnalysisException if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" =>
          checked.remove(spark)
          ensureTables(spark)
          body
      }
    }

  // --- sinks (I11-I13) --------------------------------------------------

  /** Appends `rows`, whose columns are in `table`'s column order. */
  private def append(spark: SparkSession, table: String, rows: => DataFrame): Unit =
    withTables(spark)(rows.write.mode(SaveMode.Append).insertInto(table))

  def writeJobStats(spark: SparkSession, stats: JobStats): Unit = {
    import spark.implicits._
    append(spark, JobStatsTable,
      Seq(stats).toDS.toDF.withColumn("_version_ts", lit(System.nanoTime())))
  }

  def writeErrors(spark: SparkSession, errors: DataFrame): Unit =
    append(spark, JobErrorTable, errors.select(JobErrorColumns.map(ColumnRef(_)): _*))

  def writeBatchStats(spark: SparkSession, b: BatchStats): Unit = {
    import spark.implicits._
    append(spark, BatchStatsTable,
      Seq(b).toDS.toDF.withColumn("_version_ts", lit(System.nanoTime())))
  }

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

  private def table(spark: SparkSession, name: String): DataFrame =
    withTables(spark)(spark.table(name))

  // --- resume queries (C4/C5/F1) ---------------------------------------

  /** Most recent resumable batch for a directory (reference :186-223):
    * status InProgress/Failed, younger than maxAgeHours, files remaining. */
  def findResumableBatch(spark: SparkSession, inputDir: String, maxAgeHours: Int)
      : Option[BatchStats] = {
    import spark.implicits._
    val cutoff = new java.sql.Timestamp(
      System.currentTimeMillis() - maxAgeHours.toLong * 3600 * 1000)
    currentBatches(spark)
      .filter(col("DirectoryPath") === inputDir &&
        col("BatchStatus").isin("InProgress", "Failed") &&
        col("BatchStartTime") > lit(cutoff) &&
        col("TotalFiles") - col("FilesProcessed") - col("FilesFailed") > 0)
      .orderBy(col("BatchStartTime").desc)
      .limit(1)
      .as[BatchStats]
      .collect()
      .headOption
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
