package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{BatchStats, JobError, JobStats}
import graft.ledger.Ledger

/** Ledger appends: a file the driver writes into a table the session
  * already knows, published whole by a rename, with no Spark job and no
  * command; a table dropped mid-session comes back. */
class LedgerSpec extends GraftSuite {
  import spark.implicits._

  private def uuid() = java.util.UUID.randomUUID().toString

  private def errorRow(run: String) = JobError(uuid(), run,
    "t", "c", "constraint_violation", "m", new java.sql.Timestamp(0L), "f", 7L, "{}")

  private def tableDir(name: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(TableIdentifier(name)).location)

  private def errorsOf(run: String): Long =
    spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === run).count()

  test("three appends start no Spark job and run no command; a dropped table is re-created") {
    Ledger.ensureTables(spark)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val run = uuid()
    val commands = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        commands.add(qe.analyzed.nodeName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        commands.add(s"failed: ${qe.analyzed.nodeName}")
    }
    val jobs = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      Ledger.writeBatchStats(spark, BatchStats(run, "/in", now, None, "InProgress", 1, 0, 0,
        IsResumed = false, OriginalBatchJobID = None))
      Ledger.writeJobStats(spark, JobStats(run, now, now, 0, "Completed", "f", "t", 1, 1, 0, 0,
        None, Some(run), "append", "strict"))
      Ledger.writeErrors(spark, Iterator(errorRow(run)))
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    assert(commands.isEmpty, commands)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs")
    val stored = spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === run).as[JobError]
      .collect().toSeq
    assert(stored.map(_.copy(ErrorID = "")) == Seq(errorRow(run).copy(ErrorID = "")))
    assert(Ledger.jobStats(spark).filter(col("JobRunID") === run).count() == 1)
    // the catalog holds no size for the appends to leave stale
    Seq(Ledger.JobStatsTable, Ledger.JobErrorTable, Ledger.BatchStatsTable).foreach { t =>
      assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).stats.isEmpty, t)
    }

    spark.sql(s"DROP TABLE ${Ledger.JobErrorTable}")
    val again = uuid()
    Ledger.writeErrors(spark, Seq(errorRow(again)).iterator)
    assert(spark.table(Ledger.JobErrorTable).select("JobRunID").as[String].collect().toSeq ==
      Seq(again))
    // re-created before the append wrote into its directory, so managed
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(Ledger.JobErrorTable))
      .tableType == CatalogTableType.MANAGED)
  }

  test("a table dropped with its directory kept is re-attached with each row once") {
    val (kept, next) = (uuid(), uuid())
    Ledger.writeErrors(spark, Iterator(errorRow(kept)))
    val dir = tableDir(Ledger.JobErrorTable)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val saved = new Path(tempDir("ledger_kept").toString, "files")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, dir, fs, saved, false,
      spark.sparkContext.hadoopConfiguration))
    // the catalog entry goes, the files stay (a lost catalog, say)
    spark.sql(s"DROP TABLE ${Ledger.JobErrorTable}")
    assert(fs.rename(saved, dir))
    Ledger.writeErrors(spark, Iterator(errorRow(next)))
    assert(errorsOf(kept) == 1 && errorsOf(next) == 1)
  }

  test("a hidden file left by a crash before the rename adds no visible row") {
    val run = uuid()
    Ledger.writeErrors(spark, Iterator(errorRow(run), errorRow(run)))
    val dir = tableDir(Ledger.JobErrorTable)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a whole, readable ledger file under the name an append writes first
    val visible = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    assert(visible.nonEmpty)
    val hidden = new Path(dir, "_part-" + uuid() + ".snappy.parquet")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, visible.head, fs, hidden, false,
      spark.sparkContext.hadoopConfiguration))
    val before = spark.table(Ledger.JobErrorTable).count()
    spark.catalog.refreshTable(Ledger.JobErrorTable)
    assert(spark.table(Ledger.JobErrorTable).count() == before)
    assert(errorsOf(run) == 2)
  }

  test("a reader counting rows while appends run only ever sees whole appends") {
    val run = uuid()
    val appends = 20
    val seen = new ConcurrentLinkedQueue[Long]()
    @volatile var writing = true
    val reader = new Thread(() => while (writing) seen.add(errorsOf(run)))
    reader.start()
    try (1 to appends).foreach(_ => Ledger.writeErrors(spark, Iterator.fill(3)(errorRow(run))))
    finally { writing = false; reader.join() }
    val counts = seen.toArray.toSeq.map(_.asInstanceOf[Long])
    assert(counts.nonEmpty)
    assert(counts.forall(n => n % 3 == 0 && n <= 3L * appends), counts)
    assert(errorsOf(run) == 3L * appends)
  }

  test("rows appended by insertInto and by the driver writer read back alike") {
    Ledger.ensureTables(spark)
    // microsecond timestamps, the precision both writers keep
    val t = new java.sql.Timestamp(1700000000123L)
    t.setNanos(123456000)
    val (old, fresh) = (uuid(), uuid())
    def stats(run: String) = JobStats(run, t, t, 0, "Completed", "f", "t", 1, 1, 0, 0,
      Some("m"), Some(run), "append", "strict")
    Seq(stats(old)).toDS.toDF.withColumn("_version_ts", lit(1L))
      .write.mode(SaveMode.Append).insertInto(Ledger.JobStatsTable)
    Ledger.writeJobStats(spark, stats(fresh))
    val back = Ledger.jobStats(spark).filter(col("JobRunID").isin(old, fresh)).as[JobStats]
      .collect().sortBy(_.JobRunID == fresh).toSeq
    assert(back == Seq(stats(old), stats(fresh)))

    val e = errorRow(old).copy(ErrorTimestamp = t)
    Seq(e).toDS.toDF.write.mode(SaveMode.Append).insertInto(Ledger.JobErrorTable)
    Ledger.writeErrors(spark, Iterator(e.copy(ErrorID = "driver")))
    val errs = spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === old).as[JobError]
      .collect().sortBy(_.ErrorID == "driver").toSeq
    assert(errs == Seq(e, e.copy(ErrorID = "driver")))
  }

  test("the resume lookup resolves last-wins within the directory") {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    def batch(id: String, dir: String, status: String) = BatchStats(id, dir, now, None,
      status, 2, 1, 0, IsResumed = false, OriginalBatchJobID = None)
    val (doneDir, openDir) = (s"/resume/${uuid()}", s"/resume/${uuid()}")
    val (done, open) = (uuid(), uuid())
    // the finished batch's older InProgress row still has a file to go
    Ledger.writeBatchStats(spark, batch(done, doneDir, "InProgress"))
    Ledger.writeBatchStats(spark, batch(done, doneDir, "Completed"))
    Ledger.writeBatchStats(spark, batch(open, openDir, "InProgress"))
    assert(Ledger.findResumableBatch(spark, doneDir, 24).isEmpty)
    assert(Ledger.findResumableBatch(spark, openDir, 24).map(_.BatchJobID).contains(open))
  }
}
