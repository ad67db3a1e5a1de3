package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{BatchStats, JobError, JobStats}
import graft.ledger.Ledger

/** Ledger appends: an insert into a table the session already knows, with
  * no create-as-select, and a table dropped mid-session comes back. */
class LedgerSpec extends GraftSuite {
  import spark.implicits._

  private def errorRow(run: String) = JobError(java.util.UUID.randomUUID().toString, run,
    "t", "c", "constraint_violation", "m", new java.sql.Timestamp(0L), "f", 7L, "{}")

  test("appends insert by position into known tables; a dropped table is re-created") {
    Ledger.ensureTables(spark)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val run = java.util.UUID.randomUUID().toString
    val commands = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        commands.add(qe.analyzed.nodeName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        commands.add(s"failed: ${qe.analyzed.nodeName}")
    }
    spark.listenerManager.register(listener)
    try {
      Ledger.writeBatchStats(spark, BatchStats(run, "/in", now, None, "InProgress", 1, 0, 0,
        IsResumed = false, OriginalBatchJobID = None))
      Ledger.writeJobStats(spark, JobStats(run, now, now, 0, "Completed", "f", "t", 1, 1, 0, 0,
        None, Some(run), "append", "strict"))
      // the error frame's columns arrive in another order than the table's
      val errors = Seq(errorRow(run)).toDF
      Ledger.writeErrors(spark, errors.select(errors.columns.reverse.map(col).toSeq: _*))
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(commands.toArray.toSeq == Seq.fill(3)("InsertIntoHadoopFsRelationCommand"))
    val stored = spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === run).as[JobError]
      .collect().toSeq
    assert(stored.map(_.copy(ErrorID = "")) == Seq(errorRow(run).copy(ErrorID = "")))
    assert(Ledger.jobStats(spark).filter(col("JobRunID") === run).count() == 1)

    spark.sql(s"DROP TABLE ${Ledger.JobErrorTable}")
    val again = java.util.UUID.randomUUID().toString
    Ledger.writeErrors(spark, Seq(errorRow(again)).toDF)
    assert(spark.table(Ledger.JobErrorTable).select("JobRunID").as[String].collect().toSeq ==
      Seq(again))
  }
}
