package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.core._
import graft.orchestrate.ProcessFile

/** Pins how many Spark jobs of one `ProcessFile.run` read the source file
  * (a job reads it when one of its stages has input records). */
class SourcePassSpec extends GraftSuite {

  private def sourceJobs(body: => Unit): Int = {
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val reading = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.inputMetrics.recordsRead > 0)
          Option(jobOfStage.get(e.stageInfo.stageId)).foreach(reading.add)
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    reading.size
  }

  // Every count includes the header probe that `spark.read.csv` runs
  // itself. Both loads have a NOT NULL column, so the gate's count scans.
  test("a clean strict CSV load reads its source 4 times: header, profile, gate, write") {
    val f = writeFile(tempDir("passes_strict"), "passes_strict.csv", "id,name\n1,a\n2,b\n3,c\n")
    val c = EngineConfig.default.copy(notNullColumns = Map("passes_strict" -> Seq("id")))
    val n = sourceJobs {
      assert(ProcessFile.run(spark, f, c).result.status == "Completed")
    }
    assert(n == 4, s"$n source-reading jobs")
  }

  test("a tolerant CSV load with bad rows reads its source 6 times: header, profile, gate, write, ledger, dump") {
    val f = writeFile(tempDir("passes_tol"), "passes_tol.csv", "id,name\n1,a\n,b\n3,c\n")
    val c = EngineConfig.default.copy(transactionMode = TransactionMode.Tolerant,
      notNullColumns = Map("passes_tol" -> Seq("id")))
    val n = sourceJobs {
      assert(ProcessFile.run(spark, f, c).result.status == "CompletedWithErrors")
    }
    assert(n == 6, s"$n source-reading jobs")
  }
}
