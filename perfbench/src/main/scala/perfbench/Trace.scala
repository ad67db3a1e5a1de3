package perfbench

import java.lang.management.ManagementFactory
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-module accounting read from Spark's own job, stage and task events,
  * registered from outside the program.
  *
  * A job belongs to the module of the innermost `graft.*` frame in the call
  * site of its ROOT SQL execution (`spark.sql.execution.root.id` mapped to
  * that execution's start-event details). AQE submits query stages from a
  * Spark thread, so a job's own stage call site often names no program
  * frame at all; the root execution still carries the call that started
  * it. Jobs outside any SQL execution (RDD actions such as `zipWithIndex`)
  * use their first stage's call site. A job with no program frame counts
  * toward the module of the op that ran it. */
final class Trace extends SparkListener {
  import Trace._

  @volatile var opModule: String = "ops"

  private val execDetails = TrieMap[Long, String]()
  private val stageJob = TrieMap[Int, Int]()
  val jobs = TrieMap[Int, JobRec]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDetails(s.executionId) = s.details
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val root = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
    val site = root.flatMap(id => execDetails.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.details))
    val module = site.flatMap(moduleOf).getOrElse(opModule)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    val sourceStages = e.stageInfos.filter(_.rddInfos.exists(r =>
      r.scope.exists(s => SourceScan.findFirstIn(s.name).isDefined))).map(_.stageId).toSet
    val tableStages = e.stageInfos.filter(_.rddInfos.exists(r =>
      r.scope.exists(s => s.name.contains("Scan parquet")))).map(_.stageId).toSet
    jobs(e.jobId) = new JobRec(module, e.time, sourceStages, tableStages)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.synchronized {
        j.tasks += 1
        j.taskS += m.executorRunTime / 1e3
        j.taskCpuS += m.executorCpuTime / 1e9
        j.inputRecords += m.inputMetrics.recordsRead
        if (j.sourceStages(e.stageId)) j.sourceRecords += m.inputMetrics.recordsRead
        if (j.tableStages(e.stageId)) j.tableRecords += m.inputMetrics.recordsRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Trace {
  /** Modules of the ETL engine; any other `graft.*` package is query code. */
  val EtlModules: Set[String] = Set("ingest", "analyze", "load", "ledger", "orchestrate")
  val Modules: Seq[String] = Seq("ingest", "analyze", "load", "ledger", "orchestrate", "ops")

  private val SourceScan = "Scan (csv|json|text)".r

  final class JobRec(val module: String, val start: Long, val sourceStages: Set[Int],
      val tableStages: Set[Int]) {
    @volatile var end = -1L
    var tasks = 0L
    var taskS = 0.0
    var taskCpuS = 0.0
    var inputRecords = 0L
    var sourceRecords = 0L
    var tableRecords = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }

  /** Module of the innermost program frame in a call site, if any. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { frame =>
      val pkg = frame.split('.')(1)
      if (EtlModules(pkg)) pkg else "ops"
    }

  /** Blocks until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Total length of the union of `[start, end)` intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Process-wide JVM counters, read around the traced region. */
  final case class Jvm(cpuS: Double, gcS: Double)
  def jvmNow(): Jvm = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Jvm(os.getProcessCpuTime / 1e9,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)
  }
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** The wall-clock window of one traced op, in epoch milliseconds. */
final case class OpWindow(start: Long, end: Long)

/** Folds the traced ops' jobs into the per-layer metrics. */
object Layers {
  import Trace._

  def metrics(t: Trace, ops: Seq[OpWindow], inputRows: Long, inputBytes: Long,
      jvm: Jvm, peakHeapMb: Double, ledgerFiles: Int): mutable.LinkedHashMap[String, Double] = {
    // only jobs the ops started (the checks between ops run Spark jobs too);
    // 2 ms of slack for the two clocks' rounding
    val js = t.jobs.values.toSeq.filter(j =>
      j.end >= 0 && ops.exists(o => j.start >= o.start - 2 && j.start <= o.end + 2))
    val out = mutable.LinkedHashMap[String, Double]()
    def of(m: String) = js.filter(_.module == m)
    for (m <- Modules) {
      out(s"$m.time_s") = unionMs(of(m).map(j => (j.start, j.end))) / 1e3
      out(s"$m.task_s") = of(m).map(_.taskS).sum
      out(s"$m.jobs") = of(m).size.toDouble
    }
    val sourceRecs = js.map(_.sourceRecords).sum
    out("ingest.source_passes") = if (inputRows > 0) sourceRecs.toDouble / inputRows else 0.0
    out("load.target_rows_read") = of("load").map(_.tableRecords).sum.toDouble
    out("load.write_amplification") =
      if (inputBytes > 0) of("load").map(_.outputBytes).sum.toDouble / inputBytes else 0.0
    out("ledger.files") = ledgerFiles.toDouble
    val all = js.map(j => (j.start, j.end))
    out("orchestrate.driver_s") = ops.map { o =>
      val inside = all.filter { case (s, e) => e > o.start && s < o.end }
        .map { case (s, e) => (math.max(s, o.start), math.min(e, o.end)) }
      (o.end - o.start - unionMs(inside)).toDouble
    }.sum / 1e3
    out("orchestrate.jobs_per_op") = if (ops.nonEmpty) js.size.toDouble / ops.size else 0.0
    out("spark.jobs") = js.size.toDouble
    out("spark.tasks") = js.map(_.tasks).sum.toDouble
    out("spark.task_cpu_s") = js.map(_.taskCpuS).sum
    out("spark.input_records") = js.map(_.inputRecords).sum.toDouble
    out("spark.shuffle_write_bytes") = js.map(_.shuffleWriteBytes).sum.toDouble
    out("spark.spill_bytes") = js.map(_.spillBytes).sum.toDouble
    out("jvm.cpu_s") = jvm.cpuS
    out("jvm.gc_s") = jvm.gcS
    out("jvm.peak_heap_mb") = peakHeapMb
    out
  }
}
