package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation: `prepare` and `check` run untimed around `run`.
  * `check` returns the reason the outcome differs from the expected one. */
final class Op[R](val name: String, val inputRows: Long, val inputBytes: Long,
    prepare: () => Unit, run: () => R, check: R => Option[String]) {
  def execute(): (Long, Long, Either[String, R]) = {
    prepare()
    val t0 = System.nanoTime()
    val out = try Right(run()) catch {
      case e: Exception => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    (t0, System.nanoTime(), out)
  }
  def verify(out: Either[String, R]): Option[String] =
    out.fold(Some(_), r => try check(r) catch {
      case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    })
}

/** A benchmark workload. Set-up is input generation (repeated
  * `GenReps` times, each into a fresh directory; the last copy is used),
  * a warm-up and the initial `load`, all timed. Each cycle is a fixed list
  * of ops, so every run with the same `--seconds` times the same ops. */
trait Workload {
  /** Cycles the timed loop will run; set before set-up. */
  var cycles: Int = 1
  def nominalCycleS: Double
  def opModule: String
  def hive: Boolean
  def generate(dir: File): Unit
  def warmUp(dir: File): Unit = ()
  def load(): Unit = ()
  def cycle(c: Int): Seq[Op[_]]
  def finalCheck(): Option[String] = None
  def extraResults: Map[String, Any] = Map.empty
  /** Spans the workload timed inside the current op (name → seconds). */
  val spans: mutable.Map[String, Double] = mutable.Map.empty
  def ledgerFiles: Int = 0
}

/** The benchmark's JVM side: `perfbench.Main <workload> <seed> <seconds>
  * <trace 0|1> <runDir> <cpus> <scale>`. Writes `<runDir>/result.json`
  * with raw op timings, checks and (traced) layer metrics; `run.py`
  * turns them into the reported metrics. */
object Main {
  val GenReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDirS, cpusS, scaleS) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val runDir = new File(runDirS).getAbsoluteFile
    val cpus = cpusS.toInt
    val scale = scaleS.toDouble

    def phase(name: String): Unit = System.err.println(
      s"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms: $name")
    phase("start")
    val tSession = System.nanoTime()
    val w: Workload = workload match {
      case "etl_bulk" => new EtlBulk(seed, runDir, scale)
      case "etl_incremental" => new EtlIncremental(seed, runDir, scale)
      case "query_mix" => new QueryMix(seed, runDir, scale)
      case "selftest_gen" => Selftest.gen(seed, runDir); return
      case "selftest_case" => Selftest.handCase(runDir); return
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = session(runDir, cpus, w.hive)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    // a traced run alternates untraced and traced cycles (U T U ...), so the
    // same run yields the untraced figures, the layer figures and the
    // tracing overhead, with drift between cycles cancelling
    val cycles = {
      val n = math.max(1, math.round(secondsS.toDouble / w.nominalCycleS).toInt)
      if (traced) math.max(3, n | 1) else n
    }
    w.cycles = cycles
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    phase("session")
    val genS = (0 until GenReps).map(rep => timed(w.generate(new File(runDir, s"gen$rep"))))
    phase("generated")
    val warmS = timed(w.warmUp(new File(runDir, "warm")))
    phase("warm")
    val loadS = timed(w.load())
    phase("loaded")

    def isTraced(c: Int): Boolean = traced && c % 2 == 1
    val trace = new Trace
    trace.opModule = w.opModule
    val opRecs = mutable.ArrayBuffer[Map[String, Any]]()
    val tracedOps = mutable.ArrayBuffer[(Op[_], OpWindow, Map[String, Double])]()
    var jvm0 = Trace.jvmNow()
    var jvmTraced = Trace.Jvm(0, 0)

    for (c <- 0 until cycles) {
      val on = isTraced(c)
      if (on) {
        Trace.drain(spark.sparkContext)
        spark.sparkContext.addSparkListener(trace)
        jvm0 = Trace.jvmNow()
        if (c == 1) Trace.resetPeakHeap()
      }
      w.cycle(c).foreach { op =>
        val (s, e, out) = op.execute()
        val err = op.asInstanceOf[Op[Any]].verify(out)
        val spans = w.spans.toMap
        w.spans.clear()
        opRecs += Map("name" -> op.name, "s" -> (e - s) / 1e9, "ok" -> err.isEmpty,
          "cycle" -> c, "traced" -> on, "error" -> err, "spans" -> spans)
        if (on) tracedOps += ((op, OpWindow(toMs(s), toMs(e)), spans))
      }
      if (on) {
        val j = Trace.jvmNow()
        jvmTraced = Trace.Jvm(jvmTraced.cpuS + j.cpuS - jvm0.cpuS, jvmTraced.gcS + j.gcS - jvm0.gcS)
        Trace.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(trace)
      }
    }
    phase("timed")
    val finalErr = w.finalCheck()
    phase("checked")

    val layers: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val ops = tracedOps.map(_._1)
        val m = Layers.metrics(trace, tracedOps.map(_._2).toSeq, ops.map(_.inputRows).sum,
          ops.map(_.inputBytes).sum, jvmTraced, Trace.peakHeapMb(),
          w.ledgerFiles)
        // per-op spans the workload timed itself, and per-op shuffle bytes
        val byName = tracedOps.groupBy(_._1.name)
        byName.foreach { case (name, xs) =>
          xs.flatMap(_._3.keys).distinct.foreach { k =>
            m(s"$name.$k") = median(xs.flatMap(_._3.get(k)).toSeq)
          }
          val shuffle = xs.map { case (_, win, _) =>
            trace.jobs.values.filter(j => j.start >= win.start && j.start <= win.end)
              .map(_.shuffleWriteBytes).sum.toDouble
          }
          m(s"$name.shuffle_write_bytes") = median(shuffle.toSeq)
        }
        Seq("build_s", "plan_s", "exec_s").foreach { k =>
          m(s"ops.$k") = tracedOps.flatMap(_._3.get(k)).sum
        }
        m.toMap
      }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cycles" -> cycles,
      "session_s" -> sessionS, "gen_s" -> genS, "warm_s" -> warmS, "load_s" -> loadS,
      "ops" -> opRecs, "final_error" -> finalErr, "layers" -> layers) ++ w.extraResults
    java.nio.file.Files.writeString(new File(runDir, "result.json").toPath, Json.render(result))
    spark.stop()
    phase("stopped")
  }

  private def toMs(nanoTime: Long): Long =
    System.currentTimeMillis() - (System.nanoTime() - nanoTime) / 1000000L

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The session the ETL entry point builds (Hive catalog, AQE, shuffle
    * partitions = cores), with every on-disk location inside the run
    * directory. */
  def session(runDir: File, cpus: Int, hive: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
    if (hive) b.enableHiveSupport()
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${new File(runDir, "metastore_db").getPath};create=true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(runDir, "checkpoints").getPath)
    spark.catalog.listTables().count() // first catalog access: metastore start-up
    spark
  }
}
