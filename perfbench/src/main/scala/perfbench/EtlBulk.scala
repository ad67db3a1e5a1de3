package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core._
import graft.ledger.Ledger
import graft.orchestrate.ProcessFile

/** Shared ETL configuration and outcome checks. */
object Etl {
  val NotNull: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey", "c_name"))
  val MaxRowErrors = 100000

  def config(mode: TableMode, txn: TransactionMode, tables: Seq[String] = Nil): EngineConfig = {
    val nn = NotNull ++ tables.flatMap(t => NotNull.collectFirst {
      case (base, cols) if t.startsWith(base) || t.startsWith("w" + base) => t -> cols
    })
    EngineConfig.default.copy(tableMode = mode, transactionMode = txn,
      maxRowErrors = MaxRowErrors, notNullColumns = nn)
  }

  def spark: SparkSession = SparkSession.active

  def errorRows(jobRunId: String): Long =
    spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === jobRunId).count()

  def tableRows(t: String): Long =
    if (spark.catalog.tableExists(t)) spark.table(t).count() else -1L

  /** Parquet files under the three ledger tables. */
  def ledgerFiles(warehouse: File): Int =
    Seq(Ledger.JobStatsTable, Ledger.JobErrorTable, Ledger.BatchStatsTable)
      .map(t => Files.count(new File(warehouse, t), ".parquet")).sum

  /** Where a finished job must leave its source file, then clears it so the
    * next op can use the same name. */
  def landed(inbox: File, name: String, sub: String): Option[String] = {
    val f = new File(new File(inbox, sub), name)
    val stray = new File(inbox, name)
    if (stray.exists()) { stray.delete(); Some(s"$name left in the inbox, expected $sub/") }
    else if (!f.exists()) Some(s"$name not found in $sub/")
    else { f.delete(); None }
  }

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  def firstError(xs: Option[String]*): Option[String] = xs.flatten.headOption
}

/** `etl_bulk`: one `ProcessFile.run` per large file. A cycle is the six
  * table-mode × transaction-mode combinations over lineitem and orders in
  * CSV, PSV and JSON, including one strict file that must be rejected and
  * quarantined and tolerant files whose bad rows reach the error ledger and
  * the `logs/` dump. */
final class EtlBulk(seed: Long, runDir: File, scale: Double) extends Workload {
  import Etl._
  import TableMode._
  import TransactionMode._

  val nominalCycleS = 13.0
  val opModule = "orchestrate"
  val hive = true

  // large enough that per-row work outweighs each load's fixed driver-side
  // cost, small enough that a cycle fits one run
  private val nLine = (8000 * scale).toInt
  private val nOrders = (8000 * scale).toInt
  private val nBad = math.max(1, (25 * scale).toInt)
  private var pool: File = _
  private val inbox = new File(runDir, "inbox")

  private case class Job(file: String, table: Gen.Table, mode: TableMode, txn: TransactionMode)
  private var jobs: Seq[Job] = Nil

  private def jobsAt(dir: File, nL: Int, nO: Int, bad: Int, tag: String): Seq[Job] = {
    val orderKeys = (0 until nO).toIndexedSeq
    val js = Seq(
      Job("lineitem_001.csv", Gen.lineitem(seed, s"$tag/lineitem/clean", nL, 0), DropRecreate, Strict),
      Job("lineitem_002.psv", Gen.lineitem(seed, s"$tag/lineitem/dirty", nL, bad), Append, Tolerant),
      Job("lineitemj.json", Gen.lineitem(seed, s"$tag/lineitem/fresh", nL, 0), Fail, Strict),
      Job("orders_001.json", Gen.orders(seed, s"$tag/orders/dirty", orderKeys, bad),
        DropRecreate, Tolerant),
      Job("orders_002.csv", Gen.orders(seed, s"$tag/orders/dirty2", orderKeys, bad), Append, Strict),
      Job("orders_003.psv", Gen.orders(seed, s"$tag/orders/clean", orderKeys, 0), Fail, Tolerant))
    js.foreach(j => Gen.write(j.table, new File(dir, j.file)))
    js
  }

  def generate(dir: File): Unit = {
    jobs = jobsAt(dir, nLine, nOrders, nBad, "bulk")
    pool = dir
  }

  /** A small CSV and JSON file through the loader, the JSON one with bad
    * rows for the error ledger path. */
  override def warmUp(dir: File): Unit = {
    val in = new File(dir, "inbox")
    jobsAt(dir, 300, 300, 3, "warm").filter(j => j.mode == DropRecreate).foreach { j =>
      val name = "w" + j.file
      Files.copy(new File(dir, j.file), new File(in, name))
      ProcessFile.run(spark, new File(in, name).getPath, config(j.mode, j.txn, Seq(tableOf(name))))
    }
  }

  private def tableOf(f: String): String = graft.analyze.Ddl.tableName(f)

  def cycle(c: Int): Seq[Op[_]] = jobs.map { j =>
    // a fail-mode load that should succeed gets a table of its own per cycle
    val name = if (j.mode == Fail && j.txn == Strict) s"lineitemj_c$c.json" else j.file
    val target = tableOf(name)
    val src = new File(pool, j.file)
    val n = j.table.rows.size
    val bad = j.table.badRows.size
    var before = 0L
    var existed = false
    new Op[ProcessFile.FileJob](s"${j.mode.name}_${j.txn.name}_${name.takeWhile(_ != '_')}",
      n, src.length(),
      prepare = () => {
        Files.copy(src, new File(inbox, name))
        existed = spark.catalog.tableExists(target)
        before = math.max(0L, tableRows(target))
      },
      run = () => ProcessFile.run(spark, new File(inbox, name).getPath,
        config(j.mode, j.txn, Seq(target))),
      check = (job: ProcessFile.FileJob) => {
        val r = job.result
        val rejected = (j.txn == Strict && bad > 0) || (j.mode == Fail && existed)
        if (rejected) firstError(
          expect("status", r.status, "Failed"),
          expect("error rows", errorRows(job.jobRunId), 0L),
          expect("target rows", math.max(0L, tableRows(target)), before),
          landed(inbox, name, "error"))
        else {
          val want = if (j.mode == Append) before + n - bad else (n - bad).toLong
          firstError(
            expect("status", r.status, if (bad > 0) "CompletedWithErrors" else "Completed"),
            expect("rows", (r.rowsRead, r.rowsInserted, r.rowsUpdated, r.rowsErrored),
              (n.toLong, (n - bad).toLong, 0L, bad.toLong)),
            expect("error rows", errorRows(job.jobRunId), bad.toLong),
            expect("logs dump", new File(inbox, s"logs/${target}_${job.jobRunId}").isDirectory,
              bad > 0),
            expect("target rows", tableRows(target), want),
            landed(inbox, name, "processed"))
        }
      })
  }

  override def ledgerFiles: Int = Etl.ledgerFiles(new File(runDir, "warehouse"))
}
