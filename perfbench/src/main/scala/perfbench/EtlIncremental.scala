package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.core._
import graft.ledger.Ledger
import graft.orchestrate.BatchRunner

/** `etl_incremental`: an orders target and a smaller customer target are
  * loaded in set-up; each op is then one `BatchRunner.run` over an arrival
  * directory holding one small upsert + tolerant delta, the format rotating
  * between arrivals. One arrival per run first gets the ledger rows a
  * crashed run leaves behind (an InProgress batch and a Completed job whose
  * file already moved), and must process only its remaining file. The final
  * targets are compared with the last-wins state computed here from the
  * generated deltas. */
final class EtlIncremental(seed: Long, runDir: File, scale: Double) extends Workload {
  import Etl._

  val nominalCycleS = 5.0
  val opModule = "orchestrate"
  val hive = true

  private val nOrders = (8000 * scale).toInt
  private val nCustomers = (800 * scale).toInt
  private val deltaOrders = math.max(20, (1500 * scale).toInt)
  private val deltaCustomers = math.max(10, (500 * scale).toInt)
  private val badPerDelta = 4
  /** The arrival that first gets a crashed run's ledger rows. */
  private def crashedArrival = math.min(1, cycles - 1)

  private val Pk = Map("orders" -> "o_orderkey", "customer" -> "c_custkey")

  /** Expected table state, kept from the generated deltas. */
  private val state = Map("orders" -> Upserts.State(), "customer" -> Upserts.State())
  private var targets: File = _
  private var arrivals: File = _

  private val TargetConfig = Etl.config(TableMode.Upsert, TransactionMode.Tolerant).copy(
    tables = Pk.map { case (t, k) => t -> TableOverride(None, Seq(k), Map.empty) })

  /** A delta for `table` from arrival `a`, in a format that rotates with `a`. */
  private def delta(a: Int, tag: String, table: String, n: Int, existing: Int,
      next: mutable.Map[String, Int], name: String = ""): (String, Gen.Table) = {
    val r = Gen.rng(seed, s"$tag/arrival$a/$table$name")
    val (keys, nx) = Gen.deltaKeys(r, n, existing, next(table))
    next(table) = nx
    val stream = s"$tag/arrival$a/$table$name"
    val t = if (table == "orders") Gen.orders(seed, stream, keys, badPerDelta)
      else Gen.customer(seed, stream, keys, badPerDelta)
    val ext = Seq("csv", "psv", "json")(a % 3)
    f"${if (name.isEmpty) table else name}_${a + 1}%04d.$ext" -> t
  }

  private var pending: IndexedSeq[Seq[(String, Gen.Table)]] = IndexedSeq.empty
  private var initial: Seq[(String, Gen.Table)] = Nil

  /** The set-up batch (the two targets, then a small delta upserted into
    * orders: CSV, PSV and JSON) and one arrival directory per cycle. */
  def generate(dir: File): Unit = {
    targets = new File(dir, "targets")
    arrivals = new File(dir, "arrivals")
    val next = mutable.Map("orders" -> nOrders, "customer" -> nCustomers)
    initial = Seq(
      "customer_0000.csv" -> Gen.customer(seed, "target/customer", (0 until nCustomers).toIndexedSeq, 0),
      "orders_0000.psv" -> Gen.orders(seed, "target/orders", (0 until nOrders).toIndexedSeq, 0),
      delta(2, "warm", "orders", 200, nOrders, next))
    initial.foreach { case (f, t) => Gen.write(t, new File(targets, f)) }
    // arrivals alternate the customer and orders targets; the crashed one
    // also holds the file the crashed run finished
    pending = (0 until cycles).map { a =>
      val fs =
        (if (a == crashedArrival) Seq(delta(a, "delta", "orders", deltaOrders, nOrders, next, "early"))
         else Nil) :+
        (if (a % 2 == 0) delta(a, "delta", "customer", deltaCustomers, nCustomers, next)
         else delta(a, "delta", "orders", deltaOrders, nOrders, next))
      fs.foreach { case (f, t) => Gen.write(t, new File(new File(arrivals, s"a$a"), f)) }
      fs
    }
  }

  /** Loads the targets through the batch runner: the first file of each
    * table creates it, the JSON delta then takes the merge path. This is
    * also the warm-up of every format and of the upsert path. */
  override def load(): Unit = {
    val out = BatchRunner.run(spark, targets.getPath, TargetConfig)
    initial.zip(out.jobs).foreach { case ((f, t), job) =>
      val want = Upserts.applyDelta(state(t.name), t)
      val r = job.result
      require((r.rowsRead, r.rowsInserted, r.rowsUpdated, r.rowsErrored) == want,
        s"set-up load of $f: ${job.result}, expected $want")
    }
  }

  def cycle(a: Int): Seq[Op[_]] = {
    val dir = new File(arrivals, s"a$a")
    val all = pending(a)
    val done = if (a == crashedArrival) all.take(1) else Nil
    val todo = all.drop(done.size)
    var crashedBatch: Option[String] = None
    Seq(new Op[BatchRunner.BatchOutcome]("arrival", todo.map(_._2.rows.size.toLong).sum,
      todo.map(f => new File(dir, f._1).length()).sum,
      prepare = () => if (done.nonEmpty) crashedBatch = Some(simulateCrash(dir, all.size, done)),
      run = () => BatchRunner.run(spark, dir.getPath, TargetConfig),
      check = (out: BatchRunner.BatchOutcome) => {
        val errs = todo.zip(out.jobs).map { case ((f, t), job) =>
          val want = Upserts.applyDelta(state(t.name), t)
          firstError(
            expect(s"$f source", job.sourceFile.endsWith("/" + f), true),
            expect(s"$f status", job.result.status,
              if (t.badRows.nonEmpty) "CompletedWithErrors" else "Completed"),
            expect(s"$f rows", (job.result.rowsRead, job.result.rowsInserted,
              job.result.rowsUpdated, job.result.rowsErrored), want),
            expect(s"$f error rows", errorRows(job.jobRunId), t.badRows.size.toLong),
            landed(dir, f, "processed"))
        }
        firstError(errs :+
          expect("jobs", out.jobs.size, todo.size) :+
          expect("batch", (out.status, out.totalFiles, out.processed, out.failed),
            ("Completed", all.size.toLong, all.size.toLong, 0L)) :+
          crashedBatch.flatMap(id => expect("resumed batch", out.batchJobId, id)): _*)
      }))
  }

  /** Leaves the ledger as a run that crashed after loading `done` would:
    * an InProgress batch row and Completed job rows, written through the
    * ledger's public writers, with the files already moved to processed/.
    * Their rows were never applied here, so the expected state skips them. */
  private def simulateCrash(dir: File, total: Int, done: Seq[(String, Gen.Table)]): String = {
    val id = java.util.UUID.randomUUID().toString
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    Ledger.writeBatchStats(spark, BatchStats(id, dir.getPath, now, None, "InProgress",
      total, done.size, 0, IsResumed = false, OriginalBatchJobID = None))
    done.foreach { case (f, _) =>
      val src = new File(dir, f)
      val moved = new File(new File(dir, "processed"), f)
      moved.getParentFile.mkdirs()
      src.renameTo(moved)
      Ledger.writeJobStats(spark, JobStats(java.util.UUID.randomUUID().toString, now, now, 0,
        "Completed", new org.apache.hadoop.fs.Path(src.toURI).toString,
        graft.analyze.Ddl.tableName(f), 0, 0, 0, 0,
        None, Some(id), "upsert", "tolerant"))
    }
    id
  }

  /** Compares both targets with the expected state, cell by cell. */
  override def finalCheck(): Option[String] = state.toSeq.flatMap { case (table, want) =>
    val got = Upserts.tableState(spark.table(table), Pk(table))
    val missing = want.keySet.diff(got.keySet)
    val extra = got.keySet.diff(want.keySet)
    val wrong = want.collectFirst { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }
    Seq(
      if (missing.nonEmpty) Some(s"$table: ${missing.size} keys missing, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"$table: ${extra.size} unexpected keys, e.g. ${extra.head}") else None,
      wrong.map { case (k, v, g) => s"$table key $k: got $g, expected $v" }).flatten
  }.headOption

  override def ledgerFiles: Int = Etl.ledgerFiles(new File(runDir, "warehouse"))
}

/** The upsert contract computed independently of the program: a target is
  * a map from key to canonical row (column → stored value, None = NULL). */
object Upserts {
  type Row = Map[String, Option[String]]
  def State(): mutable.Map[String, Row] = mutable.Map[String, Row]()

  private val Decimals = Set("o_totalprice", "c_acctbal")

  def canonical(t: Gen.Table, row: IndexedSeq[Gen.Cell]): Row =
    t.columns.zip(row).map { case (c, cell) =>
      c -> cell.value.map(v =>
        if (Decimals(c)) new java.math.BigDecimal(v).setScale(4).toPlainString else v)
    }.toMap

  /** Applies a delta to `s`: rows breaking NOT NULL are dropped, the last
    * row of each key wins and replaces the whole stored row. Returns
    * (read, inserted, updated, errored) as the loader should report them. */
  def applyDelta(s: mutable.Map[String, Row], t: Gen.Table): (Long, Long, Long, Long) = {
    val last = mutable.LinkedHashMap[String, IndexedSeq[Gen.Cell]]()
    t.goodRows.foreach(row => last(row.head.text) = row)
    val ins = last.keys.count(k => !s.contains(k)).toLong
    val upd = last.size - ins
    last.foreach { case (k, row) => s(k) = canonical(t, row) }
    (last.size + t.badRows.size.toLong, ins, upd, t.badRows.size.toLong)
  }

  /** A loaded table in the same canonical form, keyed by `pk`. */
  def tableState(df: DataFrame, pk: String): Map[String, Row] =
    df.collect().map { row =>
      val m = df.schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> Option(row.get(i)).map(v => (f.dataType, v) match {
          case (_: DecimalType, d: java.math.BigDecimal) => d.setScale(4).toPlainString
          case (TimestampType, ts: java.sql.Timestamp) => (ts.getTime / 1000).toString
          case (_, x) => x.toString
        })
      }.toMap
      m(pk).get -> m
    }.toMap
}
