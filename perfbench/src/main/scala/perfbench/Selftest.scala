package perfbench

import java.io.File
import graft.core._
import graft.orchestrate.{BatchRunner, ProcessFile}

/** JVM side of `selftest.py`. */
object Selftest {

  /** Input generation alone, at a tiny scale: every ETL file kind plus the
    * query tables, for the determinism check. */
  def gen(seed: Long, dir: File): Unit = {
    Gen.write(Gen.lineitem(seed, "selftest/lineitem", 200, 3), new File(dir, "lineitem.csv"))
    Gen.write(Gen.lineitem(seed, "selftest/lineitem", 200, 3), new File(dir, "lineitem.psv"))
    val keys = Gen.deltaKeys(Gen.rng(seed, "selftest/keys"), 200, 150, 150)._1
    Gen.write(Gen.orders(seed, "selftest/orders", keys, 3), new File(dir, "orders.json"))
    Gen.write(Gen.customer(seed, "selftest/customer", keys, 3), new File(dir, "customer.csv"))
    val spark = Main.session(new File(dir, ".spark"), 1, hive = false)
    try Gen.queryTables(spark, seed, 0.0005, new File(dir, "tables"))
    finally spark.stop()
    Files.deleteRecursively(new File(dir, ".spark"))
  }

  private def cell(s: String): Gen.Cell =
    Gen.Cell(s, if (s.isEmpty || s == "nan") None else Some(s))
  private def date(text: String, epochSeconds: Long): Gen.Cell =
    Gen.Cell(text, Some(epochSeconds.toString))

  /** A hand-checked upsert: a target of keys 3 and 5, then one delta with a
    * NOT NULL violation (key 2), a repeated key (1, the later row wins), an
    * update with absent values (3) and a new key (4). Writes what the
    * benchmark expects, what the loader reported and the final table to
    * `<dir>/case.json`, for `selftest.py` to compare with its hand-written
    * answer. */
  def handCase(dir: File): Unit = {
    val cols = Gen.OrdersCols
    def row(k: String, cust: String, st: String, price: String, d: Gen.Cell, prio: String,
        cmt: String) = IndexedSeq(cell(k), cell(cust), cell(st), cell(price), d, cell(prio), cell(cmt))
    val target = Gen.Table("orders", cols, IndexedSeq(
      row("3", "33", "F", "300.03", date("2024-01-01", 1704067200L), "1-URGENT", "x"),
      row("5", "55", "O", "500.05", date("2024-01-01", 1704067200L), "2-HIGH", "y")), Set.empty)
    val delta = Gen.Table("orders", cols, IndexedSeq(
      row("1", "10", "F", "100.01", date("2024-01-02", 1704153600L), "1-URGENT", "a"),
      row("2", "", "O", "200.02", date("01/03/2024", 1704240000L), "2-HIGH", "b"),
      row("3", "30", "P", "nan", date("03-01-2024 10:00:00", 1704276000L), "", "c"),
      row("1", "11", "F", "101.01", date("2024-01-02 06:00:00", 1704175200L), "5-LOW", "d"),
      row("4", "40", "O", "400.04", date("01/05/2024 00:00:01", 1704412801L), "3-MEDIUM", "e")),
      Set(1))
    val spark = Main.session(new File(dir, ".spark"), 1, hive = false)
    try {
      val cfg = Etl.config(TableMode.Upsert, TransactionMode.Tolerant)
        .copy(tables = Map("orders" -> TableOverride(None, Seq("o_orderkey"), Map.empty)))
      Gen.write(target, new File(dir, "target/orders.csv"))
      val t = ProcessFile.run(spark, new File(dir, "target/orders.csv").getPath,
        cfg.copy(tableMode = TableMode.DropRecreate, transactionMode = TransactionMode.Strict))
      require(t.result.status == "Completed", s"target load: ${t.result}")
      Gen.write(delta, new File(dir, "arrival/orders_0001.csv"))
      val state = Upserts.State()
      target.rows.foreach(r => state(r.head.text) = Upserts.canonical(target, r))
      val expected = Upserts.applyDelta(state, delta)
      val out = BatchRunner.run(spark, new File(dir, "arrival").getPath, cfg)
      val r = out.jobs.head.result
      val table = Upserts.tableState(spark.table("orders"), "o_orderkey")
      val json = Map(
        "expected" -> Seq(expected._1, expected._2, expected._3, expected._4),
        "expected_table" -> state.toMap,
        "outcome" -> Seq(r.rowsRead, r.rowsInserted, r.rowsUpdated, r.rowsErrored),
        "status" -> r.status,
        "error_rows" -> Etl.errorRows(out.jobs.head.jobRunId),
        "table" -> table)
      java.nio.file.Files.writeString(new File(dir, "case.json").toPath, Json.render(json))
    } finally spark.stop()
  }
}
