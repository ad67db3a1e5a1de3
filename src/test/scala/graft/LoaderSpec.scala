package graft

import graft.core._
import graft.load.{Loader, Upsert}
import graft.ingest.Reader
import org.apache.spark.sql.functions._

/** Engine configs for driving `Loader.load` directly. */
object LoadConf {
  def apply(mode: TableMode, txn: TransactionMode = TransactionMode.Strict,
      notNull: Map[String, Seq[String]] = Map.empty, maxRowErrors: Int = 100): EngineConfig =
    EngineConfig.default.copy(tableMode = mode, transactionMode = txn,
      notNullColumns = notNull, maxRowErrors = maxRowErrors)
  val upsert: EngineConfig = apply(TableMode.Upsert)
  /** The NOT NULL gate of a frame with no NOT NULL column. */
  val noGate: NotNullGate = NotNullGate(Nil, 0L)
}

class UpsertSpec extends GraftSuite {
  import spark.implicits._

  test("merge: matched rows update, unmatched insert, untouched keep") {
    val target = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "v")
    val source = Seq((2, "b2", 21.0), (3, "c", 30.0)).toDF("id", "name", "v")
    val out = Upsert.merge(target, source, Seq("id"))
      .orderBy("id").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(out(0).getString(1) == "a" && out(0).getString(3) == "kept")
    assert(out(1).getString(1) == "b2" && out(1).getString(3) == "updated")
    assert(out(2).getString(1) == "c" && out(2).getString(3) == "inserted")
  }

  test("last-wins dedup keeps the highest ordinal per key") {
    val src = Seq((1, "first", 0L), (1, "last", 1L), (2, "only", 2L))
      .toDF("id", "name", "_row_idx")
    val out = Upsert.dedupLastWins(src, Seq("id"), "_row_idx")
      .orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("last", "only"))
  }

  test("snapshotDiff classifies inserted/deleted/changed/unchanged; null-safe") {
    val old = Seq((1, Some("a"), 10.0), (2, Some("b"), 20.0), (3, None, 30.0),
      (4, Some("d"), 40.0)).toDF("id", "name", "v")
    val neu = Seq((1, Some("a"), 10.0), (2, Some("B"), 20.0), (3, None, 30.0),
      (5, Some("e"), 50.0)).toDF("id", "name", "v")
    val out = Upsert.snapshotDiff(old, neu, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "unchanged", 2 -> "changed",
      3 -> "unchanged", // null == null under null-safe compare
      4 -> "deleted", 5 -> "inserted"))
  }

  test("snapshotDiff laws: diff(x,x) is all-unchanged; diff(target, merge) = source changes") {
    val target = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "name", "v")
    // reflexivity
    val self = Upsert.snapshotDiff(target, target, Seq("id"))
    assert(self.filter(col("change") =!= "unchanged").count() == 0)
    // merge-consistency: diffing target vs merged reproduces the merge's
    // own action classification (kept -> unchanged, updated with actual
    // value change -> changed, inserted -> inserted)
    val source = Seq((2, "b2", 21.0), (4, "d", 40.0)).toDF("id", "name", "v")
    val merged = Upsert.merge(target, source, Seq("id")).drop("__merge_action")
    val diff = Upsert.snapshotDiff(target, merged, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(diff == Map(1 -> "unchanged", 2 -> "changed", 3 -> "unchanged", 4 -> "inserted"))
  }

  test("snapshotDiff surfaces schema drift: dropped/added columns mark rows changed") {
    // a column present on only one side compares against null, so rows
    // differing only in that column classify as "changed", not silently
    // "unchanged" (CDC schema drift must not be masked)
    val old = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "v")
    val dropped = Seq((1, "a"), (2, "b")).toDF("id", "name") // v dropped
    val d1 = Upsert.snapshotDiff(old, dropped, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(d1 == Map(1 -> "changed", 2 -> "changed"))
    val added = old.withColumn("extra", lit("x")) // extra added
    val d2 = Upsert.snapshotDiff(old, added, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(d2 == Map(1 -> "changed", 2 -> "changed"))
    // but an added column that is all-null does not flag changes
    val addedNull = old.withColumn("extra", lit(null).cast("string"))
    val d3 = Upsert.snapshotDiff(old, addedNull, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(d3 == Map(1 -> "unchanged", 2 -> "unchanged"))
    // helper-name collision is rejected loudly
    val err = intercept[IllegalArgumentException] {
      Upsert.snapshotDiff(old.withColumnRenamed("v", "__o_name"), old, Seq("id"))
    }
    assert(err.getMessage.contains("collide"), err.getMessage)
  }

  test("JdbcSink integration: full load + upsert round-trip on embedded Derby") {
    // Derby ships with Spark (metastore dependency) — a REAL JDBC server
    // path: executor-parallel write, metadata probe, drop, rename swap.
    val sink = graft.load.JdbcSink("jdbc:derby:memory:graftjdbc;create=true",
      dialect = "derby")
    // strict insert (drop_recreate)
    val df = Seq(("1", "x"), ("2", "y")).toDF("id", "name")
    val (r1, _) = Loader.load(spark, df, "jdbc_t",
      LoadConf(TableMode.DropRecreate), NotNullGate(Seq("id"), 0L), sink)
    assert(r1.status == "Completed" && r1.rowsInserted == 2)
    assert(sink.read(spark, "jdbc_t").count() == 2)
    assert(sink.exists(spark, "jdbc_t"))
    // upsert: create then merge + RENAME TABLE swap, all over JDBC
    val s1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r2 = Loader.load(spark, s1, "jdbc_u", LoadConf.upsert, LoadConf.noGate, sink)._1
    assert(r2.rowsInserted == 2)
    val s2 = Seq((2, "b2"), (3, "c")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r3 = Loader.load(spark, s2, "jdbc_u", LoadConf.upsert, LoadConf.noGate, sink)._1
    assert(r3.rowsInserted == 1 && r3.rowsUpdated == 1)
    val rows = sink.read(spark, "jdbc_u").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b2"), (3, "c")))
    // that upsert ran as a server-side MERGE (pushdown default): the
    // staging table must be cleaned up afterwards
    assert(!sink.exists(spark, "jdbc_u__merge_stage"))
    // the Spark-side read-merge-rename fallback (mergePushdown = false)
    // produces the identical table and counts
    val swapSink = sink.copy(mergePushdown = false)
    val s3 = Seq((3, "c3"), (4, "d")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r4 = Loader.load(spark, s3, "jdbc_u", LoadConf.upsert, LoadConf.noGate, swapSink)._1
    assert(r4.rowsInserted == 1 && r4.rowsUpdated == 1)
    val rows2 = sink.read(spark, "jdbc_u").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows2 == Seq((1, "a"), (2, "b2"), (3, "c3"), (4, "d")))
    // drop cleans up; fail-mode probe sees absence
    sink.drop(spark, "jdbc_t"); sink.drop(spark, "jdbc_u")
    assert(!sink.exists(spark, "jdbc_u"))
  }

  test("JdbcSink: MERGE pushdown declines gracefully when the server rejects it") {
    // string pk: Spark's JDBC writer creates it as CLOB on Derby, and
    // Derby rejects CLOB equality in the MERGE's ON clause — the pushdown
    // must return None (fall back to the Spark read-merge-swap), NOT fail
    // the load; the old non-pushdown route always handled this case.
    val sink = graft.load.JdbcSink("jdbc:derby:memory:graftjdbc2;create=true",
      dialect = "derby")
    val s1 = Seq(("k1", "a"), ("k2", "b")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r1 = Loader.load(spark, s1, "jdbc_clob", LoadConf.upsert, LoadConf.noGate, sink)._1
    assert(r1.rowsInserted == 2)
    val s2 = Seq(("k2", "b2"), ("k3", "c")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r2 = Loader.load(spark, s2, "jdbc_clob", LoadConf.upsert, LoadConf.noGate, sink)._1
    assert(r2.status == "Completed", s"load must not fail: ${r2.errorMessage}")
    assert(r2.rowsInserted == 1 && r2.rowsUpdated == 1)
    val rows = sink.read(spark, "jdbc_clob").orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("k1", "a"), ("k2", "b2"), ("k3", "c")))
    // the declined pushdown must still have cleaned its staging table
    assert(!sink.exists(spark, "jdbc_clob__merge_stage"))
    sink.drop(spark, "jdbc_clob")
  }

  test("upsert is idempotent: applying the same source twice = once") {
    val t1 = s"ups_idem_${System.nanoTime()}"
    val init = Seq((1, "a"), (2, "b")).toDF("id", "name")
    init.write.format("parquet").saveAsTable(t1)
    val src = Seq((2, "b2"), (3, "c")).toDF("id", "name")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r1 = Loader.load(spark, src, t1, LoadConf.upsert, LoadConf.noGate)._1
    val after1 = spark.table(t1).orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val r2 = Loader.load(spark, src, t1, LoadConf.upsert, LoadConf.noGate)._1
    val after2 = spark.table(t1).orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(after1 == Seq((1, "a"), (2, "b2"), (3, "c")))
    assert(after1 == after2)
    assert(r1.rowsInserted == 1 && r1.rowsUpdated == 1)
    assert(r2.rowsInserted == 0 && r2.rowsUpdated == 2)
  }
}

class LoaderSpec extends GraftSuite {
  import spark.implicits._

  test("strict mode rejects the whole file on any invalid row") {
    val t = s"strict_${System.nanoTime()}"
    val df = Seq(("1", "x"), (null, "y")).toDF("id", "name")
    val (r, logged) = Loader.load(spark, df, t,
      LoadConf(TableMode.DropRecreate), NotNullGate(Seq("id"), 1L))
    assert(r.status == "Failed" && r.rowsErrored == 1 && logged.isEmpty)
  }

  test("tolerant mode loads valid rows when bad count is within budget") {
    val t = s"tol_${System.nanoTime()}"
    val df = Seq(("1", "x"), (null, "y"), ("3", "z")).toDF("id", "name")
    val (r, logged) = Loader.load(spark, df, t, LoadConf(TableMode.DropRecreate,
      TransactionMode.Tolerant, maxRowErrors = 1), NotNullGate(Seq("id"), 1L))
    assert(logged.map(_.count()).contains(1L))
    assert(r.status == "CompletedWithErrors")
    assert(r.rowsInserted == 2 && r.rowsErrored == 1)
    assert(spark.table(t).count() == 2)
  }

  test("tolerant mode rejects when bad count exceeds budget") {
    val t = s"tolrej_${System.nanoTime()}"
    val df = Seq(("1", "x"), (null, "y"), (null, "z")).toDF("id", "name")
    val (r, logged) = Loader.load(spark, df, t, LoadConf(TableMode.DropRecreate,
      TransactionMode.Tolerant, maxRowErrors = 1), NotNullGate(Seq("id"), 2L))
    assert(r.status == "Failed" && r.rowsErrored == 2)
    assert(logged.map(_.count()).contains(2L), "over-budget tolerant rows still reach the ledger")
  }

  test("strict rejections in insert and upsert modes write zero error rows and report the bad count") {
    val dir = tempDir("strict_rej")
    Seq(TableMode.DropRecreate, TableMode.Upsert).foreach { mode =>
      val t = s"strict_rej_${mode.name}"
      val f = writeFile(dir, s"$t.csv", "id,name\n1,a\n,b\n,c\n4,d\n")
      val job = graft.orchestrate.ProcessFile.run(spark, f,
        LoadConf(mode, notNull = Map(t -> Seq("id"))))
      assert(job.result.status == "Failed", mode.name)
      assert(job.result.rowsErrored == 2, s"${mode.name}: ${job.result}")
      val errs = spark.table(graft.ledger.Ledger.JobErrorTable)
        .filter(col("JobRunID") === job.jobRunId).count()
      assert(errs == 0, s"${mode.name}: $errs error-ledger rows")
      assert(!java.nio.file.Files.exists(dir.resolve(s"logs/${t}_${job.jobRunId}")))
      assert(java.nio.file.Files.exists(dir.resolve(s"error/$t.csv")))
      assert(!spark.catalog.tableExists(t))
    }
  }

  test("fail mode errors when the table exists") {
    val t = s"failmode_${System.nanoTime()}"
    Seq((1, "a")).toDF("id", "v").write.format("parquet").saveAsTable(t)
    intercept[IllegalStateException] {
      Loader.load(spark, Seq((2, "b")).toDF("id", "v"), t, LoadConf(TableMode.Fail), LoadConf.noGate)
    }
  }

  test("TableSink seam: every load path routes through the sink (JDBC-shaped contract)") {
    // In-memory sink standing where JdbcSink would: Loader must never
    // bypass the trait (the reference's SQL-Server story,
    // src/file-to-sql-loader.py:661-694, :989-995, hangs on this seam).
    import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
    class MemSink extends graft.load.TableSink {
      val tables = scala.collection.mutable.Map[String, DataFrame]()
      val calls = scala.collection.mutable.ArrayBuffer[String]()
      override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
        calls += s"write:$table:$mode"
        val mat = df.cache(); mat.count() // fire Observation metrics
        tables(table) = mode match {
          case SaveMode.Append if tables.contains(table) => tables(table).union(mat)
          case _ => mat
        }
      }
      override def read(spark: SparkSession, table: String): DataFrame = tables(table)
      override def exists(spark: SparkSession, table: String): Boolean = {
        calls += s"exists:$table"; tables.contains(table)
      }
      override def drop(spark: SparkSession, table: String): Unit = {
        calls += s"drop:$table"; tables.remove(table)
      }
      override def rename(spark: SparkSession, from: String, to: String): Unit = {
        calls += s"rename:$from:$to"; tables(to) = tables(from); tables.remove(from)
      }
    }
    val sink = new MemSink
    // strict insert
    val df = Seq(("1", "x"), ("2", "y")).toDF("id", "name")
    val (r1, _) = Loader.load(spark, df, "mem_t",
      LoadConf(TableMode.DropRecreate), NotNullGate(Seq("id"), 0L), sink)
    assert(r1.status == "Completed" && r1.rowsInserted == 2)
    assert(sink.tables("mem_t").count() == 2)
    // upsert: create, then merge + swap through the sink
    val src1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r2 = Loader.load(spark, src1, "mem_u", LoadConf.upsert, LoadConf.noGate, sink)._1
    assert(r2.rowsInserted == 2)
    val src2 = Seq((2, "b2"), (3, "c")).toDF("id", "v")
      .withColumn("_row_idx", monotonically_increasing_id())
    val r3 = Loader.load(spark, src2, "mem_u", LoadConf.upsert, LoadConf.noGate, sink)._1
    assert(r3.rowsInserted == 1 && r3.rowsUpdated == 1)
    val rows = sink.tables("mem_u").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b2"), (3, "c")))
    assert(sink.calls.exists(_.startsWith("rename:mem_u__upsert_next:mem_u")))
    // nothing leaked into the real catalog
    assert(!spark.catalog.tableExists("mem_t") && !spark.catalog.tableExists("mem_u"))
  }
}

class ConfigSpec extends GraftSuite {
  test("YAML config parses the reference's key surface") {
    val yaml =
      """loader:
        |  table_mode: upsert
        |  transaction_mode: tolerant
        |  max-row-errors: 10
        |  max_retries: 3
        |ddl:
        |  not_null_columns:
        |    customers: [id, email]
        |batch_processing:
        |  enable_checkpointing: true
        |  max_resume_age_hours: 12
        |  parallelism: 4
        |tables:
        |  legacy:
        |    override_table_name: legacy_data
        |    primary_key_columns: [code, region]
        |    disputed_columns:
        |      notes:
        |        max_length: 500
        |upsert:
        |  primary_key_columns: [id]
        |""".stripMargin
    val c = EngineConfig.fromYaml(yaml)
    assert(c.tableMode == TableMode.Upsert)
    assert(c.transactionMode == TransactionMode.Tolerant)
    assert(c.maxRowErrors == 10 && c.maxRetries == 3)
    assert(c.notNullColumns("customers") == Seq("id", "email"))
    assert(c.maxResumeAgeHours == 12)
    assert(c.batchParallelism == 4)
    val o = c.overridesFor("legacy")
    assert(o.overrideTableName.contains("legacy_data"))
    assert(o.primaryKeyColumns == Seq("code", "region"))
    assert(o.disputedColumns("notes") == 500)
    assert(c.primaryKeyFor("other") == Seq("id"))
  }
  test("empty YAML yields defaults") {
    val c = EngineConfig.fromYaml("")
    assert(c.tableMode == TableMode.DropRecreate)
    assert(c.maxRowErrors == 100)
  }
}
