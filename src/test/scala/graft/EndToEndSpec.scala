package graft

import java.nio.file.{Files, Paths}
import graft.core._
import graft.orchestrate.{BatchRunner, ProcessFile}
import graft.ledger.Ledger
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end contracts over real fixture files — the reference's dominant
  * test style (SURVEY §5.1): run the real pipeline, select the table back,
  * assert exact rows + ledger stats. */
class EndToEndSpec extends GraftSuite {

  private def cfg = EngineConfig.default

  test("minimum slice: dates_iso CSV → drop_recreate → typed table + stats row") {
    val dir = tempDir("e2e_iso")
    val f = writeFile(dir, "dates_iso_format.csv", datesIsoCsv)
    val job = ProcessFile.run(spark, f, cfg)
    assert(job.result.status == "Completed")
    assert(job.targetTable == "dates_iso_format")
    assert(job.result.rowsRead == 10 && job.result.rowsInserted == 10)

    val t = spark.table("dates_iso_format")
    assert(t.count() == 10)
    // intended semantics: date columns are TimestampType, not NVARCHAR
    assert(t.schema("birth_date").dataType == TimestampType)
    assert(t.schema("created_date").dataType == TimestampType)
    assert(t.schema("last_login").dataType == TimestampType)
    assert(t.schema("id").dataType == IntegerType)
    assert(t.schema("name").dataType == StringType)
    val mx = t.agg(max("birth_date")).head().getTimestamp(0)
    assert(mx.toString.startsWith("1995-02-28"))
    // DDL parity output
    assert(job.ddl.contains("[birth_date] DATETIME2"))
    assert(job.ddl.contains("[id] INT"))

    // file moved to processed/
    assert(!Files.exists(Paths.get(f)))
    assert(Files.exists(dir.resolve("processed/dates_iso_format.csv")))

    // stats row in ledger
    val stats = Ledger.jobStats(spark).filter(col("SourceFile") === f).head()
    assert(stats.getAs[String]("JobStatus") == "Completed")
    assert(stats.getAs[Long]("RowsRead") == 10)

    // J5: per-file log artifact names the job id (reference
    // setup_file_specific_logging, src/file-to-sql-loader.py:69-101)
    val logFile = dir.resolve(s"logs/process_dates_iso_format_${job.jobRunId}.log")
    assert(Files.exists(logFile), s"missing $logFile")
    val log = Files.readString(logFile)
    assert(log.contains(s"job_run_id=${job.jobRunId}"))
    assert(log.contains("status=Completed") && log.contains("rows_read=10"))
  }

  test("PSV ingest: pipe-delimited, unsupported date format stays string") {
    val dir = tempDir("e2e_psv")
    val f = writeFile(dir, "dates_psv_format.psv", datesPsv)
    val job = ProcessFile.run(spark, f, cfg)
    assert(job.result.status == "Completed")
    val t = spark.table("dates_psv_format")
    assert(t.schema("account_created").dataType == TimestampType)
    assert(t.schema("expiry_date").dataType == StringType) // dd/MM/yyyy unsupported
    assert(t.count() == 3)
  }

  test("JSON ingest: array-of-records with ISO-T timestamps") {
    val dir = tempDir("e2e_json")
    val f = writeFile(dir, "dates_json_format.json", datesJson)
    val job = ProcessFile.run(spark, f, cfg)
    assert(job.result.status == "Completed")
    val t = spark.table("dates_json_format")
    assert(t.count() == 3)
    assert(t.schema("id").dataType == IntegerType)
    assert(t.schema("birth_date").dataType == TimestampType)
    assert(t.schema("created_at").dataType == TimestampType)
  }

  test("upsert end-to-end: update + insert + last-wins duplicate handling") {
    val dir = tempDir("e2e_ups")
    val c = cfg.copy(tableMode = TableMode.Upsert,
      transactionMode = TransactionMode.Tolerant,
      tables = Map("employees" -> TableOverride(Some("employees"), Seq("id"), Map.empty)))

    val f1 = writeFile(dir, "employees.csv", upsertInitialCsv)
    val j1 = ProcessFile.run(spark, f1, c)
    assert(j1.result.status == "Completed")
    assert(spark.table("employees").count() == 3)

    val f2 = writeFile(dir, "employees.csv", upsertUpdateCsv)
    val j2 = ProcessFile.run(spark, f2, c)
    assert(j2.result.status == "Completed")
    val t = spark.table("employees").orderBy("id")
    val rows = t.collect()
    assert(rows.length == 4)
    // id=2 updated
    assert(rows(1).getAs[String]("name") == "Bobby")
    // id=4 inserted with the LAST duplicate winning
    assert(rows(3).getAs[String]("name") == "Dave II")
    assert(j2.result.rowsUpdated == 2 && j2.result.rowsInserted == 1)
    // id=1 untouched
    assert(rows(0).getAs[String]("name") == "Alice")
  }

  test("empty file: upsert mode no-op success, other modes fail") {
    val dir = tempDir("e2e_empty")
    val f1 = writeFile(dir, "empty1.csv", "")
    val j1 = ProcessFile.run(spark, f1,
      cfg.copy(tableMode = TableMode.Upsert))
    assert(j1.result.status == "Completed" && j1.result.rowsRead == 0)
    assert(Files.exists(dir.resolve("processed/empty1.csv")))

    val f2 = writeFile(dir, "empty2.csv", "")
    val j2 = ProcessFile.run(spark, f2, cfg)
    assert(j2.result.status == "Failed")
    assert(Files.exists(dir.resolve("error/empty2.csv")))
  }

  test("tolerant NOT NULL budget: bad rows quarantined, good rows loaded") {
    val dir = tempDir("e2e_tol")
    val csv =
      """id,name
        |1,a
        |,b
        |3,c
        |""".stripMargin
    val f = writeFile(dir, "tol_table.csv", csv)
    val c = cfg.copy(transactionMode = TransactionMode.Tolerant,
      notNullColumns = Map("tol_table" -> Seq("id")))
    val job = ProcessFile.run(spark, f, c)
    assert(job.result.status == "CompletedWithErrors")
    assert(job.result.rowsInserted == 2 && job.result.rowsErrored == 1)
    assert(spark.table("tol_table").count() == 2)
    // error ledger row recorded
    val errs = spark.table(Ledger.JobErrorTable)
      .filter(col("JobRunID") === job.jobRunId)
    assert(errs.count() == 1)
  }

  test("rejected drop_recreate load keeps the existing target") {
    val c = cfg.copy(notNullColumns = Map("dr_keep" -> Seq("id")))
    val first = ProcessFile.run(spark,
      writeFile(tempDir("e2e_keep1"), "dr_keep.csv", "id,name\n1,a\n2,b\n"), c)
    assert(first.result.status == "Completed")
    val dirty = ProcessFile.run(spark,
      writeFile(tempDir("e2e_keep2"), "dr_keep.csv", "id,name\n3,c\n,d\n"), c)
    assert(dirty.result.status == "Failed")
    assert(spark.table("dr_keep").orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("a same-named arrival replaces the older processed/ file and leaves the inbox empty") {
    val dir = tempDir("e2e_again")
    val c = cfg.copy(tableMode = TableMode.Append)
    val j1 = ProcessFile.run(spark, writeFile(dir, "again_x.csv", "id,v\n1,a\n"), c)
    val j2 = ProcessFile.run(spark, writeFile(dir, "again_x.csv", "id,v\n2,b\n"), c)
    assert(j1.result.status == "Completed" && j2.result.status == "Completed")
    assert(!Files.exists(dir.resolve("again_x.csv")), "second arrival stranded in the inbox")
    assert(Files.readString(dir.resolve("processed/again_x.csv")) == "id,v\n2,b\n")
    assert(spark.table("again_x").count() == 2)
  }

  test("a dotted column name is a flat name: strict CSV and JSON loads, tolerant upsert merge") {
    val strict = ProcessFile.run(spark, writeFile(tempDir("e2e_dot1"), "dot_strict.csv",
      "id,unit.price,name\n1,2.50,a\n2,3.75,b\n"), cfg)
    assert(strict.result.status == "Completed", strict.result.errorMessage)
    val t = spark.table("dot_strict")
    assert(t.schema("unit.price").dataType == DecimalType(18, 4))
    assert(t.orderBy("id").collect().map(_.getDecimal(1).doubleValue).toSeq == Seq(2.5, 3.75))
    val json = ProcessFile.run(spark, writeFile(tempDir("e2e_dot3"), "dot_json.json",
      """[{"id": 1, "unit.price": 2.5, "unit.tags": {"a": 1}}]"""), cfg)
    assert(json.result.status == "Completed", json.result.errorMessage)
    val j = spark.table("dot_json")
    assert(j.schema("unit.price").dataType == DecimalType(18, 4))
    assert(j.head().getAs[String]("unit.tags") == """{"a":"1"}""")

    // upsert + tolerant on a dotted key with a dotted NOT NULL column: the
    // second file merges into the first and quarantines its one bad row
    val c = cfg.copy(tableMode = TableMode.Upsert, transactionMode = TransactionMode.Tolerant,
      tables = Map("dot_ups" -> TableOverride(None, Seq("item.id"), Map.empty)),
      notNullColumns = Map("dot_ups" -> Seq("unit.price")))
    val dir = tempDir("e2e_dot2")
    assert(ProcessFile.run(spark, writeFile(dir, "dot_ups.csv",
      "item.id,unit.price\n1,2.50\n2,3.75\n"), c).result.status == "Completed")
    val job = ProcessFile.run(spark, writeFile(dir, "dot_ups.csv",
      "item.id,unit.price\n2,4.00\n3,\n4,1.25\n"), c)
    assert(job.result.status == "CompletedWithErrors", job.result.errorMessage)
    assert(job.result.rowsInserted == 1 && job.result.rowsUpdated == 1 &&
      job.result.rowsErrored == 1)
    val rows = spark.table("dot_ups").orderBy("`item.id`").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toSeq
    assert(rows == Seq(1 -> 2.5, 2 -> 4.0, 4 -> 1.25))
    val errs = spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === job.jobRunId)
      .collect()
    assert(errs.length == 1)
    assert(errs.head.getAs[String]("RawValue").contains("\"item.id\":3"))
  }

  test("a NOT NULL column absent from the file fails the load with one job-stats row") {
    val dir = tempDir("e2e_nn_missing")
    val f = writeFile(dir, "nn_missing.csv", "id,name\n1,a\n2,\n")
    val job = ProcessFile.run(spark, f,
      cfg.copy(notNullColumns = Map("nn_missing" -> Seq("id", "email"))))
    assert(job.result.status == "Failed", job.result)
    assert(Ledger.jobStats(spark).filter(col("JobRunID") === job.jobRunId).count() == 1)
    assert(Files.exists(dir.resolve("error/nn_missing.csv")))
    assert(!spark.catalog.tableExists("nn_missing"))
  }

  test("the logs/ dump holds Spark's JSON-writer line for each bad row, from the ledger's read") {
    val dir = tempDir("e2e_dump")
    val csv = "id,price,seen,note\n" +
      "1,1.50,2024-01-01 10:00:00,plain\n" +
      ",2.25,2024-02-29 23:59:59,\"quote \"\"q\"\", comma\"\n" +
      "3,,,\n" +
      ",,2024-03-01 00:00:01,ünïcödé \\ back\n" +
      ",9.99,,\n"
    val f = writeFile(dir, "dump_eq.csv", csv)
    val c = cfg.copy(transactionMode = TransactionMode.Tolerant, maxRowErrors = 10,
      notNullColumns = Map("dump_eq" -> Seq("id")))
    val job = ProcessFile.run(spark, f, c)
    assert(job.result.status == "CompletedWithErrors", job.result)
    val dump = Files.readAllLines(dir.resolve(s"logs/dump_eq_${job.jobRunId}/part-00000.json"))
      .toArray.toSeq

    // the reference: the same bad rows through Spark's JSON generator
    val moved = dir.resolve("processed/dump_eq.csv").toString
    val raw = graft.ingest.Reader.read(spark, moved, graft.ingest.Detect.detect(spark, moved))
    val profile = graft.analyze.Analyze.profile(raw, Seq("id"))
    val types = graft.analyze.Analyze.inferSchema(profile.columns, c.overridesFor("dump_eq"),
      Seq("id")).map { case (p, t, _) => (p.name, t) }
    val casted = graft.analyze.Analyze.castPlan(graft.ingest.Reader.withRowIndex(raw),
      types :+ ("_row_idx" -> InferredType.BigIntType))
    val bad = graft.load.Loader.split(casted, Seq("id"))._2
    assert(dump == bad.toJSON.collect().toSeq)
    assert(dump.size == 3)

    val errs = spark.table(Ledger.JobErrorTable).filter(col("JobRunID") === job.jobRunId)
      .orderBy("RowNumber").select("RowNumber", "RawValue").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(errs == bad.orderBy("_row_idx").select(col("_row_idx"),
      to_json(struct(bad.columns.filterNot(_ == "_row_idx").map(col).toSeq: _*))).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq)
  }

  /** The ledger a batch that crashed mid-run leaves behind: its batch row
    * as written at the start, and a Completed job row per finished file. */
  private def crashedBatch(dir: java.nio.file.Path, total: Int, finished: Seq[String]): String = {
    val id = java.util.UUID.randomUUID().toString
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    Ledger.writeBatchStats(spark, BatchStats(id, dir.toString, now, None, "InProgress",
      total, 0, 0, IsResumed = false, OriginalBatchJobID = None))
    finished.foreach { name =>
      Ledger.writeJobStats(spark, JobStats(java.util.UUID.randomUUID().toString, now, now, 0,
        "Completed", new org.apache.hadoop.fs.Path(dir.resolve(name).toUri).toString,
        graft.analyze.Ddl.tableName(name), 1, 1, 0, 0, None, Some(id),
        cfg.tableMode.name, cfg.transactionMode.name))
    }
    id
  }

  test("a resumed batch rolls up the files its crashed run finished from their job rows") {
    val dir = tempDir("e2e_rollup")
    // the crashed run loaded and moved the first file; its batch row still
    // says FilesProcessed = 0
    writeFile(Files.createDirectories(dir.resolve("processed")), "rollup_a.csv", "id\n1\n")
    writeFile(dir, "rollup_b.csv", "id\n2\n")
    val id = crashedBatch(dir, 2, Seq("rollup_a.csv"))
    val out = BatchRunner.run(spark, dir.toString, cfg)
    assert(out.batchJobId == id && out.jobs.size == 1)
    assert((out.status, out.totalFiles, out.processed, out.failed) == ("Completed", 2L, 2L, 0L))
    val b = Ledger.currentBatches(spark).filter(col("BatchJobID") === id).head()
    assert(b.getAs[Long]("TotalFiles") == 2 && b.getAs[Long]("FilesProcessed") == 2)
  }

  test("a resume moves a Completed file its crashed run left in the inbox, so it loads once") {
    val dir = tempDir("e2e_unmoved")
    val c = cfg.copy(tableMode = TableMode.Append)
    // the crashed run appended the file's 2 rows and wrote its Completed
    // row, then stopped before the move
    val f = writeFile(dir, "unmoved_t.csv", "id,v\n1,a\n2,b\n")
    val id = crashedBatch(dir, 1, Nil)
    val loaded = ProcessFile.run(spark, "file:" + f, c, Some(id))
    assert(loaded.result.status == "Completed", loaded.result)
    Files.move(dir.resolve("processed/unmoved_t.csv"), dir.resolve("unmoved_t.csv"))

    val resumed = BatchRunner.run(spark, dir.toString, c)
    assert(resumed.batchJobId == id && resumed.jobs.isEmpty)
    assert((resumed.status, resumed.totalFiles, resumed.processed) == ("Completed", 1L, 1L))
    assert(!Files.exists(dir.resolve("unmoved_t.csv")))
    assert(Files.exists(dir.resolve("processed/unmoved_t.csv")))
    BatchRunner.run(spark, dir.toString, c)
    assert(spark.table("unmoved_t").count() == 2)
  }

  test("a resume leaves a same-named file that arrived after the crash for the next batch") {
    val dir = tempDir("e2e_rearrived")
    val c = cfg.copy(tableMode = TableMode.Append)
    // the crashed run loaded and moved the first rearrived_t.csv and
    // wrote its Completed row; then a new file of the same name arrived
    val f = writeFile(dir, "rearrived_t.csv", "id,v\n1,a\n2,b\n")
    val id = crashedBatch(dir, 1, Nil)
    val loaded = ProcessFile.run(spark, "file:" + f, c, Some(id))
    assert(loaded.result.status == "Completed", loaded.result)
    writeFile(dir, "rearrived_t.csv", "id,v\n3,c\n4,d\n")

    val resumed = BatchRunner.run(spark, dir.toString, c)
    assert(resumed.batchJobId == id && resumed.jobs.isEmpty)
    assert(Files.exists(dir.resolve("rearrived_t.csv")))
    BatchRunner.run(spark, dir.toString, c)
    val ids = spark.table("rearrived_t").select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(ids == Seq(1, 2, 3, 4))
  }

  test("batch directory run with checkpoint resume skipping completed files") {
    val dir = tempDir("e2e_batch")
    writeFile(dir, "batch_t1.csv", "name,age,city\nx,1,NY\ny,2,LA\nz,3,SF\n")
    writeFile(dir, "batch_t2.csv", "product,price,category\np1,10,A\np2,20,B\np3,30,C\n")
    val outcome = BatchRunner.run(spark, dir.toString, cfg)
    assert(outcome.status == "Completed")
    assert(outcome.processed == 2 && outcome.failed == 0)
    assert(spark.table("batch_t1").count() == 3)
    assert(spark.table("batch_t2").count() == 3)

    // both files moved; a rerun finds nothing pending and stays Completed
    val outcome2 = BatchRunner.run(spark, dir.toString, cfg)
    assert(outcome2.totalFiles == 0 || outcome2.processed + outcome2.failed == outcome2.totalFiles)

    // batch ledger reflects the roll-up
    val b = Ledger.currentBatches(spark)
      .filter(col("BatchJobID") === outcome.batchJobId).head()
    assert(b.getAs[String]("BatchStatus") == "Completed")
    assert(b.getAs[Long]("FilesProcessed") == 2)
  }

  test("parallel batch (batchParallelism > 1): independent tables overlap, per-table file order stays sequential, ledger/rollup/resume contracts unchanged, failures still count and quarantine") {
    // three target tables x three files each (the reference's _NNN batch
    // suffix folds them onto one table) — the many-small-files shape the
    // bounded pool exists for — plus one poison file (header only: A6
    // fails in append mode)
    val dir = tempDir("e2e_par")
    val tables = Seq("ptab1", "ptab2", "ptab3")
    for (t <- tables; i <- 1 to 3)
      writeFile(dir, s"${t}_00$i.csv",
        s"k,v\n$t-$i-a,$i\n$t-$i-b,${i * 10}\n")
    writeFile(dir, "pbad_001.csv", "k,v\n")
    val pcfg = cfg.copy(tableMode = TableMode.fromName("append"),
      batchParallelism = 4, maxRetries = 1)
    val outcome = BatchRunner.run(spark, dir.toString, pcfg)
    assert(outcome.status == "CompletedWithErrors")
    assert(outcome.processed == 9 && outcome.failed == 1)
    // every table accumulated ALL THREE of its files
    tables.foreach { t =>
      val got = spark.table(t).select(col("k")).collect()
        .map(_.getString(0)).toSet
      assert(got == (1 to 3).flatMap(i => Seq(s"$t-$i-a", s"$t-$i-b")).toSet,
        s"$t: $got")
    }
    // jobs surface in LISTING order — the outcome and rendered report
    // are parallelism-invariant
    val pendingOrder = outcome.jobs.map(_.sourceFile)
    assert(pendingOrder == pendingOrder.sorted && pendingOrder.size == 10)
    // ledger: one Completed row per good file, the failure recorded
    val led = Ledger.jobStats(spark)
      .filter(col("BatchJobID") === outcome.batchJobId)
    assert(led.filter(col("JobStatus") === "Completed").count() == 9)
    assert(led.filter(col("JobStatus") === "Failed").count() >= 1)
    // batch rollup row
    val b = Ledger.currentBatches(spark)
      .filter(col("BatchJobID") === outcome.batchJobId).head()
    assert(b.getAs[String]("BatchStatus") == "CompletedWithErrors" &&
      b.getAs[Long]("FilesProcessed") == 9)
    // a rerun finds nothing pending (files archived/quarantined)
    val outcome2 = BatchRunner.run(spark, dir.toString, pcfg)
    assert(outcome2.totalFiles == 0 ||
      outcome2.processed + outcome2.failed == outcome2.totalFiles)
    // within-table SEQUENTIAL ordering under parallelism: drop_recreate
    // twice on one table must leave the LAST file's rows, exactly as the
    // sequential walk would
    val dir2 = tempDir("e2e_par_seq")
    writeFile(dir2, "ptab4_001.csv", "k,v\nfirst-a,1\nfirst-b,2\n")
    writeFile(dir2, "ptab4_002.csv", "k,v\nsecond-a,3\n")
    val o2 = BatchRunner.run(spark, dir2.toString,
      cfg.copy(batchParallelism = 4))
    assert(o2.status == "Completed" && o2.processed == 2)
    assert(spark.table("ptab4").select(col("k")).collect()
      .map(_.getString(0)).toSet == Set("second-a"),
      "drop_recreate order within one table must stay sequential")
  }

  test("parallel walk containment guard (r15 advice): an unexpected non-Exception Throwable from one file job surfaces as ITS Failed stub — sibling work is never discarded through Await.result") {
    import graft.orchestrate.{BatchRunner, ProcessFile}
    import graft.core.LoadResult
    def stub(f: String, err: Option[Throwable]): ProcessFile.FileJob =
      ProcessFile.FileJob("", f,
        "", LoadResult("Failed", -1, 0, 0, -1, err.map(_.getMessage)), "")
    // the class processOne CANNOT absorb: an Error, not an Exception
    val boom = BatchRunner.guarded("f1.csv",
      _ => throw new AssertionError("engine invariant tripped"), stub)
    assert(boom.result.status == "Failed" &&
      boom.result.errorMessage.contains("engine invariant tripped") &&
      boom.sourceFile == "f1.csv")
    // a normal job passes through untouched
    val ok = ProcessFile.FileJob("", "f2.csv", "t",
      LoadResult("Completed", 2, 2, 0, 0, None), "")
    assert(BatchRunner.guarded("f2.csv", _ => ok, stub) eq ok)
    // NOT contained (r16 advice): a VirtualMachineError is rethrown —
    // stubbing it would write ledger rows on an already-dying JVM
    assertThrows[OutOfMemoryError] {
      BatchRunner.guarded("f3.csv", _ => throw new OutOfMemoryError("boom"), stub)
    }
    // an InterruptedException stubs (the file did not complete) but the
    // thread's interrupt status is RESTORED, never silently swallowed
    val intr = BatchRunner.guarded("f4.csv",
      _ => throw new InterruptedException("cancelled"), stub)
    assert(intr.result.status == "Failed")
    assert(Thread.interrupted(), // reads AND clears, leaving the spec thread clean
      "guarded must restore the interrupt status it caught")
  }

  test("batch report embeds per-file error details (J4 parity with the reference email)") {
    val dir = tempDir("e2e_report")
    writeFile(dir, "rep_good.csv", "id,v\n1,a\n2,b\n")
    writeFile(dir, "rep_bad.csv", "") // empty file fails outside upsert mode
    val outcome = BatchRunner.run(spark, dir.toString, cfg.copy(maxRetries = 1))
    assert(outcome.failed == 1 && outcome.processed == 1)
    val html = graft.report.Report.renderBatch(outcome)
    // reference email body's Error Details section
    // (src/file-to-sql-loader.py:406-414): the failed file's actual error
    // message must be readable from the report, not just a count
    assert(html.contains("<h3>Error Details</h3>"), html)
    val failedJob = outcome.jobs.find(_.result.status == "Failed").get
    val msg = failedJob.result.errorMessage.getOrElse(fail("failed job has no errorMessage"))
    assert(html.contains(msg), s"missing '$msg' in\n$html")
    assert(html.contains("rep_bad.csv"))
    // a clean outcome renders no error section
    val clean = outcome.copy(jobs = outcome.jobs.filter(_.result.status != "Failed"))
    assert(!graft.report.Report.renderBatch(clean).contains("Error Details"))
  }

  test("--check-deps environment report passes on a healthy session") {
    // a health check must not provision its own environment — make it
    // healthy explicitly, then check
    Files.createDirectories(Paths.get(cfg.warehouseDir))
    Files.createDirectories(Paths.get(cfg.emailReportDir))
    assert(graft.orchestrate.Main.checkDeps(spark, cfg))
  }

  test("--check-deps reports a missing directory as FAILED without creating it") {
    val ghost = tempDir("checkdeps").resolve("does_not_exist").toString
    assert(!graft.orchestrate.Main.checkDeps(spark, cfg.copy(warehouseDir = ghost)))
    assert(!Files.exists(Paths.get(ghost)), "health check silently provisioned the path")
  }
}

/** J3 retry contract: failures retry up to maxRetries; the file is only
  * quarantined on the final attempt. */
class RetrySpec extends GraftSuite {
  test("batch retry: deterministic failure retried, quarantined only at the end") {
    val dir = tempDir("retry")
    // empty file in non-upsert mode fails deterministically
    writeFile(dir, "retry_bad.csv", "")
    writeFile(dir, "retry_good.csv", "id,v\n1,a\n2,b\n")
    val cfg = graft.core.EngineConfig.default.copy(maxRetries = 3)
    val outcome = graft.orchestrate.BatchRunner.run(spark, dir.toString, cfg)
    assert(outcome.status == "CompletedWithErrors")
    assert(outcome.processed == 1 && outcome.failed == 1)
    // the bad file sits in error/ exactly once (not moved on attempts 1-2)
    assert(java.nio.file.Files.exists(dir.resolve("error/retry_bad.csv")))
    assert(java.nio.file.Files.exists(dir.resolve("processed/retry_good.csv")))
    // ledger carries one stats row per attempt for the failing file
    val attempts = graft.ledger.Ledger.jobStats(spark)
      .filter(org.apache.spark.sql.functions.col("SourceFile")
        .endsWith("retry_bad.csv"))
      .count()
    assert(attempts == 3, s"expected 3 attempt rows, got $attempts")
  }
}
