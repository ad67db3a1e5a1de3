package graft.orchestrate

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.EngineConfig
import graft.report.Report

/** CLI (reference `main()` src/file-to-sql-loader.py:1503-1515 + shell
  * wrapper arg surface run-file-to-sql-loader.sh:44-85):
  * `graft.orchestrate.Main <input_path> [--config f] [--file|--directory]
  * [--setup-only] [--check-deps] [-v]`. A file argument runs the
  * single-file job; a directory runs the checkpointed batch; `--setup-only`
  * just provisions the ledger tables; `--check-deps` reports environment
  * health and exits. Exit code 1 on failure (reference :1686-1687). */
object Main {

  final case class CliArgs(
      input: Option[String], config: Option[String], forceFile: Boolean,
      forceDir: Boolean, setupOnly: Boolean, checkDeps: Boolean,
      verbose: Boolean)

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    val config = cli.config.map(EngineConfig.load).getOrElse(EngineConfig.default)

    // persistent metastore: catalog tables (incl. the ledger) survive
    // across CLI invocations — the analog of the reference's RDBMS-backed
    // system tables
    val spark = graft.Sessions.create("graft-etl", Some(config.warehouseDir))
    if (cli.verbose) spark.sparkContext.setLogLevel("INFO")

    try {
      if (cli.checkDeps) {
        if (!checkDeps(spark, config)) sys.exit(1)
        return
      }
      if (cli.setupOnly) {
        graft.ledger.Ledger.ensureTables(spark)
        println("[graft] setup complete: ledger tables provisioned")
        return
      }
      val inputPath = cli.input.getOrElse {
        System.err.println("usage: Main <input_path> [--config file.yaml] " +
          "[--file|--directory] [--setup-only] [--check-deps] [-v]")
        spark.stop(); sys.exit(1); ""
      }
      val path = Paths.get(inputPath)
      if (!Files.exists(path)) {
        System.err.println(s"[graft] error: input path does not exist: $inputPath")
        spark.stop()
        sys.exit(1)
      }
      if (cli.forceFile && Files.isDirectory(path)) {
        System.err.println(s"[graft] error: --file given but $inputPath is a directory")
        spark.stop(); sys.exit(1)
      }
      if (cli.forceDir && !Files.isDirectory(path)) {
        System.err.println(s"[graft] error: --directory given but $inputPath is a file")
        spark.stop(); sys.exit(1)
      }
      val ok =
        if (Files.isDirectory(path)) {
          val outcome = BatchRunner.run(spark, inputPath, config)
          println(s"[graft] batch ${outcome.batchJobId}: ${outcome.status} " +
            s"(${outcome.processed}/${outcome.totalFiles} processed, ${outcome.failed} failed)")
          outcome.status != "Failed"
        } else {
          val job = ProcessFile.run(spark, inputPath, config)
          if (config.emailEnabled) Report.writeJobReport(spark, job, config)
          println(s"[graft] job ${job.jobRunId}: ${job.result.status} " +
            s"(read=${job.result.rowsRead} ins=${job.result.rowsInserted} " +
            s"upd=${job.result.rowsUpdated} err=${job.result.rowsErrored})")
          job.result.status != "Failed"
        }
      if (!ok) sys.exit(1)
    } finally spark.stop()
  }

  /** Environment sanity report (reference wrapper's `--check-deps`,
    * run-file-to-sql-loader.sh:399-446,516-521): what the shell script
    * verifies for its Python/venv world — interpreter, packages, script,
    * config — maps here to the Spark runtime, catalog/warehouse
    * writability and the configured report directory. Prints one ✅/❌
    * line per check and returns whether all passed (exit 1 otherwise,
    * matching the wrapper). */
  def checkDeps(spark: SparkSession, config: EngineConfig): Boolean = {
    var allGood = true
    def check(name: String, detail: => String)(ok: => Boolean): Unit = {
      val passed = try ok catch { case e: Exception => allGood = false
        println(s"[graft] ❌ $name: ${e.getMessage}"); return }
      if (!passed) allGood = false
      println(s"[graft] ${if (passed) "✅" else "❌"} $name: $detail")
    }
    check("spark runtime", s"Spark ${spark.version}, Scala ${util.Properties.versionNumberString}, " +
      s"Java ${System.getProperty("java.version")}")(spark.version.nonEmpty)
    check("catalog/metastore", s"database '${config.database}' reachable") {
      spark.catalog.databaseExists("default") || spark.catalog.listDatabases().count() >= 0
    }
    // a health check must not mutate the environment: a missing directory
    // is reported as a FAILED check (likely misconfiguration), not silently
    // provisioned — the run paths create it on demand, this only reports
    def checkDirWritable(name: String, path: String): Unit =
      check(name, path) {
        val d = Paths.get(path)
        if (!Files.isDirectory(d))
          throw new java.nio.file.NoSuchFileException(
            s"$path does not exist (checked, not created — verify the configured path)")
        val probe = Files.createTempFile(d, ".graft-check", "")
        Files.delete(probe); true
      }
    checkDirWritable("warehouse dir writable", config.warehouseDir)
    checkDirWritable("report dir writable", config.emailReportDir)
    check("config", s"modes ${config.tableMode}/${config.transactionMode}, " +
      s"maxRowErrors=${config.maxRowErrors}, maxRetries=${config.maxRetries}")(
      config.maxRowErrors >= 0 && config.maxRetries >= 0)
    println(if (allGood) "[graft] all dependency checks passed"
      else "[graft] some dependency checks FAILED")
    allGood
  }

  private def parseArgs(args: Array[String]): CliArgs = {
    var cli = CliArgs(None, None, forceFile = false, forceDir = false,
      setupOnly = false, checkDeps = false, verbose = false)
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--config" if i + 1 < args.length =>
          cli = cli.copy(config = Some(args(i + 1))); i += 2
        case "--file" => cli = cli.copy(forceFile = true); i += 1
        case "--directory" => cli = cli.copy(forceDir = true); i += 1
        case "--setup-only" => cli = cli.copy(setupOnly = true); i += 1
        case "--check-deps" => cli = cli.copy(checkDeps = true); i += 1
        case "-v" | "--verbose" => cli = cli.copy(verbose = true); i += 1
        case a if !a.startsWith("-") => cli = cli.copy(input = Some(a)); i += 1
        case a => throw new IllegalArgumentException(s"unknown argument: $a")
      }
    }
    if (!cli.setupOnly && !cli.checkDeps && cli.input.isEmpty)
      throw new IllegalArgumentException(
        "usage: Main <input_path> [--config file.yaml] [--file|--directory] " +
          "[--setup-only] [--check-deps] [-v]")
    cli
  }
}
