package graft.load

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** The four table modes × two transaction modes as one DataFrame program
  * (reference dispatch src/file-to-sql-loader.py:947-963; existing-table
  * handling :908-926; strict insert :965-1012; tolerant insert
  * :1014-1068; upserts :1169-1270).
  *
  * Semantic restatement (SURVEY §7.4 note 1): the reference aborts a
  * tolerant load after the first `maxRowErrors` failures in file order and
  * rolls back. Order-dependence doesn't survive distribution; here the
  * budget check is `invalidCount > maxRowErrors` over the whole file —
  * deterministic, order-free, and identical on every test the reference
  * ships.
  *
  * Outcome of [[load]] for `nBad` invalid rows (`n` rows written; `ins`
  * and `upd` are the upsert's observed counts). Error-ledger rows are the
  * bad rows `load` hands back for the ledger and the `logs/` dump; the
  * file destination is what `ProcessFile` does with the status.
  *
  * | table mode                  | txn      | when                 | status                | read / inserted / updated / errored | error-ledger rows | file       |
  * |-----------------------------|----------|----------------------|-----------------------|-------------------------------------|-------------------|------------|
  * | fail                        | either   | target exists        | Failed (thrown)       | -1 / 0 / 0 / -1                     | 0                 | error/     |
  * | any                         | strict   | nBad > 0             | Failed                | -1 / 0 / 0 / nBad                   | 0                 | error/     |
  * | any                         | tolerant | nBad > maxRowErrors  | Failed                | -1 / 0 / 0 / nBad                   | nBad              | error/     |
  * | drop_recreate, append, fail | strict   | nBad = 0             | Completed             | n / n / 0 / 0                       | 0                 | processed/ |
  * | drop_recreate, append, fail | tolerant | nBad ≤ maxRowErrors  | Completed[WithErrors] | n+nBad / n / 0 / nBad               | nBad              | processed/ |
  * | upsert                      | strict   | nBad = 0             | Completed             | ins+upd / ins / upd / 0             | 0                 | processed/ |
  * | upsert                      | tolerant | nBad ≤ maxRowErrors  | Completed[WithErrors] | ins+upd+nBad / ins / upd / nBad     | nBad              | processed/ |
  *
  * "Completed[WithErrors]" is CompletedWithErrors when nBad > 0. A
  * rejection changes no table: the gate runs before the drop_recreate
  * drop. Upsert dedups the good rows last-wins on `_row_idx`; with no
  * target it inserts them all, otherwise a sink with a native merge (JDBC
  * MERGE pushdown) takes it, else the full-outer merge is written to
  * `<table>__upsert_next` and swapped in. The temp-table + rename swap
  * stands in for an atomic catalog commit (MERGE INTO on a lakehouse
  * table format at production scale — SURVEY §7.4 note 4).
  */
object Loader {

  /** Validity split: `good` rows satisfy all NOT NULL constraints after
    * casting; `bad` rows violate at least one. */
  private def split(castDf: DataFrame, notNull: Seq[String]): (DataFrame, DataFrame) = {
    if (notNull.isEmpty) (castDf, castDf.limit(0))
    else {
      val ok = notNull.foldLeft(lit(true))((acc, c) => acc && col(c).isNotNull)
      (castDf.filter(ok), castDf.filter(!ok))
    }
  }

  /** Loads the cast rows of one file into `table` under `config`'s table
    * and transaction modes (see the table above). Returns the result and
    * the bad rows the error ledger should record, if any. */
  def load(spark: SparkSession, casted: DataFrame, table: String, config: EngineConfig,
      sink: TableSink = CatalogSink): (LoadResult, Option[DataFrame]) = {
    val mode = config.tableMode
    if (mode == TableMode.Fail && sink.exists(spark, table))
      throw new IllegalStateException(s"table $table already exists (table_mode=fail)")

    val (good, bad) = split(casted, config.notNullColumns.getOrElse(table, Nil))
    val strict = config.transactionMode == TransactionMode.Strict
    val nBad = bad.count()
    val logged = if (strict || nBad == 0) None else Some(bad)
    if (nBad > (if (strict) 0 else config.maxRowErrors)) {
      val why =
        if (strict) "validation failed in strict mode: at least one invalid row"
        else s"row errors $nBad exceed budget ${config.maxRowErrors}"
      return (LoadResult("Failed", -1, 0, 0, nBad, Some(why)), logged)
    }

    if (mode == TableMode.DropRecreate) sink.drop(spark, table)
    val (ins, upd) =
      if (mode == TableMode.Upsert) upsert(spark, good, table, config.primaryKeyFor(table), sink)
      else observedWrite(good.drop("_row_idx"), table,
        if (mode == TableMode.Append) SaveMode.Append else SaveMode.Overwrite, sink, allRows)
    val status = if (nBad > 0) "CompletedWithErrors" else "Completed"
    (LoadResult(status, ins + upd + nBad, ins, upd, nBad), logged)
  }

  private def allRows: Column = count(lit(1)).as("ins")
  private def merged(action: String, name: String): Column =
    sum(when(col("__merge_action") === action, 1L).otherwise(0L)).as(name)

  /** dedup-last-wins, then insert-all, native merge, or merge + swap. */
  private def upsert(spark: SparkSession, good: DataFrame, table: String, pk: Seq[String],
      sink: TableSink): (Long, Long) = {
    val deduped = Upsert.dedupLastWins(good, pk, "_row_idx")
    if (!sink.exists(spark, table))
      observedWrite(deduped, table, SaveMode.Overwrite, sink, allRows)
    else sink.mergeUpsert(spark, deduped, table, pk).getOrElse {
      val next = s"${table}__upsert_next"
      val counts = observedWrite(Upsert.merge(sink.read(spark, table), deduped, pk), next,
        SaveMode.Overwrite, sink, merged("inserted", "ins"), merged("updated", "upd"))
      sink.rename(spark, next, table)
      counts
    }
  }

  /** The load's one write, without the merge's `__merge_action` audit
    * column; the (inserted, updated) counts named `ins` and `upd` are
    * observed during that job, so no second scan counts them. */
  private def observedWrite(df: DataFrame, table: String, mode: SaveMode, sink: TableSink,
      metrics: Column*): (Long, Long) = {
    val obs = Observation()
    sink.write(df.observe(obs, metrics.head, metrics.tail: _*).drop("__merge_action"),
      table, mode)
    def n(k: String): Long = obs.get.get(k).flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
    (n("ins"), n("upd"))
  }
}
