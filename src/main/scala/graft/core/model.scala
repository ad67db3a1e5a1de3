package graft.core

import org.apache.spark.sql.types._

/** Core engine model — the reference's abstractions restated as typed Scala.
  *
  * Reference: tan-res-space/nspc-etl-basic `src/file-to-sql-loader.py`
  * (type lattice :788-846, table modes :908-926, transaction modes :947-963,
  * ledger tables :498-603). See SURVEY.md §1.
  */

/** Input file formats the engine ingests (SURVEY §2 A1-A4). */
sealed trait FileFormat { def name: String }
object FileFormat {
  case object Csv  extends FileFormat { val name = "csv"  }
  case object Psv  extends FileFormat { val name = "psv"  }
  case object Json extends FileFormat { val name = "json" }
  def fromName(n: String): FileFormat = n.toLowerCase match {
    case "csv" => Csv
    case "psv" => Psv
    case "json" => Json
    case other => throw new IllegalArgumentException(s"unknown format: $other")
  }
}

/** The 4-type inference lattice (reference :818-846). `maxLength` carries the
  * NVARCHAR bucket for DDL parity; `useLong` widens INT to BIGINT when a
  * sampled value exceeds Int range (reference Python int is unbounded —
  * SURVEY §7.4 hard-part 3). */
sealed trait InferredType { def sparkType: DataType; def sqlServerType: String }
object InferredType {
  case object IntType extends InferredType {
    val sparkType: DataType = IntegerType
    val sqlServerType = "INT"
  }
  case object BigIntType extends InferredType {
    val sparkType: DataType = LongType
    val sqlServerType = "BIGINT"
  }
  case object DecimalT extends InferredType {
    val sparkType: DataType = DecimalType(18, 4)
    val sqlServerType = "DECIMAL(18,4)"
  }
  case object DateTimeType extends InferredType {
    val sparkType: DataType = TimestampType
    val sqlServerType = "DATETIME2"
  }
  final case class VarcharType(maxLength: Int) extends InferredType {
    val sparkType: DataType = StringType
    def sqlServerType = s"NVARCHAR($maxLength)"
  }

  /** NVARCHAR length bucketing (reference :824-846): 0→50, ≤50→50, ≤100→100,
    * ≤255→255, ≤500→500, else max(1000, len+100). */
  def varcharBucket(maxLen: Long): Int =
    if (maxLen <= 50) 50
    else if (maxLen <= 100) 100
    else if (maxLen <= 255) 255
    else if (maxLen <= 500) 500
    else math.max(1000L, maxLen + 100L).toInt
}

/** Per-column profiling result (reference `columns_info` dict :703-713),
  * computed in ONE distributed agg pass — see `analyze.Analyze.profile`.
  * `intFitsInt32` holds when no present value parses as a long, or when
  * the smallest and largest parsed longs both lie in the int32 range. */
final case class ColumnProfile(
    name: String,
    maxLength: Long,
    hasNulls: Boolean,
    allInteger: Boolean,
    allDecimal: Boolean,
    allDatetime: Boolean,
    intFitsInt32: Boolean,
    nonNullCount: Long)

/** The NOT NULL gate of one file: the NOT NULL names configured for its
  * table, and the number of rows in which any of them is absent. Both come
  * from `analyze.Analyze.profile`, so `load.Loader` splits on exactly the
  * names its bad count was taken over and runs no count job of its own. */
final case class NotNullGate(columns: Seq[String], absentRows: Long)

/** Existing-table handling (reference :908-926). */
sealed trait TableMode { def name: String }
object TableMode {
  case object DropRecreate extends TableMode { val name = "drop_recreate" }
  case object Append       extends TableMode { val name = "append" }
  case object Upsert       extends TableMode { val name = "upsert" }
  case object Fail         extends TableMode { val name = "fail" }
  def fromName(n: String): TableMode = n.toLowerCase match {
    case "drop_recreate" => DropRecreate
    case "append" => Append
    case "upsert" => Upsert
    case "fail" => Fail
    case other => throw new IllegalArgumentException(s"unknown table_mode: $other")
  }
}

/** Transaction semantics (reference :947-963): strict = all-or-nothing;
  * tolerant = partial success under an error budget (SURVEY §7.4 note 1:
  * restated order-free as invalidCount <= maxRowErrors). */
sealed trait TransactionMode { def name: String }
object TransactionMode {
  case object Strict   extends TransactionMode { val name = "strict" }
  case object Tolerant extends TransactionMode { val name = "tolerant" }
  def fromName(n: String): TransactionMode = n.toLowerCase match {
    case "strict" => Strict
    case "tolerant" => Tolerant
    case other => throw new IllegalArgumentException(s"unknown transaction_mode: $other")
  }
}

/** One EtlJobStatistics row — column names match the reference DDL
  * (:511-525, FIXTURES.md §3) exactly; TableMode/TransactionMode are
  * engine-side extras. */
final case class JobStats(
    JobRunID: String,
    JobStartTime: java.sql.Timestamp,
    JobEndTime: java.sql.Timestamp,
    JobDurationSeconds: Long,
    JobStatus: String,            // Completed | CompletedWithErrors | Failed
    SourceFile: String,
    TargetTable: String,
    RowsRead: Long,
    RowsInserted: Long,
    RowsUpdated: Long,
    RowsFailed: Long,
    ErrorMessage: Option[String],
    BatchJobID: Option[String],
    TableMode: String,
    TransactionMode: String)

/** One EtlJobError row — reference columns (:548-557, FIXTURES.md §3)
  * plus SourceFile/RowNumber/RawValue engine extras for row-level audit. */
final case class JobError(
    ErrorID: String,
    JobRunID: String,
    TableName: String,
    ColumnName: String,
    ErrorType: String,
    ErrorMessage: String,
    ErrorTimestamp: java.sql.Timestamp,
    SourceFile: String,
    RowNumber: Long,
    RawValue: String)

/** One EtlBatchJobStatistics row (reference :574-588 + resume cols :258-284). */
final case class BatchStats(
    BatchJobID: String,
    DirectoryPath: String,
    BatchStartTime: java.sql.Timestamp,
    BatchEndTime: Option[java.sql.Timestamp],
    BatchStatus: String,          // InProgress | Completed | CompletedWithErrors | Failed
    TotalFiles: Long,
    FilesProcessed: Long,
    FilesFailed: Long,
    IsResumed: Boolean,
    OriginalBatchJobID: Option[String])

/** Outcome of one file-load job (drives stats + file lifecycle moves). */
final case class LoadResult(
    status: String,
    rowsRead: Long,
    rowsInserted: Long,
    rowsUpdated: Long,
    rowsErrored: Long,
    errorMessage: Option[String] = None)
