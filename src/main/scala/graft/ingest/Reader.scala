package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.core.{ColumnRef, FileFormat}

/** Raw readers (SURVEY §2 A1-A3). Every column is read as STRING — the type
  * lattice (analyze.TypeInference) decides the real types from the data, so
  * CSV and JSON inputs flow through one inference path. The reads are plain
  * `spark.read` ⇒ distributed, columnar, pushdown-capable; nothing is
  * materialized on the driver (unlike the reference's whole-file pandas
  * DataFrame, src/file-to-sql-loader.py:1410-1419).
  */
object Reader {

  def read(spark: SparkSession, path: String, format: FileFormat): DataFrame =
    format match {
      case FileFormat.Csv  => csv(spark, path, ",")
      case FileFormat.Psv  => csv(spark, path, "|")
      case FileFormat.Json => json(spark, path)
    }

  private def csv(spark: SparkSession, path: String, sep: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("inferSchema", "false")   // all columns arrive as string
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Array-of-records JSON (reference pd.read_json). `multiLine` handles the
    * pretty-printed array-of-objects fixtures; all primitives stringified so
    * inference sees the same surface as CSV. */
  private def json(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("multiLine", "true")
      .option("primitivesAsString", "true")
      .json(path)
    // primitivesAsString leaves structs/arrays nested; the reference only
    // handles flat record-arrays (SURVEY §1.1) — stringify anything nested.
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType) ColumnRef(f.name)
      else to_json(ColumnRef(f.name)).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Stable per-row ordinal in file order — the vehicle for last-wins dedup
    * (SURVEY §2 F4) and row-numbered error logs.
    *
    * Fast path: formats exposing the `_metadata.row_index` metadata column
    * (parquet; CSV/JSON do not, measured on this Spark) get a plan-native
    * projection — no RDD round-trip, codegen stays intact. Guarded to
    * single-file scans because row_index restarts per file, while the
    * contract here is a file-order ordinal.
    *
    * Fallback: zipWithIndex assigns contiguous ordinals across partitions
    * in partition order, which for a single-file narrow read IS file
    * order; costs one extra narrow pass, no shuffle. */
  def withRowIndex(df: DataFrame, colName: String = "_row_idx"): DataFrame = {
    // Fast-path decision WITHOUT a failing analysis: `_metadata` resolves
    // cleanly for EVERY file source (its field set varies by format), so
    // probing its struct schema for `row_index` never throws on the common
    // paths. The previous probe analyzed `_metadata.row_index` directly and
    // caught the AnalysisException — but failed analyses are also delivered
    // to QueryExecutionListeners (e.g. Spark's Observation helper), which
    // rethrow, spamming `ERROR ExecutionListenerBus FIELD_NOT_FOUND` into
    // otherwise-green logs on every CSV/JSON load.
    val fastPath: Boolean =
      df.inputFiles.length == 1 && (try {
        df.select(col("_metadata")).schema.headOption.exists(_.dataType match {
          case s: org.apache.spark.sql.types.StructType =>
            s.fieldNames.contains("row_index")
          case _ => false
        })
      } catch {
        // non-file relation (no _metadata at all) — fallback below
        case _: org.apache.spark.sql.AnalysisException => false
      })
    if (fastPath) df.withColumn(colName, col("_metadata.row_index"))
    else {
      val schema = df.schema
      val withIdx = df.rdd.zipWithIndex.map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
      }
      df.sparkSession.createDataFrame(withIdx,
        schema.add(colName, org.apache.spark.sql.types.LongType, nullable = false))
    }
  }
}
