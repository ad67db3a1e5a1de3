package graft.analyze

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{ColumnProfile, ColumnRef, InferredType, NotNullGate, TableOverride}

/** Profiling + type inference + cast planning — the analyze stage of the
  * engine (reference `analyze_file_structure` src/file-to-sql-loader.py:
  * 696-846 and `_convert_values` :1108-1167).
  *
  * Design: ONE wide distributed aggregation computes every per-column fact
  * the type lattice needs (the reference loops value-by-value in Python over
  * a 1,000-row sample). Full-column analysis is deliberately used instead of
  * the reference's sample: at 100 TB a sample-inferred INT column with a
  * stray string at row 10^9 would poison the load; full-scan inference is
  * one pass, partial-aggregated, and makes the inferred schema a guarantee
  * rather than a guess (SURVEY §1.2 note).
  */
object Analyze {

  /** The 6 documented datetime patterns, in reference priority order
    * (:788-795, :1152-1159). DD/MM/YYYY and dot separators are intentionally
    * absent (TEST_RESULTS_SUMMARY.md:112-115). */
  val DatetimePatterns: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
    "dd-MM-yyyy HH:mm:ss",
    "dd-MM-yyyy")

  /** First-match multi-pattern parse (B2) as a coalesce chain of
    * try_to_timestamp — codegen'd, null on no-match, never throws under
    * ANSI mode (Spark 4 default). */
  def parseDatetime(c: Column): Column =
    coalesce(DatetimePatterns.map(p => try_to_timestamp(c, lit(p))): _*)

  /** ISO-8601 'T' variant appears in the JSON fixtures
    * (dates_json_format.json `created_at`); the reference's pandas read
    * parses it natively. Included after the 6 core patterns. */
  private val JsonIsoPattern = "yyyy-MM-dd'T'HH:mm:ss"

  /** Reference-equivalent coalesce chain (kept for the equivalence spec;
    * the engine hot path uses the custom expression below). */
  def parseDatetimeCoalesce(c: Column): Column =
    coalesce((DatetimePatterns :+ JsonIsoPattern).map(p => try_to_timestamp(c, lit(p))): _*)

  /** Hot path: single-pass custom Catalyst expression (structural dispatch
    * + early exit + codegen) — same first-match semantics as the chain. */
  private def parseDatetimeAll(c: Column): Column =
    graft.functions.MultiFormatTimestamp.multi_format_timestamp(c)

  /** Value-is-absent predicate (reference treats None/''/'nan' as null,
    * :754, :785, :1116). */
  private def isAbsent(c: Column): Column =
    c.isNull || trim(c) === "" || lower(trim(c)) === "nan"

  /** Shape guards for the numeric casts of [[profile]]. Spark's string →
    * integral `try_cast` runs the ANSI cast and catches its exception, and
    * string → decimal catches `BigDecimal`'s NumberFormatException, so an
    * unguarded profile throws twice for every non-integer cell and three
    * times for every non-numeric one, and those exceptions, not the scan,
    * are what an unguarded profile spends its time on. Each pattern admits
    * every string its cast accepts (it may admit more), so a guarded cast
    * counts exactly what the plain cast counts.
    *
    * Integral: the trim rule of `UTF8String.toLongExact` (bytes 0x00-0x20
    * and 0x7F at either end), an optional sign, ASCII digits. Decimal: the
    * `BigDecimal(String)` grammar, whose digits are any Unicode `Nd` digit
    * (`try_cast('１２' as decimal(18,4))` is 12.0000), between the same trim
    * bytes. `ProfileGuardSpec` pins both against the plain casts. */
  private val IntegralShape = "^[\\x00-\\x20\\x7F]*[+-]?[0-9]+[\\x00-\\x20\\x7F]*\\z"
  private val DecimalShape =
    "^[\\x00-\\x20\\x7F]*[+-]?(\\p{Nd}+\\.?\\p{Nd}*|\\.\\p{Nd}+)([eE][+-]?\\p{Nd}+)?" +
      "[\\x00-\\x20\\x7F]*\\z"

  /** What [[profile]] learns from one file: its row count, one
    * [[ColumnProfile]] per column, and its NOT NULL gate. */
  final case class FileProfile(rows: Long, columns: Seq[ColumnProfile], notNull: NotNullGate)

  /** One-pass whole-table profile: the row count, and for each string
    * column max length, null presence, forall-int / forall-decimal /
    * forall-datetime (counting convention: #valid == #present), int32 fit,
    * and count. `df` must have at least one column.
    *
    * Each numeric `try_cast` runs only on a value that passed its shape
    * guard (above), so no cell throws. There is one integral cast: a value
    * fits INT exactly when its long fits the int32 range (the int and long
    * casts accept one grammar), so int32 fit is read off the long cast's
    * min and max.
    *
    * The same aggregate counts the rows in which any of `notNull` is
    * absent: the NOT NULL gate's bad count. Inference reads every value,
    * so every present value casts to its inferred type, and after
    * [[castPlan]] a value is null exactly when it is absent here. A
    * `notNull` name picks the column the analyzer's resolver matches, as
    * it does for `Loader`'s split (case-insensitively unless
    * `spark.sql.caseSensitive` is set); one that names no column is left
    * to the split, which fails the load. */
  def profile(df: DataFrame, notNull: Seq[String] = Nil): FileProfile = {
    val cols = df.schema.fields.map(_.name).toSeq
    val aggs: Seq[Column] = cols.flatMap { name =>
      val c = ColumnRef(name)
      val present = !isAbsent(c)
      val trimmed = trim(c)
      val asLong = when(present && trimmed.rlike(IntegralShape), trimmed.try_cast("long"))
      val asDecimal =
        when(present && trimmed.rlike(DecimalShape), trimmed.try_cast("decimal(18,4)"))
      Seq(
        max(when(c.isNotNull, length(c))).as(s"${name}__maxlen"),
        sum(when(isAbsent(c), 1L).otherwise(0L)).as(s"${name}__nulls"),
        sum(when(present, 1L).otherwise(0L)).as(s"${name}__present"),
        count(asLong).as(s"${name}__ints"),
        min(asLong).as(s"${name}__minint"),
        max(asLong).as(s"${name}__maxint"),
        count(asDecimal).as(s"${name}__decs"),
        sum(when(present && parseDatetimeAll(trimmed).isNotNull, 1L).otherwise(0L))
          .as(s"${name}__dts"))
    }
    val resolver = df.sparkSession.sessionState.conf.resolver
    val gated = cols.filter(c => notNull.exists(resolver(_, c)))
    val anyAbsent = gated.map(c => isAbsent(ColumnRef(c))).foldLeft(lit(false))(_ || _)
    val row: Row = df.agg(count(lit(1)).as("__rows"),
      aggs :+ sum(when(anyAbsent, 1L).otherwise(0L)).as("__notnull_absent"): _*).head()
    def l(k: String): Long = Option(row.getAs[Any](k)).map(_.toString.toLong).getOrElse(0L)
    FileProfile(l("__rows"), cols.map { name =>
      val present = l(s"${name}__present")
      val ints = l(s"${name}__ints")
      ColumnProfile(
        name = name,
        maxLength = l(s"${name}__maxlen"),
        hasNulls = l(s"${name}__nulls") > 0,
        allInteger = present > 0 && ints == present,
        allDecimal = present > 0 && l(s"${name}__decs") == present,
        allDatetime = present > 0 && l(s"${name}__dts") == present,
        intFitsInt32 = ints == 0 ||
          (l(s"${name}__minint") >= Int.MinValue && l(s"${name}__maxint") <= Int.MaxValue),
        nonNullCount = present)
    }, NotNullGate(notNull, l("__notnull_absent")))
  }

  /** Fixed-width numeric histogram: one partial-aggregated groupBy on the
    * bucket id, then a single window pass over the (small) bucket table
    * for the share column — the profiling companion every distribution
    * dashboard needs next to `profile`'s scalar facts. Bucketing goes
    * through floor over double (exact for |v| < 2^53) rather than
    * integer division, whose negative-value semantics differ between
    * engines (Spark `div` truncates toward zero; DuckDB `//` floors).
    * NULL and non-finite values (NaN, ±Inf on floating columns) are
    * excluded — Spark's Floor would silently bucket NaN to 0 and Inf to
    * Long.MaxValue where an engine-portable mirror errors instead. */
  def histogram(df: DataFrame, valueCol: String, width: Long): DataFrame = {
    require(width > 0, s"histogram width must be positive, got $width")
    val v = col(valueCol).cast("double")
    val bucket = floor(v / lit(width.toDouble)).cast("long")
    val agg = df.filter(v.isNotNull && !isnan(v) && abs(v) <= lit(Double.MaxValue))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))
    // share over the bucket table: rows = value range / width (driver-small
    // for any sane width), so the unpartitioned window is not a scale risk
    val w = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    agg
      .withColumn("lo", col("bucket") * width)
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(w).cast("double"))
      .select(col("bucket"), col("lo"), col("n"),
        col("min_v"), col("max_v"), col("share"))
  }

  /** Equi-DEPTH histogram (quantile bins — the profiling companion to the
    * fixed-width [[histogram]]): bin boundaries are the exact i/nBins
    * percentiles, then every row map-side counts how many boundaries it
    * exceeds. Scale shape: TWO scans of the input (the percentile pass,
    * then the bin-assignment pass — cache `df` upstream if the source scan
    * is expensive), a 1-row boundary array broadcast to a pure-map bin
    * assignment, one partial-agg groupBy on the bin id. The exact
    * `percentile` agg buffers a value→count map per partition, so on
    * high-cardinality double columns at true corpus scale run it on a
    * profiling sample or swap `approx_percentile`'s t-digest (the same
    * caveat as [[sourceProfile]]) — the exact arm is what the DuckDB
    * oracle mirrors bit-for-bit. Engine-portable because Spark
    * `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition (the q34 precedent) and the
    * value-vs-boundary comparison runs in double on both. */
  def equiDepthHistogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins > 1, s"need at least 2 bins, got $nBins")
    val v = col(valueCol).cast("double")
    val clean = df.filter(v.isNotNull && !isnan(v) && abs(v) <= lit(Double.MaxValue))
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val bounds = clean.agg(
      percentile(v, typedLit(ps)).as("__bs"))
    val binned = clean.join(broadcast(bounds))
      .withColumn("bin",
        (lit(1) + size(filter(col("__bs"), b => v > b))).cast("long"))
    val agg = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))
    val w = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    agg.withColumn("share",
        col("n").cast("double") / sum(col("n")).over(w).cast("double"))
      .select(col("bin"), col("n"), col("min_v"), col("max_v"), col("share"))
  }

  /** Per-stratum corpus profile: document counts plus exact length and
    * quality percentiles for each value of `strataCol` — the measurement
    * behind data-driven curation thresholds
    * ([[graft.pipeline.Curation.Params.production]] was derived from
    * exactly this: corpus percentiles, not folklore constants). One
    * partial-aggregated shuffle on the stratum key. The exact
    * `percentile` agg buffers each group's values, so at true corpus
    * scale run it on a profiling sample (or swap `approx_percentile`'s
    * t-digest, the q37 pattern) — the exact arm is what the DuckDB
    * oracle can mirror bit-for-bit (quantile_cont shares Spark's
    * linear-interpolation definition; the q34/q72 precedent). */
  def sourceProfile(docs: DataFrame, strataCol: String, textCol: String)
      : DataFrame = {
    val toks = graft.text.TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(strataCol),
      length(col(textCol)).cast("double").as("__chars"),
      graft.text.TextAnalysis.qualityScoreOf(col(textCol), toks).as("__q"))
    base.groupBy(col(strataCol)).agg(
        count(lit(1)).as("n_docs"),
        percentile(col("__chars"), typedLit(Seq(0.25, 0.5, 0.9, 0.99))).as("__pc"),
        percentile(col("__q"), typedLit(Seq(0.5, 0.9))).as("__pq"),
        min(col("__chars")).cast("long").as("min_chars"),
        max(col("__chars")).cast("long").as("max_chars"))
      .select(col(strataCol), col("n_docs"),
        col("__pc")(0).as("p25_chars"), col("__pc")(1).as("p50_chars"),
        col("__pc")(2).as("p90_chars"), col("__pc")(3).as("p99_chars"),
        col("__pq")(0).as("p50_quality"), col("__pq")(1).as("p90_quality"),
        col("min_chars"), col("max_chars"))
  }

  /** The 4-type lattice decision (reference :818-846): datetime > int >
    * decimal > varchar(bucketed), with disputed-column length overrides and
    * BIGINT widening (SURVEY §7.4 note 3). */
  def inferType(p: ColumnProfile, overrides: TableOverride = TableOverride(None, Nil, Map.empty))
      : InferredType =
    overrides.disputedColumns.get(p.name) match {
      case Some(len) => InferredType.VarcharType(len)
      case None =>
        if (p.allDatetime) InferredType.DateTimeType
        else if (p.allInteger && p.intFitsInt32) InferredType.IntType
        else if (p.allInteger) InferredType.BigIntType
        else if (p.allDecimal) InferredType.DecimalT
        else InferredType.VarcharType(InferredType.varcharBucket(p.maxLength))
    }

  def inferSchema(profiles: Seq[ColumnProfile], overrides: TableOverride,
      notNullColumns: Seq[String]): Seq[(ColumnProfile, InferredType, Boolean)] =
    profiles.map { p =>
      val t = inferType(p, overrides)
      val nullable = !notNullColumns.contains(p.name)
      (p, t, nullable)
    }

  /** Typed cast projection (B1): string column → inferred Spark type.
    * try_* forms ⇒ null on failure (can only happen for values the
    * full-column inference excluded, i.e. absent values). */
  def castColumn(c: Column, t: InferredType): Column = t match {
    case InferredType.DateTimeType => parseDatetimeAll(trim(c))
    case InferredType.IntType      => trim(c).try_cast("int")
    case InferredType.BigIntType   => trim(c).try_cast("long")
    case InferredType.DecimalT     => trim(c).try_cast("decimal(18,4)")
    case InferredType.VarcharType(_) => c
  }

  /** Apply the full cast plan; absent values (''/'nan') become true nulls in
    * every type including varchar (reference converts NaN→None, :1116). */
  def castPlan(df: DataFrame, types: Seq[(String, InferredType)]): DataFrame = {
    val cols = types.map { case (name, t) =>
      val c = ColumnRef(name)
      val guarded = when(isAbsent(c), lit(null)).otherwise(c)
      castColumn(guarded, t).as(name)
    }
    df.select(cols: _*)
  }
}
