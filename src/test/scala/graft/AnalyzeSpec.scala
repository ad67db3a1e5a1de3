package graft

import graft.analyze.{Analyze, Ddl}
import graft.core.{InferredType, TableOverride}
import graft.ingest.{Detect, Reader}
import graft.core.FileFormat
import org.apache.spark.sql.types._

class DetectSpec extends GraftSuite {
  test("sniffs CSV from constant comma counts") {
    assert(Detect.detectFromHead(datesIsoCsv.linesIterator.take(10).toSeq, "x.dat") == FileFormat.Csv)
  }
  test("sniffs PSV from constant pipe counts") {
    assert(Detect.detectFromHead(datesPsv.linesIterator.take(10).toSeq, "x.dat") == FileFormat.Psv)
  }
  test("sniffs JSON from bracket head") {
    assert(Detect.detectFromHead(datesJson.linesIterator.take(10).toSeq, "x.dat") == FileFormat.Json)
  }
  test("falls back to extension for irregular delimiter counts") {
    val lines = Seq("a,b", "c,d,e", "f")
    assert(Detect.detectFromHead(lines, "weird.json") == FileFormat.Json)
    assert(Detect.detectFromHead(lines, "weird.psv") == FileFormat.Psv)
    assert(Detect.detectFromHead(lines, "weird.txt") == FileFormat.Csv)
  }
}

class DdlSpec extends GraftSuite {
  test("table name derivation mirrors the reference rules") {
    assert(Ddl.tableName("/data/customers.csv") == "customers")
    assert(Ddl.tableName("/data/export_20240115.csv") == "export")     // _\d{3,} stripped
    assert(Ddl.tableName("/data/my-file name.csv") == "my_file_name")  // non-word → _
    assert(Ddl.tableName("/data/2024data.csv") == "t_2024data")        // leading digit
    assert(Ddl.tableName("/data/file_12.csv") == "file_12")            // <3 digits kept
  }
  test("SQL Server DDL renders bracket-quoted with NULL clauses") {
    val ddl = Ddl.render("t1", Seq(
      ("id", InferredType.IntType, false),
      ("name", InferredType.VarcharType(50), true),
      ("born", InferredType.DateTimeType, true)))
    assert(ddl.contains("CREATE TABLE [t1]"))
    assert(ddl.contains("[id] INT NOT NULL"))
    assert(ddl.contains("[name] NVARCHAR(50) NULL"))
    assert(ddl.contains("[born] DATETIME2 NULL"))
  }
  test("MERGE generation: SQL Server brackets+semicolon, ANSI quotes, all-key form") {
    val ss = Ddl.mergeSql("tgt", "stage", Seq("id", "v"), Seq("id"))
    assert(ss.contains("MERGE INTO tgt t USING stage s ON (t.[id] = s.[id])"))
    assert(ss.contains("WHEN MATCHED THEN UPDATE SET [v] = s.[v]"))
    assert(ss.contains("WHEN NOT MATCHED THEN INSERT ([id], [v]) VALUES (s.[id], s.[v]);"))
    val derby = Ddl.mergeSql("tgt", "stage", Seq("id", "v"), Seq("id"), "derby")
    assert(derby.contains("t.\"id\" = s.\"id\"") && !derby.endsWith(";"))
    // every column a key: no WHEN MATCHED clause (Derby rejects empty SET)
    val allKey = Ddl.mergeSql("tgt", "stage", Seq("a", "b"), Seq("a", "b"), "derby")
    assert(!allKey.contains("WHEN MATCHED"))
    assert(allKey.contains("WHEN NOT MATCHED THEN INSERT"))
    // a key outside the column list is a misuse, loudly
    intercept[IllegalArgumentException](Ddl.mergeSql("t", "s", Seq("a"), Seq("zz")))
  }

  test("varchar length bucketing") {
    assert(InferredType.varcharBucket(0) == 50)
    assert(InferredType.varcharBucket(50) == 50)
    assert(InferredType.varcharBucket(51) == 100)
    assert(InferredType.varcharBucket(255) == 255)
    assert(InferredType.varcharBucket(256) == 500)
    assert(InferredType.varcharBucket(501) == 1000)
    assert(InferredType.varcharBucket(1500) == 1600)
  }
}

class AnalyzeSpec extends GraftSuite {
  import spark.implicits._

  private def profileOf(values: Seq[String], name: String = "c") = {
    val df = values.toDF(name)
    Analyze.profile(df).columns.head
  }

  test("ISO dates infer TimestampType (the intended semantics, SURVEY §1.2)") {
    val p = profileOf(Seq("1985-03-15", "1990-07-22", "2024-01-15 10:30:00"))
    assert(Analyze.inferType(p) == InferredType.DateTimeType)
  }
  test("US format dates infer TimestampType") {
    val p = profileOf(Seq("03/15/2020", "03/15/2024 02:30:15", "12/25/2023"))
    assert(Analyze.inferType(p) == InferredType.DateTimeType)
  }
  test("European dd/MM/yyyy stays varchar (pattern intentionally unsupported)") {
    val p = profileOf(Seq("15/03/2023", "25/12/2024"))
    assert(Analyze.inferType(p) == InferredType.VarcharType(50))
  }
  test("invalid dates degrade to varchar") {
    val p = profileOf(Seq("2024-13-15", "2024-02-30", "2023-02-29"))
    assert(Analyze.inferType(p) == InferredType.VarcharType(50))
  }
  test("leap day parses") {
    val p = profileOf(Seq("2024-02-29"))
    assert(Analyze.inferType(p) == InferredType.DateTimeType)
  }
  test("all-int column infers INT; overflow widens to BIGINT") {
    assert(Analyze.inferType(profileOf(Seq("1", "2", "001"))) == InferredType.IntType)
    assert(Analyze.inferType(profileOf(Seq("1", "9999999999"))) == InferredType.BigIntType)
  }
  test("int32 boundaries: ±2^31 edges infer INT, one past either edge widens to BIGINT") {
    assert(Analyze.inferType(profileOf(Seq("2147483647", "-2147483648"))) == InferredType.IntType)
    assert(Analyze.inferType(profileOf(Seq("2147483648", "0"))) == InferredType.BigIntType)
    assert(Analyze.inferType(profileOf(Seq("0", "-2147483649"))) == InferredType.BigIntType)
  }
  test("numeric-not-integer infers DECIMAL(18,4)") {
    assert(Analyze.inferType(profileOf(Seq("1.5", "2"))) == InferredType.DecimalT)
  }
  test("empty/nan values don't block inference and count as nulls") {
    val p = profileOf(Seq("1", "", "nan", "2"))
    assert(Analyze.inferType(p) == InferredType.IntType)
    assert(p.hasNulls)
  }
  test("all-empty column falls back to varchar(50)") {
    assert(Analyze.inferType(profileOf(Seq("", "nan"))) == InferredType.VarcharType(50))
  }
  test("disputed-column override forces varchar length") {
    val p = profileOf(Seq("1", "2"))
    val o = TableOverride(None, Nil, Map("c" -> 500))
    assert(Analyze.inferType(p, o) == InferredType.VarcharType(500))
  }
  test("cast plan produces typed nulls for absent values") {
    val df = Seq(("1", "2024-01-15", "x"), ("", "nan", "")).toDF("i", "d", "s")
    val out = Analyze.castPlan(df, Seq(
      "i" -> InferredType.IntType, "d" -> InferredType.DateTimeType,
      "s" -> InferredType.VarcharType(50)))
    assert(out.schema("i").dataType == IntegerType)
    assert(out.schema("d").dataType == TimestampType)
    assert(out.schema("s").dataType == StringType)
    val rows = out.collect()
    assert(rows(0).getInt(0) == 1)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }
  test("multi-pattern parse priority: datetime-with-time before date-only") {
    val df = Seq("2024-01-15 10:30:00").toDF("d")
    val ts = df.select(Analyze.parseDatetime($"d")).head().getTimestamp(0)
    assert(ts.toString.startsWith("2024-01-15 10:30:00"))
  }
}

/** `Analyze.profile` guards its numeric casts with shape patterns and reads
  * int32 fit off the long cast. This pins it, field by field, to the
  * unguarded reference aggregate (plain `try_cast` long, int and decimal
  * on every present value) over strings at the edges of each cast's
  * grammar. Each batch of columns is one aggregate per side. */
class ProfileGuardSpec extends GraftSuite {
  import org.apache.spark.sql.{Column, DataFrame, Row}
  import org.apache.spark.sql.functions._
  import org.scalacheck.Gen
  import graft.core.ColumnProfile

  /** The reference: the profile aggregate with a plain `try_cast` long,
    * int and decimal on every present value. */
  private def reference(df: DataFrame): (Long, Seq[ColumnProfile]) = {
    def absent(c: Column) =
      c.isNull || trim(c) === "" || lower(trim(c)) === "nan"
    val names = df.columns.toSeq
    val aggs = names.flatMap { name =>
      val c = col(name)
      val present = !absent(c)
      val t = trim(c)
      def n(ok: Column, k: String) =
        sum(when(present && ok, 1L).otherwise(0L)).as(s"${name}__$k")
      Seq(
        max(when(c.isNotNull, length(c))).as(s"${name}__maxlen"),
        sum(when(absent(c), 1L).otherwise(0L)).as(s"${name}__nulls"),
        n(lit(true), "present"),
        n(t.try_cast("long").isNotNull, "ints"),
        n(t.try_cast("decimal(18,4)").isNotNull, "decs"),
        n(graft.functions.MultiFormatTimestamp.multi_format_timestamp(t).isNotNull, "dts"),
        n(t.try_cast("int").isNotNull, "int32s"))
    }
    val row = df.agg(count(lit(1)).as("__rows"), aggs: _*).head()
    def l(k: String): Long = Option(row.getAs[Any](k)).map(_.toString.toLong).getOrElse(0L)
    l("__rows") -> names.map { name =>
      val present = l(s"${name}__present")
      ColumnProfile(name, l(s"${name}__maxlen"), l(s"${name}__nulls") > 0,
        present > 0 && l(s"${name}__ints") == present,
        present > 0 && l(s"${name}__decs") == present,
        present > 0 && l(s"${name}__dts") == present,
        l(s"${name}__int32s") == l(s"${name}__ints"), present)
    }
  }

  private val tokens: Seq[String] = Seq(
    "2147483647", "2147483648", "-2147483648", "-2147483649",
    "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809",
    "+7", "-0", "007", "0", "42", "-", "+", "+-1", "1-",
    "1e3", ".5", "5.", "1.0", "-3.25", "+.5e-2", "1E+2", "1e", "e5", ".", "1.2.3",
    "0x10", "1_000", "1,000", "Infinity", "-Infinity", "NaN", "1d", "1f", "1L",
    "99999999999999.9999", "99999999999999.99995", "123456789012345",
    "12345678901234567890.5", "0.000000000000000000001", "1e20", "1e-30",
    "１２", "－１２", "١٢", "١٢.٥", "１e３", "۱۲۳",
    "2024-01-15", "2024-01-15 10:30:00", "03/15/2020", "abc", "true", "nan", "")

  private val pads: Seq[String] = Seq(" ", "\t", "\n", "\r", "\u0000", "\u001f", "\u007f",
    "\u0085", "\u00a0", "\u2003", "\u3000")

  /** Every token bare and padded on the left, the right and both sides,
    * each token with a different pad; the integer, decimal and wide-digit
    * tokens below with every pad. */
  private val singles: Seq[String] = {
    val spread = tokens.zipWithIndex.flatMap { case (t, i) =>
      val p = pads(i % pads.size)
      Seq(t, p + t, t + p, p + t + p)
    }
    val everyPad = for {
      t <- Seq("12", "-7", "1.5", "１２", "2147483648")
      p <- pads
      s <- Seq(p + t, t + p, p + t + p)
    } yield s
    (spread ++ everyPad).distinct
  }

  private def frame(columns: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(columns.indices.map(i => StructField(s"c$i", StringType)))
    val depth = columns.map(_.size).max
    val rows = (0 until depth).map(r => Row.fromSeq(columns.map(_.lift(r).orNull)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def assertSame(columns: Seq[Seq[String]]): Unit =
    columns.grouped(100).foreach { batch =>
      val df = frame(batch)
      val Analyze.FileProfile(rows, got, _) = Analyze.profile(df)
      val (refRows, want) = reference(df)
      assert(rows == refRows)
      got.zip(want).zip(batch).foreach { case ((g, w), values) =>
        if (g != w) fail(s"$g != $w for chars " +
          values.map(v => Option(v).map(_.map(_.toInt).mkString(",")).orNull))
      }
    }

  test("guarded profile equals the unguarded aggregate on each edge string alone") {
    assertSame(singles.map(Seq(_)))
  }

  test("guarded profile equals the unguarded aggregate on generated mixed columns") {
    val ints = Seq("2147483647", "2147483648", "-2147483648", "-2147483649", "0", " 12 ",
      "9223372036854775807", "-9223372036854775808", "\t-5\n")
    val value = Gen.frequency(
      6 -> Gen.oneOf(ints), 3 -> Gen.oneOf(singles),
      1 -> Gen.const(null: String), 1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString))
    val column = Gen.choose(1, 6).flatMap(Gen.listOfN(_, value))
    val params = Gen.Parameters.default
    val columns = Iterator.iterate(org.scalacheck.rng.Seed(8L))(_.next).take(200)
      .flatMap(s => column(params, s)).toSeq
    assertSame(columns)
  }
}
