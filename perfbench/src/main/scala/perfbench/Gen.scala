package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every file and table is a pure function of
  * (seed, stream name, size), so one seed always yields byte-identical
  * inputs; nothing is read from outside the run directory.
  *
  * Cells are generated as the raw text the loader will see, together with
  * the typed value the loader should produce from it, so the expected
  * outcome of every load is known without running the program. */
object Gen {

  /** The six datetime patterns the analyzer accepts, in its own order. */
  val DatePatterns: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy", "dd-MM-yyyy HH:mm:ss", "dd-MM-yyyy")
  private val formatters = DatePatterns.map(DateTimeFormatter.ofPattern)

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(scala.util.hashing.MurmurHash3.stringHash(stream, seed.toInt) *
      0x9E3779B97F4A7C15L + seed)

  /** One generated cell: the text written to the file and the value the
    * loader should store (None for an absent value: blank or `nan`). */
  final case class Cell(text: String, value: Option[String])
  private def present(s: String): Cell = Cell(s, Some(s))
  private val blank = Cell("", None)
  private val nan = Cell("nan", None)

  /** A generated delimited/JSON file: header, rows, and which rows break a
    * NOT NULL constraint. */
  final case class Table(name: String, columns: Seq[String], rows: IndexedSeq[IndexedSeq[Cell]],
      badRows: Set[Int]) {
    def goodRows: IndexedSeq[IndexedSeq[Cell]] =
      rows.indices.filterNot(badRows.contains).map(rows)
  }

  // --- typed cell makers -------------------------------------------------

  private def money(r: SplittableRandom, lo: Long, hi: Long): String = {
    // never a whole number, so a small file still infers DECIMAL, not INT
    val cents = r.nextLong(lo * 100, hi * 100) / 100 * 100 + 1 + r.nextInt(99)
    java.math.BigDecimal.valueOf(cents, 2).toPlainString
  }

  /** A timestamp rendered in one of the six patterns; the stored value is
    * epoch seconds (date-only patterns store midnight). */
  private def dateCell(r: SplittableRandom, firstDay: Long, days: Int): Cell = {
    val p = r.nextInt(DatePatterns.size)
    val withTime = DatePatterns(p).contains("HH")
    val secs = if (withTime) r.nextInt(86400) else 0
    val t = LocalDateTime.ofEpochSecond((firstDay + r.nextInt(days)) * 86400L + secs, 0, ZoneOffset.UTC)
    Cell(t.format(formatters(p)), Some(t.toEpochSecond(ZoneOffset.UTC).toString))
  }

  /** Non-key dirt: a present value is sometimes written blank or `nan`. */
  private def dirty(r: SplittableRandom, c: Cell): Cell = r.nextInt(200) match {
    case 0 => blank
    case 1 => nan
    case _ => c
  }

  private val Words = Seq("spark", "line", "small", "fast", "group", "customer", "query",
    "row", "stream", "the", "part", "column", "order", "scan", "a", "slow", "agg", "key",
    "window", "table", "merge", "vector", "join", "batch", "sort", "value", "hash",
    "filter", "big", "data", "dup")
  private def words(r: SplittableRandom, lo: Int, hi: Int): String =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(Words(r.nextInt(Words.size))).mkString(" ")

  // --- ETL files ---------------------------------------------------------

  val LineitemCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "l_comment")
  val OrdersCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority", "o_comment")
  val CustomerCols: Seq[String] = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
    "c_mktsegment", "c_comment")

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** `nBad` distinct rows (chosen by the seed) get an absent NOT NULL cell. */
  private def pickBad(r: SplittableRandom, n: Int, nBad: Int): Set[Int] = {
    val s = scala.collection.mutable.LinkedHashSet[Int]()
    while (s.size < math.min(nBad, n)) s += r.nextInt(n)
    s.toSet
  }

  /** NOT NULL columns: lineitem (l_orderkey, l_linenumber). */
  def lineitem(seed: Long, stream: String, n: Int, nBad: Int): Table = {
    val r = rng(seed, stream)
    val bad = pickBad(r, n, nBad)
    val rows = (0 until n).map { i =>
      val qty = 1 + r.nextInt(50)
      val key = present(r.nextInt(150000).toString)
      val line = present((1 + r.nextInt(7)).toString)
      val (k, l) = if (!bad(i)) (key, line) else if (i % 2 == 0) (nan, line) else (key, blank)
      IndexedSeq(k, present(r.nextInt(20000).toString), present(r.nextInt(1000).toString), l,
        present(qty.toString), dirty(r, present(money(r, 900, 100000))),
        dirty(r, present(s"0.0${r.nextInt(9) + 1}")), dirty(r, present(s"0.0${r.nextInt(8) + 1}")),
        present(Seq("A", "N", "R")(r.nextInt(3))), present(Seq("F", "O")(r.nextInt(2))),
        dateCell(r, 9131, 2500), dirty(r, present(words(r, 2, 6))))
    }
    Table("lineitem", LineitemCols, rows, bad)
  }

  /** Orders rows keyed by `keys` (in file order; repeats allowed). NOT NULL
    * columns: o_orderkey and o_custkey; a bad row has an absent o_custkey. */
  def orders(seed: Long, stream: String, keys: IndexedSeq[Int], nBad: Int): Table = {
    val r = rng(seed, stream)
    val bad = pickBad(r, keys.size, nBad)
    val rows = keys.indices.map { i =>
      IndexedSeq(present(keys(i).toString),
        if (bad(i)) (if (i % 2 == 0) blank else nan) else present(r.nextInt(15000).toString),
        present(Seq("F", "O", "P")(r.nextInt(3))), dirty(r, present(money(r, 1000, 500000))),
        dateCell(r, 9131, 2400), dirty(r, present(Priorities(r.nextInt(5)))),
        dirty(r, present(words(r, 3, 8))))
    }
    Table("orders", OrdersCols, rows, bad)
  }

  /** Customer rows keyed by `keys`; NOT NULL columns: c_custkey, c_name. */
  def customer(seed: Long, stream: String, keys: IndexedSeq[Int], nBad: Int): Table = {
    val r = rng(seed, stream)
    val bad = pickBad(r, keys.size, nBad)
    val rows = keys.indices.map { i =>
      IndexedSeq(present(keys(i).toString),
        if (bad(i)) blank else present(f"Customer#${keys(i)}%09d"),
        present(r.nextInt(25).toString), dirty(r, present(money(r, -999, 9999))),
        dirty(r, present(Segments(r.nextInt(5)))), dirty(r, present(words(r, 2, 5))))
    }
    Table("customer", CustomerCols, rows, bad)
  }

  /** Deltas for incremental loads: mostly updates of existing keys, some
    * new keys, and some keys repeated inside the file (last one wins). */
  def deltaKeys(r: SplittableRandom, n: Int, existing: Int, nextNew: Int): (IndexedSeq[Int], Int) = {
    var next = nextNew
    val ks = ArrayBuffer[Int]()
    while (ks.size < n) {
      val u = r.nextInt(100)
      if (u < 5 && ks.nonEmpty) ks += ks(r.nextInt(ks.size))
      else if (u < 65) ks += r.nextInt(existing)
      else { ks += next; next += 1 }
    }
    (ks.toIndexedSeq, next)
  }

  // --- writers -----------------------------------------------------------

  private def writeText(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Writes `t` as CSV, PSV or a pretty-printed JSON array of objects,
    * picked by the file extension. */
  def write(t: Table, f: File): Unit = {
    val ext = f.getName.substring(f.getName.lastIndexOf('.') + 1)
    writeText(f) { w =>
      ext match {
        case "csv" | "psv" =>
          val sep = if (ext == "csv") "," else "|"
          w.write(t.columns.mkString(sep)); w.write("\n")
          t.rows.foreach { row => w.write(row.map(_.text).mkString(sep)); w.write("\n") }
        case "json" =>
          w.write("[\n")
          t.rows.zipWithIndex.foreach { case (row, i) =>
            w.write("  {")
            w.write(t.columns.zip(row).map { case (c, v) => s"${jsonStr(c)}: ${jsonStr(v.text)}" }
              .mkString(", "))
            w.write(if (i == t.rows.size - 1) "}\n" else "},\n")
          }
          w.write("]\n")
      }
    }
  }

  // --- query tables (parquet, written through Spark) ----------------------

  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types._

  /** The tables the `SparkEntry` queries read, at scale factor `sf`
    * (sf 0.1 = 600k lineitem rows), each written as one parquet file
    * `<dir>/<table>.parquet`. */
  def queryTables(spark: SparkSession, seed: Long, sf: Double, dir: File): Unit = {
    val nOrders = (1500000 * sf).toInt
    val nLine = (6000000 * sf).toInt
    val nCust = (150000 * sf).toInt
    val nPart = (200000 * sf).toInt
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nDocs = math.max(50, (50000 * sf).toInt)
    val nEvents = (1000000 * sf).toInt
    def ts(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000L)
    // each table draws from its own stream, so they are written concurrently
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = ArrayBuffer[Future[Unit]]()
    def tbl(name: String, schema: StructType, n: Int)(row: (SplittableRandom, Int) => Row): Unit =
      writes += Future {
        val r = rng(seed, s"table/$name")
        write(spark, dir, name, schema, (0 until n).map(i => row(r, i)))
      }
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    def dbl(cents: Long): Double = cents / 100.0

    tbl("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), 5) { (_, i) =>
      Row(i, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i))
    }
    tbl("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), 25) { (_, i) => Row(i, s"NATION_$i", i % 5) }
    tbl("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        nCust) { (r, i) =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), dbl(r.nextLong(-99985, 999981)),
        Segments(r.nextInt(5)))
    }
    tbl("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), nSupp) { (r, i) =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), dbl(r.nextLong(-99985, 999981)))
    }
    tbl("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
        nPart) { (r, i) =>
      Row(i.toLong, s"${Seq("large", "hot", "small", "red", "blue")(r.nextInt(5))} " +
        Seq("ring", "bolt", "nut", "gear", "pipe")(r.nextInt(5)),
        s"Brand#${1 + r.nextInt(25)}",
        Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")(r.nextInt(6)),
        1 + r.nextInt(50), 900.0 + i % 1000 / 10.0)
    }
    tbl("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), nOrders) { (r, i) =>
      Row(i.toLong, r.nextInt(nCust).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        dbl(r.nextLong(100191, 49999318)), ts((9131L + r.nextInt(2400)) * 86400L),
        Priorities(r.nextInt(5)))
    }
    tbl("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), nLine) { (r, _) =>
      val qty = 1 + r.nextInt(50)
      Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
        1 + r.nextInt(7), qty.toDouble, dbl(qty * r.nextLong(90000, 200000)),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
        Seq("F", "O")(r.nextInt(2)), ts((9131L + r.nextInt(2500)) * 86400L))
    }
    val langs = Seq("en", "en", "en", "fr", "de", "es", "zh")
    val texts = ArrayBuffer[String]()
    tbl("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), nDocs) { (r, i) =>
      // a few exact and near duplicates, as a crawled corpus has
      val text =
        if (texts.nonEmpty && r.nextInt(100) == 0) texts(r.nextInt(texts.size))
        else if (texts.nonEmpty && r.nextInt(100) == 0) texts(r.nextInt(texts.size)) + " " + words(r, 1, 2)
        else words(r, 8, 100)
      texts += text
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    tbl("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
        nEvents) { (r, i) =>
      val t = 1704067200000L + i.toLong * 2592000000L / nEvents + r.nextInt(1000)
      Row(i.toLong, new java.sql.Timestamp(t), r.nextInt(math.max(15, nEvents / 67)).toLong,
        Seq("signup", "click", "error", "view", "purchase")(r.nextInt(5)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** Writes rows as a single parquet file `<dir>/<name>.parquet`. */
  private def write(spark: SparkSession, dir: File, name: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").option("compression", "snappy").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
    Files.deleteRecursively(tmp)
  }
}

/** Small filesystem helpers shared by the harness. */
object Files {
  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete(); ()
  }

  def copy(from: File, to: File): Unit = {
    to.getParentFile.mkdirs()
    java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
  }

  /** Regular files under `dir` (recursive) whose name ends with `suffix`. */
  def count(dir: File, suffix: String): Int =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).map { f =>
      if (f.isDirectory) count(f, suffix) else if (f.getName.endsWith(suffix)) 1 else 0
    }.sum
}
