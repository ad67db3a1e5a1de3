package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.analyze.Analyze
import graft.core.{FileFormat, InferredType, TableOverride}
import graft.ingest.Reader
import graft.load.Loader

/** The NOT NULL gate's bad count comes from `Analyze.profile`, not from a
  * count of `Loader.split`'s bad rows. Both must agree: inference reads
  * every value, so after `castPlan` a value is null exactly when the
  * profile saw it absent. This pins that on generated files with every
  * inferred type, absent spellings (null, blank, spaces, `nan` in any
  * case), whitespace that is not absent, case-mismatched NOT NULL names and
  * a disputed-column override, and on a JSON file with a missing key. Each
  * file is one profile aggregate; the split side of every file is one
  * grouped count. */
class NotNullGateSpec extends GraftSuite {

  /** Absent as `Analyze` defines it: `trim` strips spaces only, so a tab
    * or newline is a present value (one the VARCHAR kinds generate). */
  private val absent: Gen[String] =
    Gen.oneOf(null, "", " ", "   ", "nan", "NaN", "NAN", " nan ")
  private val otherWhitespace: Gen[String] = Gen.oneOf("\t", " \n ", "\r\n")

  /** One column kind: its name, a present-value generator, and the type
    * inference must give it. */
  private case class Kind(name: String, value: Gen[String], want: InferredType)

  private val kinds = Seq(
    Kind("Small", Gen.choose(-5000, 5000).map(_.toString), InferredType.IntType),
    Kind("Wide", Gen.choose(3000000000L, 9000000000000L).map(v => s" $v"),
      InferredType.BigIntType),
    Kind("Price", Gen.choose(0, 99999).map(v => f"${v / 100}.${v % 100}%02d"),
      InferredType.DecimalT),
    Kind("Seen", Gen.choose(1, 28).map(d => f"2024-02-$d%02d 10:30:00"),
      InferredType.DateTimeType),
    Kind("Label", Gen.frequency((9, Gen.alphaStr.map("x" + _.take(20))), (1, otherWhitespace)),
      InferredType.VarcharType(50)),
    // an integer column the disputed-column override keeps as VARCHAR
    Kind("Code", Gen.frequency((9, Gen.choose(0, 999).map(_.toString)), (1, otherWhitespace)),
      InferredType.VarcharType(12)))

  private val overrides = TableOverride(None, Nil, Map("Code" -> 12))

  /** A file's columns, each absent at its own rate, and its NOT NULL
    * names: a non-empty subset of the columns with flipped case. */
  private val file: Gen[(Seq[Seq[String]], Seq[String])] = for {
    rows <- Gen.choose(20, 60)
    columns <- Gen.sequence[List[Seq[String]], Seq[String]](kinds.map { k =>
      for {
        rate <- Gen.oneOf(0.0, 0.05, 0.3)
        first <- k.value
        rest <- Gen.listOfN(rows - 1,
          Gen.frequency((1000 - (rate * 1000).toInt, k.value), ((rate * 1000).toInt, absent)))
      } yield first +: rest
    })
    gated <- Gen.atLeastOne(kinds.map(_.name))
    flips <- Gen.listOfN(gated.size, Gen.oneOf(true, false))
  } yield (columns, gated.toSeq.zip(flips).map { case (n, up) =>
    if (up) n.toUpperCase else n.toLowerCase })

  private def frame(columns: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(kinds.map(k => StructField(k.name, StringType)))
    val rows = columns.head.indices.map(r => Row.fromSeq(columns.map(_(r))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The profile's count, and `ProcessFile`'s split of the cast file. */
  private def gate(raw: DataFrame, notNull: Seq[String])
      : (Long, DataFrame, Seq[InferredType]) = {
    val p = Analyze.profile(raw, notNull)
    val types = Analyze.inferSchema(p.columns, overrides, notNull).map { case (c, t, _) =>
      c.name -> t }
    (p.notNull.absentRows, Loader.split(Analyze.castPlan(raw, types), p.notNull.columns)._2,
      types.map(_._2))
  }

  test("the profile's NOT NULL count equals the split's bad count after castPlan") {
    val files = (1 to 8).map(i => file(Gen.Parameters.default, Seed(i.toLong)).get)
    val generated = files.map { case (columns, notNull) =>
      val (n, bad, types) = gate(frame(columns), notNull)
      assert(types == kinds.map(_.want), s"inferred $types")
      (n, bad)
    }

    // JSON: the second record has no "id", the third an explicit null
    val json = writeFile(tempDir("nn_gate_json"), "nn_gate.json",
      """[{"id": 1, "name": "a"}, {"name": "b"}, {"id": null, "name": "c"},
        | {"id": 4, "name": " nan "}]""".stripMargin)
    val fromJson = gate(Reader.read(spark, json, FileFormat.Json), Seq("ID", "Name"))
    val cases = generated :+ ((fromJson._1, fromJson._2))

    val split = cases.zipWithIndex.map { case ((_, bad), i) => bad.select(lit(i).as("file")) }
      .reduce(_ union _).groupBy("file").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case ((n, _), i) =>
      assert(n == split.getOrElse(i, 0L), s"file $i: profile $n, split ${split.get(i)}")
    }
    assert(fromJson._1 == 3)
    assert(generated.exists(_._1 > 0), "no generated file has an absent NOT NULL value")
  }
}
