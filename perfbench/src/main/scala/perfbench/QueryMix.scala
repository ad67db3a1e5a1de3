package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.SparkEntry

/** `query_mix`: twelve `SparkEntry` queries over generated tables. Each
  * op is one query, computed as one action that folds every output column
  * into an order-insensitive digest. Each query's full output is written
  * once, untimed, for the oracle comparison; every timed op must reproduce
  * that run's digest. */
final class QueryMix(seed: Long, runDir: File, scale: Double) extends Workload {

  val nominalCycleS = 10.0
  val opModule = "ops"
  val hive = false

  val Queries: Seq[String] = Seq("q03_join_revenue", "q10_upsert_merge", "q54_snapshot_diff",
    "q58_decontaminate", "q104_volume_anomaly", "q114_triangles", "q121_ks_test",
    "q127_bfs_hops", "q133_sparse_sim", "q152_skip_grams", "q171_source_overlap",
    "q175_smoothed_lm_score")

  private def spark: SparkSession = SparkSession.active
  private var dataDir: File = _
  private val outDir = new File(runDir, "qout")
  private var reference = Map.empty[String, Seq[Long]]

  /** Order-insensitive digest of every column: row count and the two
    * halves of the summed per-row xxhash64. Floating columns are rounded to
    * nine decimal places first, so the last-bit variation of a floating
    * sum does not change the digest. */
  private def digestAggs(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_number(c.cast("double"), 9)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"), sum(shiftright(h, 32)).as("hi"),
      sum(h.bitwiseAND(0xffffffffL)).as("lo"))
  }

  def digestFrame(df: DataFrame): DataFrame = {
    val aggs = digestAggs(df)
    df.agg(aggs.head, aggs.tail: _*)
  }

  private def digest(r: Row): Seq[Long] =
    (0 until 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))

  private def reset(): Unit = {
    spark.catalog.clearCache()
    graft.dedup.Dedup.freeCandidateCaches(spark)
  }

  /** The tables at the measured scale. */
  def generate(dir: File): Unit = {
    dataDir = new File(dir, "data")
    Gen.queryTables(spark, seed, 0.005 * scale, dataDir)
  }

  /** Every query once at the measured scale (JIT and code generation),
    * writing its full output for the oracle comparison; the digest observed
    * during that write is the one every timed op must reproduce. */
  override def warmUp(dir: File): Unit = {
    reference = Queries.map { q =>
      val out = new File(outDir, q).getPath
      val df = SparkEntry.queries(q)(spark, dataDir.getPath)
      val obs = Observation(s"digest_$q")
      val aggs = digestAggs(df)
      df.observe(obs, aggs.head, aggs.tail: _*).write.parquet(out)
      reset()
      q -> Seq("n", "hi", "lo").map(k => Option(obs.get(k)).fold(0L)(_.asInstanceOf[Long]))
    }.toMap
  }

  def cycle(c: Int): Seq[Op[_]] = Queries.map { q =>
    new Op[Seq[Long]](q, 0, 0,
      prepare = () => reset(),
      run = () => {
        def timed[T](k: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          spans(k) = (System.nanoTime() - t0) / 1e9; r
        }
        val df = timed("build_s")(SparkEntry.queries(q)(spark, dataDir.getPath))
        val d = digestFrame(df)
        timed("plan_s")(d.queryExecution.executedPlan)
        timed("exec_s")(digest(d.collect().head))
      },
      check = (got: Seq[Long]) => Etl.expect("digest", got, reference(q)))
  }

  override def extraResults: Map[String, Any] = Map(
    "data_dir" -> dataDir.getPath,
    "queries" -> Queries.map { q =>
      q -> Map("out" -> new File(outDir, q).getPath,
        "sql" -> SparkEntry.oracleSqlFor(dataDir.getPath)(q))
    }.toMap)
}
