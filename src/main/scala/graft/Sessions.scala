package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the command-line mains (`Bench`, `Verify`,
  * `MicroBench`, `pipeline.PipelineMain`, `orchestrate.Main`).
  *
  * Master and shuffle partitions come from ONE core count —
  * `SPARK_GRAFT_CPUS`, else every core of this host — so a session never
  * runs more shuffle partitions than it has cores by accident.
  * `SPARK_MASTER`, when set, overrides the master (a cluster deployment).
  * Every session runs in UTC with the UI off and logs at WARN. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else `Runtime.availableProcessors`. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
    case None => Runtime.getRuntime.availableProcessors
  }

  /** Build (or join) the session. `hiveWarehouse`: enable Hive support
    * with that warehouse dir, so catalog tables persist across runs. */
  def create(appName: String, hiveWarehouse: Option[String] = None): SparkSession = {
    val n = cpus
    val b = SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = hiveWarehouse
      .fold(b)(dir => b.config("spark.sql.warehouse.dir", dir).enableHiveSupport())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
