package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-session policy of the CLIs: `local[cpus]`, Bench's
  * shuffle-partition rule max(4·cpus, 16), AQE on, no UI, UTC session
  * time, log level ERROR. */
object Sessions {
  /** Worker threads: SPARK_GRAFT_CPUS if set, every available processor
    * otherwise. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", math.max(n * 4, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
