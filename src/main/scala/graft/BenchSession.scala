package graft

import org.apache.spark.sql.SparkSession

/** The local session the bench mains run in. */
object BenchSession {

  /** `SPARK_GRAFT_CPUS`, or this host's core count */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with as many shuffle partitions, AQE on, UTC, no UI, WARN logs */
  def apply(appName: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
