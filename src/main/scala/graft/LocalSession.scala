package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a local Spark session: `local[cpus]`
  * with as many shuffle partitions as cores, graft's planner
  * extensions, no UI, UTC session time and WARN logging. Bench, Verify,
  * ScaleUp, Dev and the test suites all start Spark through it, so
  * their confs cannot drift apart.
  */
object LocalSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every available processor. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
