package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: Bench, Verify, Smoke, Explain,
  * the tools and the test suite all get theirs here, so every number and
  * every result comes from the configuration the engine actually runs.
  * `cpus` sets both the local core count and the shuffle partitions; AQE
  * stays at Spark's default (on).
  */
object Session {
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
