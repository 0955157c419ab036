package graft.core

import org.apache.spark.sql.SparkSession

/** The ONE local Spark session builder, shared by the mains (Bench,
  * Verify, Golden, Plans) and the test suites. The oracle outputs
  * depend on these settings: one shuffle partition per core and a UTC
  * session clock (epoch extraction casts through the session time zone,
  * see [[Tables]]). Spark logs go to stderr at WARN so stdout carries
  * only a main's own output. */
object Session {
  def local(cpus: Int): SparkSession = {
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
