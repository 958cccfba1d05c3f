package graft

import org.apache.spark.sql.SparkSession

/** The local session every dev main runs on: `cpus` cores and as many
  * shuffle partitions, UTC, adaptive execution, no UI, ERROR logging. */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
