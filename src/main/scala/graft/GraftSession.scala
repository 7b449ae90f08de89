package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession config, shared by every main and the test
  * suites: `cpus` shuffle partitions, UTC session time zone, parquet
  * nanosecond timestamps read as longs, no UI, WARN logging. */
object GraftSession {

  /** A local session on `cpus` cores. */
  def apply(cpus: Int): SparkSession = apply(s"local[$cpus]", cpus)

  def apply(master: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
