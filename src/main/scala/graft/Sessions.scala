package graft

import org.apache.spark.sql.SparkSession

/** The one session constructor every main and the test suites share.
  * The four session confs are the ones the oracle hashes depend on: UTC
  * session zone, naive parquet timestamps read as TIMESTAMP (LTZ at UTC,
  * matching DuckDB), INT64 nanos read as BIGINT, and the UI off.
  */
object Sessions {
  def local(cpus: String, partitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(cpus: String): SparkSession = local(cpus, cpus)
}
