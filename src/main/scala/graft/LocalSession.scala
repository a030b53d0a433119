package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main and the test suites run in:
  * `local[cpus]` with one shuffle partition per core, the UTC session
  * time zone, parquet timestamps read as TIMESTAMP rather than
  * TIMESTAMP_NTZ (see [[Tables]]), no UI, and Spark's log at ERROR.
  */
object LocalSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
