package graft

import org.apache.spark.sql.SparkSession

/** The local session the command-line mains (Bench, Verify, PlanDump,
  * GenScale) run on: `cores` task slots and as many shuffle partitions,
  * no UI, parquet nanosecond timestamps read as raw longs, and a UTC
  * session time zone so the events() TIMESTAMP_NTZ -> TIMESTAMP
  * normalization never depends on the host JVM's default zone. */
private[graft] object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
