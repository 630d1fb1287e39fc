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

  /** A failure's line for the mains' stderr: `e`'s class and message, then
    * its root cause's when they differ, since a file scan wraps a parse
    * error in `FAILED_READ_FILE` and a failed task in a stage failure. */
  def describe(e: Throwable): String = {
    val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
    def line(t: Throwable) = s"${t.getClass.getName}: ${t.getMessage}"
    if (root == null || line(root) == line(e)) line(e) else s"${line(e)}; root cause ${line(root)}"
  }
}
