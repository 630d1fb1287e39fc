package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog

/**
 * Driver contract: the named queries and their DuckDB oracle SQL, both
 * read from one [[graft.catalog.Catalog]] of specs, where each query sits
 * beside its oracle in its domain's file under `graft.catalog`.
 */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query's build, by name. Reading it builds no oracle text. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.specs.map { case (n, q) => n -> q.build }

  /** Every query's oracle SQL, by the same names. */
  lazy val oracleSql: Map[String, String] =
    Catalog.specs.map { case (n, q) => n -> q.oracle }

  /** Scale-adaptive state-store partition count for a STATEFUL stream
    * drain (stream-stream join, session windows): shuffle partitions fix
    * the state partitioning at stream start, and every micro-batch pays a
    * per-partition state-store open/commit (delta file create + rename +
    * CRC on the HDFS-backed provider) REGARDLESS of rows — at the bench's
    * input sizes a state sharded `cores` ways is pure fixed cost (measured:
    * most q188 stage time sits in 32 near-empty state tasks per batch).
    * Size to ~64 MB of input bytes per state partition, floor 1, capped at
    * the session's own setting so a production session configured for a
    * 100-TB stream keeps its parallelism — the cap means this can only
    * LOWER the count when the input is provably small. Partition count
    * never changes the drained row SET (state ops are per-key; results are
    * exact integer/decimal), only where keys live. Sizes resolve through
    * the Hadoop `FileSystem`, so `file:`/`hdfs:`/object-store paths size
    * like plain ones; if listing fails, the session's setting stands. */
  private[graft] def stateShufflePartitions(s: SparkSession, inputDirs: Seq[String]): Int = {
    val cap = s.sessionState.conf.numShufflePartitions
    graft.xml.XmlFile.totalInputBytes(s.sparkContext.hadoopConfiguration,
        inputDirs.mkString(","))
      .fold(cap)(bytes => math.max(1, math.min(cap.toLong, bytes / (64L << 20) + 1)).toInt)
  }
}
