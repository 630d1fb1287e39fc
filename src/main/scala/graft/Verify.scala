package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import graft.catalog.Catalog

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional query-name filter (Catalog.select, as in Bench) — re-dump
    // one or two queries without the full sweep. The driver passes
    // nothing, so its contract is unchanged.
    val only = sys.env.get(Catalog.QueriesEnv)
    val selected = Catalog.select(SparkEntry.queries, only)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${LocalSession.describe(e)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Under a filter, restrict oracle_sql.json to the selected queries —
    // otherwise a DuckDB compare over an outDir holding an earlier full
    // dump would silently mix stale parquet with fresh oracle SQL.
    val oracles = Catalog.select(SparkEntry.oracleSql, only)
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
