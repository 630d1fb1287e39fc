package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dumps `explain("formatted")` for selected SparkEntry queries to
  * `<outDir>/<query>_<tag>.txt` — the plan evidence the optimization rounds
  * commit under plans/rNN/. Never executes the query (streaming queries,
  * whose plan only exists per-micro-batch, are skipped with a note).
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <tag>"
  * with SPARK_GRAFT_QUERIES a comma-separated filter (required — dumping all
  * 250+ plans at once is never what an A/B wants) and SPARK_GRAFT_SF_DIR the
  * data directory (same convention as Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sel = sys.env("SPARK_GRAFT_QUERIES")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.filter { case (n, _) => sel(n) }.foreach {
      case (name, fn) =>
        val text = try {
          val df = fn(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"[plandump] $name failed: $e" }
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          text.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
