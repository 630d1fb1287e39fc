package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.catalog.Catalog

object Bench {

  /** Opt-in per-stage profile (SPARK_GRAFT_STAGE_LOG=1): prints one stderr
    * line per completed stage with the owning query's job description, wall
    * duration, task count and shuffle bytes — the guide §1 "where does the
    * time go" view for a UI-less bench. Never on for driver runs (env unset),
    * so the measured contract is unchanged. */
  private final class StageLogListener extends SparkListener {
    private val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      js.stageIds.foreach(id => stageDesc.put(id, desc))
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      // Evict as we go so a 255-query sweep doesn't grow the map unbounded.
      // Caveat: stages from lazily materialized localCheckpoints run under
      // whichever LATER query first forces them, so they are attributed to
      // that triggering query's description, not the one that built them.
      val desc = stageDesc.remove(si.stageId)
      val ms = for {
        s <- si.submissionTime; e <- si.completionTime
      } yield e - s
      val m = si.taskMetrics
      System.err.println(
        f"[stage] q=${if (desc == null) "" else desc}%s id=${si.stageId}%d " +
          f"ms=${ms.getOrElse(-1L)}%d tasks=${si.numTasks}%d " +
          f"in=${m.inputMetrics.bytesRead}%d sr=${m.shuffleReadMetrics.totalBytesRead}%d " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten}%d " +
          f"exec_ms=${m.executorRunTime}%d cpu_ms=${m.executorCpuTime / 1000000}%d " +
          f"name=${si.name.takeWhile(_ != '\n')}%s")
    }
  }
  /**
   * Forces full materialization of every projected column: counting the
   * physical plan's InternalRow RDD executes the plan as optimized for the
   * query's own output, unlike `df.count()` which lets Catalyst prune all
   * projected expressions and time little more than the scan.
   */
  private def sink(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional query-name filter (Catalog.select) and timed-pass count —
    // for isolated A/B timing of one or two queries without the full
    // sweep. Defaults preserve the driver's contract.
    val onlyQueries = sys.env.get(Catalog.QueriesEnv)
    val benched: Seq[(String, (SparkSession, String) => DataFrame)] =
      Catalog.select(SparkEntry.queries, onlyQueries).toSeq
    val timedPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    require(timedPasses >= 1, // fail fast, BEFORE the minutes-long warmup sweep
      s"SPARK_GRAFT_PASSES must be >= 1, got $timedPasses")
    val spark = LocalSession(cpus.toInt)
    if (sys.env.get("SPARK_GRAFT_STAGE_LOG").exists(_ == "1")) {
      spark.sparkContext.addSparkListener(new StageLogListener)
    }
    // Iterative operators localCheckpoint intermediates; those blocks are
    // reaped only when the GC collects the RDD handles, so a 100-query run
    // accumulates dead blocks that inflate later queries (GC pressure, block
    // manager scans). Nothing here is reused across queries — every timed
    // query plans from scratch — so dropping all persisted RDDs between
    // queries (outside the timed window) keeps each measurement clean.
    def dropLeakedBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Untimed warmup pass: JIT + codegen caches + shuffle service init, so the
    // first timed query doesn't absorb JVM startup. Exceptions are swallowed
    // HERE ONLY because this pass isn't a gate — a query broken by a code
    // change still surfaces in the timed passes below as -1.
    benched.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"warmup:$name")
      try sink(fn(spark, sfDir)) catch { case NonFatal(_) => () }
      dropLeakedBlocks()
    }
    // Two timed passes (configurable), min per query: a single pass is
    // hostage to host contention on a shared machine (round-6 driver numbers
    // showed 2-3x one-off inflation on individual queries); the min of the
    // runs is the cleanest estimate of the plan's cost. A failed query
    // reports -1, and its exception goes to stderr.
    def timedPass(): Map[String, Double] = benched.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok = try { sink(fn(spark, sfDir)); true } catch {
        case NonFatal(e) =>
          System.err.println(s"bench: $name failed: ${LocalSession.describe(e)}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      dropLeakedBlocks()
      name -> (if (ok) dt else -1.0)
    }.toMap
    val passes = (1 to timedPasses).map(_ => timedPass())
    // Min of the passes that SUCCEEDED: one transient failure (host OOM in
    // a single pass) doesn't void a valid measurement from the others.
    val results = passes.head.keys.map { name =>
      val ok = passes.map(_(name)).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Failed queries are EXCLUDED from the total and listed: summing their
    // -1 sentinel would make a broken query look like a speedup.
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.values.filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","note":"toRdd sink + untimed warmup + per-query leaked-block cleanup + min of $timedPasses timed passes, failures excluded from total (r7); totals not comparable to r1/r2 count()-sink numbers"}"""
    // stdout first — it must survive even if the file write fails. The
    // on-disk copy exists because the driver's stdout tail truncated rounds
    // 6 and 7 mid-JSON; it lives INSIDE the repo (not a fixed world-writable
    // /tmp path another user could pre-create or symlink) so the round's
    // end-of-round commit preserves the full result.
    println(json)
    // The on-disk copy is the canonical LAST COMPLETE SUITE result, one
    // per core count, so an 8-core run never overwrites the 32-core
    // capture (VERDICT r14 hygiene / ADVICE r15 — a one-query scale probe
    // overwrote the 235-query capture twice). Filtered runs land in
    // BENCH_partial.json unless the caller routes them explicitly via
    // SPARK_GRAFT_BENCH_OUT.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (onlyQueries.isDefined) "BENCH_partial.json"
      else if (cpus.toInt == 32) "BENCH_full.json"
      else s"BENCH_full_c${cpus.toInt}.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"bench: could not write $outPath: $e")
    }
    // Compact FINAL line: at 255 queries the full JSON line is ~11 KB, far
    // past the driver's 2000-char stdout tail, so rounds 17-18 came back
    // with parsed:null and an empty PERF per_query block. This summary is
    // ~120 bytes and printed LAST so any tail capture ends with one complete,
    // parseable JSON object; the per-query map lives in the full line above
    // and in the on-disk copy named here.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","full":"$outPath"}""")
    spark.stop()
  }
}
