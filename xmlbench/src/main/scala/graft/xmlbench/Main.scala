package graft.xmlbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/**
 * The benchmark process: one closed-loop client running one workload's
 * operations back to back in a `local[N]` session.
 *
 * With `--prepare 1` the process only builds the corpus of the seed's
 * variant and its expected results, then exits: a measured process never
 * starts warmed by that work. Otherwise the phases are: load the expected
 * results; set up once, cold (session start, input registration,
 * one pass over every operation); `WarmPasses` untimed passes; then timed
 * passes until `--seconds` have elapsed, each pass running every
 * operation once in a seed-shuffled order and checking each result untimed.
 *
 * With `--trace 1` passes alternate untraced and traced. Traced passes
 * record spans around each layer call, run the single-layer probes, and
 * count Spark framework work per span; the result then holds per-layer
 * metrics instead of end-to-end ones.
 *
 * Usage: Main --workload W --seed N --variant V --corpus DIR --prepare 0|1
 *             --seconds S --trace 0|1 --work DIR --cores N --build B --out FILE
 */
object Main {
  private val WarmPasses = 2

  private def writeObject(f: File, o: AnyRef): Unit = {
    val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(f))
    try out.writeObject(o) finally out.close()
  }

  private def readObject[T](f: File): T = {
    val in = new java.io.ObjectInputStream(new java.io.FileInputStream(f))
    try in.readObject().asInstanceOf[T] finally in.close()
  }

  /** `cpu`: process CPU seconds outside the JIT compiler threads; `jit`: theirs. */
  private final case class Exec(op: String, pass: Int, seconds: Double, cpu: Double,
      jit: Double, outcome: Option[Outcome], error: Option[Throwable])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    val cores = arg("cores").toInt
    val runDir = new File(work, s"run/${wl.name}")
    Corpus.deleteTree(runDir)
    runDir.mkdirs()

    // Wall time of each phase, for sizing the run; not a metric.
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }

    // Corpus and expected results: outside every measurement, except the
    // cold session start, which counts toward the set-up.
    val spark = SparkSession.builder().master(s"local[$cores]").appName("xmlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("first_session")
    val coldStart = phases.last._2
    val corpusSeed = arg("variant").toLong
    val corpus = new File(arg("corpus")).getAbsoluteFile
    // Expected results depend on the corpus and on the engine build (to_xml
    // renders the export reference), so they are kept per both and
    // published, like the corpus, by one atomic rename.
    val refDir = new File(corpus, s"refs-${arg("build")}")
    if (arg("prepare") == "1") {
      Corpus.ensure(spark, corpus, wl.name, corpusSeed)
      if (!refDir.isDirectory) Corpus.publish(refDir) { tmp =>
        val fresh = new Env(corpus, tmp, runDir, seed, corpusSeed, cores)
        wl.prepare(spark, fresh)
        writeObject(new File(tmp, "refs.bin"), fresh.refs.toMap)
      }
      spark.stop()
      return
    }
    val env = new Env(corpus, refDir, runDir, seed, corpusSeed, cores)
    env.refs ++= readObject[Map[String, Any]](new File(refDir, "refs.bin"))
    phase("load_refs")

    val execs = mutable.ArrayBuffer.empty[Exec]
    val noTrace = new Tracer(false)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def execute(op: Op, t: Tracer, pass: Int): Exec = {
      t.op = op.name
      t.pass = pass
      val jit0 = JitCpu.seconds()
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val res = Try(t.span("op." + op.name)(op.run(t)))
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val jit = JitCpu.seconds() - jit0
      val checked = res.flatMap(o => Try(op.check(o)).map(_ => o))
      val e = Exec(op.name, pass, dt, cpu - jit, jit, checked.toOption, checked.failed.toOption)
      execs += e
      e
    }

    // The set-up: the cold session start above, input registration and one
    // pass over every operation, which pays class loading and first JIT.
    val t0 = System.nanoTime()
    val ops = wl.ops(spark, env)
    val setupSeconds = coldStart + (System.nanoTime() - t0) / 1e9 +
      ops.map(op => execute(op, noTrace, -1).seconds).sum
    phase("setup")
    // Untimed passes until the JIT has compiled the hot paths: with one
    // fewer, the first timed pass still runs 10-30 % slower than the next.
    for (_ <- 1 to WarmPasses; op <- ops) execute(op, noTrace, -2)
    phase("warm")

    // Timed passes.
    val listener = if (trace) Some(new FrameworkListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(true)
    tracer.sc = Some(spark.sparkContext)
    val heap = ManagementFactory.getMemoryMXBean
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val probeCounts = mutable.Map.empty[Int, Map[String, Double]]
    var heapPeak = 0L
    val start = System.nanoTime()
    var pass = 0
    // A pass starts only if one more, at the mean pass time so far, ends
    // nearer to `seconds` than stopping now; every run makes at least three,
    // so the median drops a pass that a GC cycle or a host stall hit (in a
    // traced run, at least one of each kind).
    def more(): Boolean = {
      val elapsed = (System.nanoTime() - start) / 1e9
      pass < 3 || elapsed + elapsed / pass / 2 <= seconds
    }
    while (more()) {
      val traced = trace && pass % 2 == 1
      val t = if (traced) tracer else noTrace
      env.rng.shuffle(ops).foreach(execute(_, t, pass))
      if (traced) {
        t.op = "probe"
        probeCounts(pass) = Try(wl.probes(spark, env, t)) match {
          case Success(m) => m
          case Failure(e) =>
            execs += Exec("probe", pass, 0, 0, 0, None, Some(e))
            Map.empty
        }
      }
      // Twice: the first collection queues what the pass left behind for
      // Spark's cleaner thread, which polls every 100 ms; the second, after
      // it has run, reclaims what it released.
      System.gc()
      Thread.sleep(250)
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      passes += pass -> traced
      pass += 1
    }
    listener.foreach(_ => org.apache.spark.xmlbench.ListenerDrain(spark.sparkContext))
    phase("passes")

    val timed = execs.filter(_.pass >= 0)
    val untracedPasses = passes.collect { case (p, false) => p }.toSeq.sorted
    val untraced = timed.filter(e => untracedPasses.contains(e.pass)).toSeq
    /** Per untraced pass, the total of `f` over its operations. */
    def perPass(f: Exec => Double): Seq[Double] =
      untracedPasses.map(p => untraced.filter(_.pass == p).map(f).sum)
    val passSeconds = perPass(_.seconds)
    val failed = execs.count(_.error.isDefined)

    def opMedian(op: String, f: Exec => Double): Double = Stats.median(untraced.filter(_.op == op).map(f))
    val endToEnd: Seq[(String, String, Double)] = {
      val passS = Stats.median(passSeconds)
      val bytes = Stats.median(perPass(_.outcome.map(_.xmlBytes.toDouble).getOrElse(0)))
      val rows = Stats.median(perPass(_.outcome.map(_.xmlRows.toDouble).getOrElse(0)))
      Seq(
        ("setup_s", "s", setupSeconds),
        ("pass_s", "s", passS),
        ("pass_cpu_s", "s", Stats.median(perPass(_.cpu))),
        ("xml_mb_per_s", "MB/s", bytes / 1e6 / passS),
        ("op_ok_ratio", "ratio", (execs.size - failed).toDouble / execs.size),
        ("heap_peak_mb", "MB", heapPeak / 1e6),
        ("xml_bytes_per_row", "B/row", bytes / math.max(1.0, rows)))
    }

    val perLayer: Seq[(String, String, Double)] = listener match {
      case None => Nil
      case Some(l) =>
        PerLayer(wl, cores, tracer, l, passes.toSeq, probeCounts.toMap,
          timed.map(e => (e.op, e.pass, e.outcome)).toSeq, Stats.median(passSeconds),
          Stats.median(perPass(_.jit)))
    }
    if (trace) tracer.dump(new File(runDir, "spans.jsonl"))

    val here = new File("").getAbsoluteFile.toPath
    val opStats = ops.map { op =>
      op.name -> Json.obj("median_s" -> opMedian(op.name, _.seconds), "n" -> untraced.count(_.op == op.name))
    }
    val result = Json.obj(
      "workload" -> wl.name, "seed" -> seed, "why" -> wl.why, "cores" -> cores,
      // Relative to the working directory, so results name no host paths.
      "corpus" -> here.relativize(corpus.toPath).toString,
      "run_dir" -> here.relativize(runDir.toPath).toString,
      "attempted" -> execs.size, "failed" -> failed,
      "errors" -> execs.filter(_.error.isDefined).map { e =>
        Json.obj("op" -> e.op, "pass" -> e.pass, "class" -> e.error.get.getClass.getName,
          "message" -> String.valueOf(e.error.get.getMessage).take(2000))
      },
      "executions" -> execs.map(e => Json.obj("op" -> e.op, "pass" -> e.pass,
        "ok" -> e.error.isEmpty, "s" -> e.seconds, "cpu_s" -> e.cpu, "jit_s" -> e.jit)),
      "metrics" -> Json.Obj((if (trace) perLayer else endToEnd).map { case (n, u, v) =>
        n -> Json.obj("value" -> v, "unit" -> u)
      }),
      "phases_s" -> Json.Obj(phases.toSeq),
      "setup_s" -> setupSeconds,
      "pass_s" -> Json.obj("n" -> passSeconds.size, "q1" -> Stats.quartiles(passSeconds)._1,
        "median" -> Stats.median(passSeconds), "q3" -> Stats.quartiles(passSeconds)._3,
        "all" -> passSeconds),
      "ops" -> Json.Obj(opStats),
      "oracle_sql" -> Json.Obj(wl match {
        case Pipeline => Pipeline.queries.map(q => q -> graft.SparkEntry.oracleSql(q))
        case _ => Nil
      }))
    java.nio.file.Files.write(new File(arg("out")).toPath, Json.render(result).getBytes("UTF-8"))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  /** Quartiles by linear interpolation between order statistics. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN, Double.NaN)
    val s = xs.sorted
    def at(q: Double): Double = {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
    (at(0.25), at(0.5), at(0.75))
  }
}

/**
 * CPU seconds the JIT compiler threads have used so far, from their
 * `/proc/self/task/<tid>/stat` (in clock ticks of 10 ms); 0 where there is no
 * /proc. The JVM runs with `-XX:-UseDynamicNumberOfCompilerThreads`, so no
 * compiler thread exits and takes its count with it.
 *
 * Timed passes subtract it from the process CPU: after warm-up the compiler
 * threads still take 0.7-3 s of CPU a pass on 4 cores, in bursts, so with it
 * a run's CPU figure says how far the JIT had got, not what the pass costs.
 */
object JitCpu {
  private val TicksPerSecond = 100.0

  def seconds(): Double = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      val stat = Try(new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))).getOrElse("")
      val close = stat.lastIndexOf(')')
      // comm is in parentheses; utime and stime are fields 14 and 15.
      if (close < 0 || !stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) 0L
      else {
        val f = stat.substring(close + 2).split(' ')
        f(11).toLong + f(12).toLong
      }
    }.sum / TicksPerSecond
  }
}
