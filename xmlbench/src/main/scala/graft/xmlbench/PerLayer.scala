package graft.xmlbench

/**
 * Per-layer metrics of a traced run. Each value is the median over the
 * traced passes of that pass's total; a layer the workload does not
 * exercise reads 0. Span metrics (`<layer>.s`) are self times.
 */
object PerLayer {
  private val spanLayers = Seq("extract", "infer", "parse.full", "parse.pruned", "pretest",
    "write", "load", "build", "plan", "exec")
  private val sparkCounters = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.task_wait_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.failed_tasks" -> "count")

  /** Every per-layer metric name with its unit, for all workloads. */
  val names: Seq[(String, String)] =
    spanLayers.map(l => s"$l.s" -> "s") ++ Seq(
      "extract.records" -> "count", "extract.bytes" -> "bytes", "extract.splits" -> "count",
      "extract.mb_per_s_per_core" -> "MB/s", "parse.mb_per_s_per_core" -> "MB/s",
      "infer.records" -> "count",
      "parse.rows" -> "count", "parse.malformed_rows" -> "count",
      "pretest.kept_ratio" -> "ratio", "pretest.precision" -> "ratio",
      "write.bytes" -> "bytes", "write.rows" -> "count", "write.tasks" -> "count",
      "to_xml.s" -> "s", "from_xml.s" -> "s", "to_xml.rows" -> "count", "from_xml.rows" -> "count") ++
      Workloads.all.flatMap(_.opNames).flatMap(n => Seq(s"op.$n.s" -> "s", s"op.$n.stages" -> "count")) ++
      sparkCounters ++ Seq("jit.cpu_s" -> "s", "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s",
        "trace.overhead_s" -> "s", "trace.spans" -> "count")

  def apply(wl: Workload, cores: Int, tracer: Tracer, l: FrameworkListener,
      passes: Seq[(Int, Boolean)], probes: Map[Int, Map[String, Double]],
      execs: Seq[(String, Int, Option[Outcome])], untracedPassS: Double,
      untracedJitS: Double): Seq[(String, String, Double)] = {
    val traced = passes.collect { case (p, true) => p }
    def perPass(f: Int => Double): Double = Stats.median(traced.map(f))
    val self = tracer.selfSeconds
    val spans = tracer.all
    // Listener counters keyed by (pass, op, span) from the job tags.
    val counters = l.byTag.toSeq.flatMap { case (tag, c) =>
      tag.split("/", 3) match {
        case Array(p, op, span) if p.nonEmpty && p.forall(_.isDigit) => Some((p.toInt, op, span, c))
        case _ => None
      }
    }
    def opCounters(p: Int) = counters.filter(c => c._1 == p && c._2 != "probe").map(_._4)
    def execsIn(p: Int) = execs.filter(_._2 == p)
    def outcome(p: Int, op: String) = execsIn(p).find(_._1 == op).flatMap(_._3)
    def writeSpans(p: Int) = spans.filter(s => s.pass == p && s.name == "write")

    val values = Map.newBuilder[String, Double]
    spanLayers.foreach(s => values += s"$s.s" -> perPass(p => self.getOrElse((p, s), 0.0)))
    Seq("extract.records", "extract.bytes", "extract.splits", "infer.records", "parse.rows",
        "parse.malformed_rows", "pretest.kept_ratio", "pretest.precision").foreach { k =>
      values += k -> perPass(p => probes.getOrElse(p, Map.empty).getOrElse(k, 0.0))
    }
    val extractS = perPass(p => self.getOrElse((p, "extract"), 0.0))
    val extractBytes = perPass(p => probes.getOrElse(p, Map.empty).getOrElse("extract.bytes", 0.0))
    def perCore(seconds: Double) = if (seconds > 0) extractBytes / 1e6 / seconds / cores else 0.0
    values += "extract.mb_per_s_per_core" -> perCore(extractS)
    // Parse throughput over the same bytes: full parse on ingest, pruned on query.
    values += "parse.mb_per_s_per_core" -> perCore(perPass(p =>
      self.getOrElse((p, "parse.full"), 0.0) + self.getOrElse((p, "parse.pruned"), 0.0)))
    val writers = (p: Int) => writeSpans(p).map(_.op).distinct.flatMap(outcome(p, _))
    values += "write.bytes" -> perPass(p => writers(p).map(_.xmlBytes.toDouble).sum)
    values += "write.rows" -> perPass(p => writers(p).map(_.xmlRows.toDouble).sum)
    values += "write.tasks" -> perPass { p =>
      val n = writeSpans(p).size
      if (n == 0) 0.0
      else counters.filter(c => c._1 == p && c._3 == "write").map(_._4.tasks).sum.toDouble / n
    }
    Seq("to_xml", "from_xml").foreach { op =>
      values += s"$op.s" -> perPass(p => spans.find(s => s.pass == p && s.name == s"op.$op")
        .map(s => (s.end - s.start) / 1e9).getOrElse(0.0))
      values += s"$op.rows" -> perPass(p => outcome(p, op).map(_.xmlRows.toDouble).getOrElse(0.0))
    }
    wl.opNames.foreach { op =>
      values += s"op.$op.s" -> perPass(p => spans.find(s => s.pass == p && s.name == s"op.$op")
        .map(s => (s.end - s.start) / 1e9).getOrElse(0.0))
      values += s"op.$op.stages" -> perPass(p =>
        counters.filter(c => c._1 == p && c._2 == op).map(_._4.stages).sum.toDouble)
    }
    def spark(f: FrameworkListener#Counters => Double) = perPass(p => opCounters(p).map(f).sum)
    values ++= Seq(
      "spark.jobs" -> spark(_.jobs.toDouble), "spark.stages" -> spark(_.stages.toDouble),
      "spark.tasks" -> spark(_.tasks.toDouble), "spark.task_run_s" -> spark(_.runNs / 1e9),
      "spark.task_cpu_s" -> spark(_.cpuNs / 1e9), "spark.task_gc_s" -> spark(_.gcMs / 1e3),
      "spark.task_wait_s" -> spark(_.waitMs / 1e3),
      "spark.shuffle_read_mb" -> spark(_.shuffleRead / 1e6),
      "spark.shuffle_write_mb" -> spark(_.shuffleWrite / 1e6),
      "spark.failed_tasks" -> spark(_.failedTasks.toDouble))
    val tracedPassS = perPass(p => spans.filter(s => s.pass == p && s.name.startsWith("op."))
      .map(s => (s.end - s.start) / 1e9).sum)
    values += "jit.cpu_s" -> untracedJitS
    values ++= Seq("trace.pass_s" -> tracedPassS, "trace.untraced_pass_s" -> untracedPassS,
      "trace.overhead_s" -> (tracedPassS - untracedPassS),
      "trace.spans" -> spans.size.toDouble / math.max(1, traced.size))
    val v = values.result()
    names.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
  }
}
