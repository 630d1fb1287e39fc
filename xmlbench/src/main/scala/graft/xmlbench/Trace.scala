package graft.xmlbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/**
 * In-memory spans recorded around calls into the engine's layers. A span
 * has a name, start, end, the span that encloses it, and the operation and
 * pass it belongs to. Nothing is written until [[Tracer.dump]] at the end
 * of the run. A disabled tracer runs the body and records nothing.
 */
final case class Span(id: Int, parent: Int, name: String, op: String, pass: Int,
    start: Long, var end: Long)

final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var op: String = ""
  var pass: Int = 0
  /** Set while tracing: spans tag the Spark jobs they start with
   *  "<pass>/<op>/<span>", so framework counters split by span. */
  var sc: Option[org.apache.spark.SparkContext] = None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, open.headOption.getOrElse(-1), name, op, pass,
        System.nanoTime(), 0L)
      spans += s
      open = s.id :: open
      val prev = sc.map(_.getLocalProperty(FrameworkListener.Tag))
      sc.foreach(_.setLocalProperty(FrameworkListener.Tag, s"$pass/$op/$name"))
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.foreach(_.setLocalProperty(FrameworkListener.Tag, prev.orNull))
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time in seconds per (pass, span name): each span's duration minus
   *  the part of it its direct children cover. */
  def selfSeconds: Map[(Int, String), Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(s => (s.pass, s.name)).map { case (k, ss) =>
      k -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9
    }
  }

  def dump(file: java.io.File): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      Json.render(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "pass" -> s.pass, "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6))
    }
    java.nio.file.Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/**
 * Spark framework counters, attributed to the operation that ran them via
 * the `xmlbench.tag` local property ("<pass>/<op>") set before each call.
 * Counters are read only after the listener bus has drained.
 */
final class FrameworkListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runNs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
  }
  val byTag = mutable.Map.empty[String, Counters]
  private val stageTag = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(FrameworkListener.Tag))).getOrElse("")
  private def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counters(tagOf(e.properties)).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTag(id) = tagOf(e.properties)
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageTag.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    stageSubmitted.get(e.stageId).foreach(t => c.waitMs += math.max(0L, e.taskInfo.launchTime - t))
    Option(e.taskMetrics).foreach { m =>
      c.runNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    counters(stageTag.getOrElse(id, "")).stages += 1
    stageTag.remove(id); stageSubmitted.remove(id)
  }
}

object FrameworkListener {
  val Tag = "xmlbench.tag"
}
