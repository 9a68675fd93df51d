package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `req` groups the spans of one client
  * operation; times are wall-clock milliseconds (the unit Spark's job
  * events carry) plus nanoseconds for durations.
  */
final case class Span(id: Int, name: String, parent: Int, req: Long,
    startMs: Long, startNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark counters of the jobs submitted inside one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(c: Counters): Unit = c.synchronized {
    jobs += c.jobs; tasks += c.tasks; taskMs += c.taskMs; gcMs += c.gcMs
    shuffleRead += c.shuffleRead; shuffleWrite += c.shuffleWrite
    spill += c.spill; jobIntervals ++= c.jobIntervals
  }
}

/** The listener the benchmark registers on a traced run. Each job is
  * charged to the span that was open on the submitting thread, read
  * from the job's local properties.
  */
final class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def of(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)
  def all: Iterable[Counters] = bySpan.values.asScala

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(
      Tracer.Key))).map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    val c = of(span)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = of(jobSpan.getOrDefault(e.jobId, -1))
    c.synchronized(c.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time),
      e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** In-memory span recorder. Off (the default), `span` is a plain call;
  * on, it records the span and tags the jobs submitted inside it.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var stack = List.empty[Span]
  private var req = 0L
  private var on = false
  private var onSinceMs = 0L

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    on = true
    onSinceMs = System.currentTimeMillis()
  }

  def newRequest(): Unit = req += 1

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      req, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** Wait for the listener bus, so every counter has landed. */
  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of the interval its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.ms - Tracer.unionLength(kids.toSeq) / 1e6
  }

  def selfS(name: String): Double = named(name).map(selfMs).sum / 1e3

  def counters(name: String): Counters = {
    val out = new Counters
    named(name).foreach(s => out.add(listener.of(s.id)))
    out
  }

  /** Span wall minus the time any of its own jobs ran: the driver's
    * share (planning, listing, result handling, scheduling floor).
    */
  def driverMs(s: Span): Double = {
    val c = listener.of(s.id)
    val jobs = c.synchronized(c.jobIntervals.toSeq)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
    math.max(0.0, s.ms - Tracer.unionLength(jobs))
  }

  /** Write every span with its own counters, one JSON object a line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = new Counters
      c.add(listener.of(s.id))
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""req": ${s.req}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""self_ms": ${Report.num(selfMs(s))}, "jobs": ${c.jobs}, """ +
        s""""tasks": ${c.tasks}, "task_ms": ${c.taskMs}, "gc_ms": ${c.gcMs}, """ +
        s""""shuffle_read": ${c.shuffleRead}, "shuffle_write": """ +
        s"""${c.shuffleWrite}, "spill": ${c.spill}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Whole-session counters since tracing was switched on, including
    * jobs submitted outside any span.
    */
  def sparkTotals(): (Counters, Double) = {
    val out = new Counters
    listener.all.foreach(out.add)
    val wallMs = (System.currentTimeMillis() - onSinceMs).toDouble
    (out, math.max(0.0, wallMs - Tracer.unionLength(out.jobIntervals.toSeq)))
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
