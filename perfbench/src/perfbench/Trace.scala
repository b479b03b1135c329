package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call at a layer boundary. `name` is `<layer>.<call>`; a
  * Spark job is recorded as `spark.job` under the span that submitted
  * it. Times are `System.nanoTime` values.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = (end - start) / 1e6
}

/** Work counted for the jobs submitted under one span. */
final class Counters {
  var jobs, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inBytes, inRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inBytes += o.inBytes; inRows += o.inRows
  }
}

/** Counts jobs and task metrics per span. The harness tags every job
  * with the id of the span that submitted it through the
  * `perfbench.span` local property; threads Spark starts from a span
  * (a streaming query's execution thread) inherit that property.
  */
final class CountingListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobOpen = new ConcurrentHashMap[Int, (Long, Long)]()
  private val jobsDone = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)

  private def counters(span: Long): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobOpen.put(e.jobId, (span, e.time))
    val c = counters(span)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (span, t0) =>
      jobsDone.add((span, t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = counters(stageSpan.getOrDefault(e.stageId, 0L))
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
    }
  }

  /** Removes and returns the counters of `spans`, summed. */
  def take(spans: Iterable[Long]): Counters = {
    val sum = new Counters
    spans.foreach(s => Option(bySpan.remove(s)).foreach(c => c.synchronized(sum.add(c))))
    sum
  }

  /** Removes and returns finished jobs as (span, startMs, endMs). */
  def takeJobs(): Seq[(Long, Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var j = jobsDone.poll()
    while (j != null) { out += j; j = jobsDone.poll() }
    out.toSeq
  }
}

/** Records spans in memory while `enabled`; a disabled tracer runs the
  * wrapped calls and records nothing, so the untraced run pays no
  * tracing cost.
  */
final class Tracer(sc: SparkContext, val listener: CountingListener) {
  var enabled = false
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var currentOp = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  // epoch-ms → nanoTime, for Spark's job timestamps
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def newId(): Long = { val id = nextId; nextId += 1; id }

  private def setProp(): Unit =
    sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)

  /** Runs `f` as op `op`'s root span; returns the span ids it opened. */
  def op[A](op: Long, name: String)(f: => A): (A, Seq[Long]) = {
    currentOp = op
    val from = spans.size
    val a = span(name)(f)
    (a, spans.view.drop(from).map(_.id).toSeq)
  }

  def span[A](name: String)(f: => A): A = {
    if (!enabled) return f
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    setProp()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      setProp()
      spans += Span(id, parent, currentOp, name, t0, t1)
    }
  }

  /** Adds a span measured elsewhere (ms wall-clock times). */
  def addMs(name: String, parent: Long, startMs: Long, endMs: Long): Unit =
    if (enabled) spans += Span(newId(), parent, currentOp, name,
      startMs * 1000000L + nanoOffset, endMs * 1000000L + nanoOffset)

  /** Turns the jobs finished so far into `spark.job` spans. */
  def collectJobs(): Unit = listener.takeJobs().foreach { case (parent, s, e) =>
    if (enabled && parent != 0L)
      spans += Span(newId(), parent, currentOp, "spark.job",
        s * 1000000L + nanoOffset, e * 1000000L + nanoOffset)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per layer in ms: each span's duration minus the part of
    * it that its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) busy += curE - curS
      out(s.layer) += (s.end - s.start - busy) / 1e6
    }
    out.toMap
  }
}
