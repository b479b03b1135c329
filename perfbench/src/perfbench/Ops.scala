package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

/** One measured operation. `stats` holds the per-layer numbers of a
  * traced op (empty when untraced).
  */
final case class OpRec(cycle: Int, name: String, kind: String, traced: Boolean,
                       latencyMs: Double, ok: Boolean, error: String,
                       stats: Map[String, Double])

/** The result of a DataFrame op, kept for the correctness check. */
final case class DfResult(rows: Array[Row], schema: StructType)

/** Runs ops against the engine and measures them from outside: every
  * op gets its own job group, and when tracing is on, spans around the
  * build call, Catalyst planning and execution, plus the counters of
  * the jobs each span submitted.
  */
final class OpRunner(val spark: SparkSession, val tracer: Tracer) {
  private val sc = spark.sparkContext
  private var opSeq = 0L
  val records = mutable.ArrayBuffer.empty[OpRec]
  private val scanHelper = new AdaptiveSparkPlanHelper {}

  private def begin(name: String): Long = {
    opSeq += 1
    sc.setJobGroup(s"perfbench-op-$opSeq", name)
    opSeq
  }

  /** Times `build` (the call that returns the op's DataFrame, recorded
    * as span `buildSpan`), planning and `collect()`. Returns the
    * latency, the rows, the per-layer stats and the failure, if any.
    */
  def dfOp(name: String, buildSpan: String)(build: => DataFrame)
      : (Double, Option[DfResult], Map[String, Double], Option[Throwable]) = {
    val op = begin(name)
    val t0 = System.nanoTime()
    try {
      val ((df, rows), ids) = tracer.op(op, s"op.$name") {
        val df = tracer.span(buildSpan)(build)
        val qe = df.queryExecution
        if (tracer.enabled) {
          tracer.span("plan.optimization")(qe.optimizedPlan)
          tracer.span("plan.physical")(qe.executedPlan)
        }
        (df, tracer.span("exec.run")(df.collect()))
      }
      val lat = (System.nanoTime() - t0) / 1e6
      val stats = if (tracer.enabled) traceStats(ids, buildSpan, Some(df)) else Map.empty[String, Double]
      tracer.collectJobs()
      (lat, Some(DfResult(rows, df.schema)), stats, None)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        tracer.collectJobs()
        ((System.nanoTime() - t0) / 1e6, None, Map.empty[String, Double], Some(e))
    }
  }

  /** Times a call that returns no DataFrame (a write step). */
  def callOp[A](name: String)(f: => A): (Double, Option[A], Map[String, Double], Option[Throwable]) = {
    val op = begin(name)
    val t0 = System.nanoTime()
    try {
      val (a, ids) = tracer.op(op, s"op.$name")(f)
      val lat = (System.nanoTime() - t0) / 1e6
      val stats = if (tracer.enabled) traceStats(ids, "", None) else Map.empty[String, Double]
      tracer.collectJobs()
      (lat, Some(a), stats, None)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        tracer.collectJobs()
        ((System.nanoTime() - t0) / 1e6, None, Map.empty[String, Double], Some(e))
    }
  }

  def record(r: OpRec): Unit = records += r

  /** Per-layer numbers of the op whose spans are `ids`. */
  private def traceStats(ids: Seq[Long], buildSpan: String,
                         df: Option[DataFrame]): Map[String, Double] = {
    org.apache.spark.PerfBenchBus.drain(sc)
    val mine = tracer.spans.takeRight(ids.size)
    val buildIds = mine.filter(_.name == buildSpan).map(_.id)
    val built = tracer.listener.take(buildIds)
    val executed = tracer.listener.take(mine.filter(_.name == "exec.run").map(_.id))
    val all = tracer.listener.take(ids)
    all.add(built); all.add(executed)
    val out = mutable.Map.empty[String, Double]
    def ms(n: String) = mine.filter(_.name == n).map(_.durMs).sum
    mine.foreach(s => out(s.name + "_ms") = out.getOrElse(s.name + "_ms", 0.0) + s.durMs)
    out("queries.eager_jobs") = built.jobs.toDouble
    df.foreach { d =>
      val ph = d.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
      val parent = buildIds.headOption.getOrElse(0L)
      ph.foreach(p => tracer.addMs("plan.analysis", parent, p.startTimeMs, p.endTimeMs))
      out("plan.analysis_ms") = ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val (read, total) = scanFiles(d.queryExecution.executedPlan)
      out("scan.files_read") = read
      out("scan.files_total") = total
    }
    val execMs = ms("exec.run")
    out("exec.jobs") = all.jobs.toDouble
    out("exec.tasks") = all.tasks.toDouble
    out("exec.task_cpu_ms") = all.cpuNs / 1e6
    out("exec.task_run_ms") = executed.runMs.toDouble
    out("exec.gc_ms") = all.gcMs.toDouble
    out("exec.shuffle_read_mb") = all.shuffleRead / 1048576.0
    out("exec.shuffle_write_mb") = all.shuffleWrite / 1048576.0
    out("exec.spill_mb") = all.spill / 1048576.0
    out("scan.input_mb") = all.inBytes / 1048576.0
    out("scan.input_rows") = all.inRows.toDouble
    out("exec.wall_ms") = execMs
    out.toMap
  }

  /** (files read, files listed) over the file-source scans of a plan,
    * from the scan nodes' SQL metrics and their file indexes.
    */
  private def scanFiles(plan: SparkPlan): (Double, Double) = {
    val scans = scanHelper.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val read = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val total = scans.map(s => s.relation.location.inputFiles.length.toLong).sum
    (read.toDouble, total.toDouble)
  }
}

/** Order-independent fingerprint of a result: cells rendered with a
  * type tag, columns ordered by name, rows sorted, then SHA-256.
  */
object Fingerprint {
  private def cell(v: Any): String = v match {
    case null => "\u0000N"
    case d: java.math.BigDecimal => "d:" + d.toPlainString
    case d: scala.math.BigDecimal => "d:" + d.bigDecimal.toPlainString
    case d: Double => "f:" + java.lang.Double.toString(d)
    case f: Float => "f:" + java.lang.Float.toString(f)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => "i:" + n
    case b: Boolean => "b:" + b
    case t: java.sql.Timestamp => "t:" + t.getTime + "." + t.getNanos
    case t: java.time.Instant => "t:" + t.toString
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => "s:" + o.toString
  }

  def of(r: DfResult): String = {
    val order = r.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = r.rows.map(row => order.map(i => cell(row.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(r.schema.fieldNames(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(0.toByte); md.update(l.getBytes("UTF-8")) }
    s"${r.rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }
}
