package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns a run's op records and spans into named metrics. */
object Metrics {
  def median(xs: Seq[Double]): Double = pct(xs.sorted, 0.5)

  /** Linear-interpolated percentile of sorted values (0 when empty). */
  def pct(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Per-layer metrics reported on every workload: per-op means of the
    * traced ops; a layer a workload does not call reads 0.
    */
  val perOpLayer = Seq("queries.build_ms", "queries.eager_jobs",
    "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms",
    "exec.run_ms", "exec.jobs", "exec.tasks", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "scan.input_mb", "scan.input_rows", "scan.files_read",
    "storage.append_ms", "storage.export_ms", "storage.union_resolve_ms",
    "storage.lake_resolve_ms", "streaming.enrich_ms", "streaming.revenue_ms")
  val layers = Seq("op", "queries", "plan", "exec", "spark", "storage", "streaming")

  def summarize(w: Workload, heapMb: Double): Map[String, Double] = {
    val recs = w.runner.records.toSeq
    val plain = recs.filter(!_.traced)
    val traced = recs.filter(_.traced)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = median(w.setupTimes.toSeq)
    val lat = plain.filter(r => r.ok && w.latencyKinds(r.kind)).map(_.latencyMs).sorted
    m("ops_per_s") = plain.count(_.ok) / (plain.map(_.latencyMs).sum / 1000)
    m("latency_p50_ms") = pct(lat, 0.5)
    m("latency_p90_ms") = pct(lat, 0.9)
    m("retained_heap_mb") = heapMb
    m("failed_frac") = recs.count(!_.ok).toDouble / recs.size
    m("latency_samples") = lat.size
    m("latency_beyond_p90") = lat.count(_ > m("latency_p90_ms"))
    m("setup_runs") = w.setupTimes.size
    m ++= w.extra
    if (traced.nonEmpty) {
      def total(k: String) = traced.map(_.stats.getOrElse(k, 0.0)).sum
      perOpLayer.foreach(k => m(k) = total(k) / traced.size)
      val cores = w.spark.sparkContext.defaultParallelism
      m("exec.task_busy_frac") =
        if (total("exec.wall_ms") > 0) total("exec.task_run_ms") / (total("exec.wall_ms") * cores) else 0.0
      m("scan.files_kept_frac") =
        if (total("scan.files_total") > 0) total("scan.files_read") / total("scan.files_total") else 0.0
      val spans = w.tracer.spans.toSeq.filter(_.op != 0L)
      val self = Tracer.selfTimes(spans)
      val opMs = spans.filter(_.layer == "op").map(_.durMs).sum
      layers.foreach(l => m(s"self_share.$l") = if (opMs > 0) self.getOrElse(l, 0.0) / opMs else 0.0)
      val plainMean = plain.map(_.latencyMs).sum / plain.size
      val tracedMean = traced.map(_.latencyMs).sum / traced.size
      m("trace.overhead_frac") = tracedMean / plainMean - 1
      Seq("storage.snapshots", "storage.log_segments", "storage.write_amp",
        "storage.export_growth").foreach(k => if (!m.contains(k)) m(k) = 0.0)
    }
    m.toMap
  }

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.startsWith("self_share.")) "frac"
    else if (name == "storage.write_amp" || name == "storage.export_growth") "ratio"
    else "count"
}

/** Files a run leaves: `result.json` (the metrics), `ops.jsonl` (one
  * record per op) and `spans.jsonl` (the traced phase's spans).
  */
object Out {
  /** Progress line for the run's log (the JVM's stderr). */
  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def writeJson(p: Path, m: Map[String, String]): Unit =
    Files.writeString(p, obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }))

  def readFlags(p: Path): Map[String, Boolean] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(Files.readString(p)) match {
      case JObject(fs) => fs.collect { case (k, JBool(b)) => k -> b }.toMap
      case _ => Map.empty
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def writeResult(work: String, runner: OpRunner, metrics: Map[String, Double]): Unit = {
    val recs = runner.records
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(Metrics.unitOf(k))))
    }
    Files.writeString(Paths.get(work, "result.json"), obj(Seq(
      "attempted" -> recs.size.toString,
      "failed" -> recs.count(!_.ok).toString,
      "metrics" -> obj(ms))) + "\n")
    val ops = recs.iterator.map { r =>
      obj(Seq("cycle" -> r.cycle.toString, "op" -> str(r.name), "kind" -> str(r.kind),
        "traced" -> r.traced.toString, "latency_ms" -> num(r.latencyMs),
        "ok" -> r.ok.toString, "error" -> str(r.error),
        "stats" -> obj(r.stats.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })))
    }
    Files.write(Paths.get(work, "ops.jsonl"), ops.toSeq.asJava, UTF_8)
    val spans = runner.tracer.spans.iterator.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> str(s.name), "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
    }
    Files.write(Paths.get(work, "spans.jsonl"), spans.toSeq.asJava, UTF_8)
  }
}
