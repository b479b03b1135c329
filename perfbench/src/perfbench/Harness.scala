package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.queries.Pipeline
import graft.storage.{IcebergExport, TieredTable}
import graft.streaming.{Datagen, DemoPipeline}
import graft.tables.Tables

/** Command-line settings; every one is passed by `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String,
                      setups: Int, warmCycles: Int, cycles: Int,
                      batchRows: Int, corrupt: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("setups").toInt,
      m.getOrElse("warm-cycles", "0").toInt, m.getOrElse("cycles", "0").toInt, m.getOrElse("batch-rows", "0").toInt,
      m.getOrElse("corrupt", "0") == "1")
  }
}

/** One benchmark run in one JVM: set up several times, warm up, verify
  * the warm-up answers against the oracle, then measure in a closed
  * loop with one client. Writes `result.json`, `ops.jsonl` and
  * `spans.jsonl` into the work directory.
  */
object Harness {
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new CountingListener
    spark.sparkContext.addSparkListener(listener)
    val runner = new OpRunner(spark, new Tracer(spark.sparkContext, listener))
    val w: Workload = a.workload match {
      case "lake_read" => new LakeRead(a, runner)
      case "ingest_pipeline" => new IngestPipeline(a, runner)
      case "batch_compute" => new BatchCompute(a, runner)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      Out.writeResult(a.work, runner, w.run())
      spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(2)
    }
  }
}

/** Shared shape of a workload: `setupOnce` builds its inputs in a fresh
  * directory, `warmup` runs the ops untimed and fixes the expected
  * answers, `phase` measures in a closed loop.
  */
abstract class Workload(val a: Args, val runner: OpRunner) {
  val spark: SparkSession = runner.spark
  val tracer: Tracer = runner.tracer
  /** Op kinds whose latencies make the latency percentiles. */
  val latencyKinds: Set[String]
  val setupTimes = mutable.ArrayBuffer.empty[Double]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  /** Time spent in answer checks, so op-only windows can leave it out. */
  var checkMs = 0.0

  def setupOnce(rep: Int): Unit
  def warmup(): Unit
  /** Adds the workload's own numbers to `extra` after the timed phases. */
  def extras(): Unit = ()

  def timedSetup(rep: Int): Unit = {
    val t0 = System.nanoTime()
    setupOnce(rep)
    setupTimes += (System.nanoTime() - t0) / 1e9
    Out.log(f"setup $rep: ${setupTimes.last}%.3f s")
  }

  /** Measures for `seconds` of wall time in a closed loop. */
  def phase(seconds: Double, traced: Boolean): Unit

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(): Map[String, Double] = {
    (0 until a.setups).foreach(timedSetup)
    warmup()
    // the traced run measures half untraced, half traced: the
    // difference between the halves is the tracing overhead
    if (!a.trace) phase(a.seconds, traced = false)
    else {
      phase(a.seconds / 2, traced = false)
      phase(a.seconds / 2, traced = true)
    }
    val heapMb = retainedHeapMb()
    extras()
    Metrics.summarize(this, heapMb)
  }

  /** Heap in use after full GCs, once the listener bus is idle: the
    * least of three GC-then-read rounds, so a collection that has not
    * settled yet does not read as retained memory.
    */
  def retainedHeapMb(): Double = {
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Runs a DataFrame op, checks its answer outside the timing, and
    * records it. Returns the result when the op succeeded and passed.
    */
  def measuredDf(c: Int, name: String, kind: String, buildSpan: String,
                 traced: Boolean)(build: => DataFrame)(check: DfResult => Option[String])
      : Option[(DfResult, Double)] = {
    val (lat, res, stats, err) = runner.dfOp(name, buildSpan)(build)
    val t0 = System.nanoTime()
    val verdict = err.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      .orElse(res.flatMap(check))
    checkMs += (System.nanoTime() - t0) / 1e6
    runner.record(OpRec(c, name, kind, traced, lat, verdict.isEmpty,
      verdict.getOrElse(""), stats))
    if (verdict.isEmpty) res.map(r => (r, lat)) else None
  }
}

/** An op over a named query function whose answer the oracle checks. */
final case class QueryOp(name: String, buildSpan: String, build: () => DataFrame,
                         oracleSql: String)

/** Workloads whose ops are queries with oracle-verified answers. */
abstract class QueryWorkload(a0: Args, r0: OpRunner) extends Workload(a0, r0) {
  val latencyKinds = Set("query")
  def ops: IndexedSeq[QueryOp]
  val expected = mutable.Map.empty[String, String]
  private lazy val order = new scala.util.Random(a.seed)

  def entry(name: String, dir: => String): QueryOp =
    QueryOp(name, "queries.build", () => SparkEntry.queries(name)(spark, dir),
      SparkEntry.oracleSql(name))

  /** Every op once, untimed; a failure here aborts the run. The answers
    * go to parquet for the DuckDB oracle, and the run waits for its
    * verdict. Then `warmCycles` untimed cycles let the JIT settle
    * before anything is timed.
    */
  def warmup(): Unit = {
    val answers = Paths.get(a.work, "answers")
    beforeCycle()
    ops.foreach { op =>
      val (lat, res, _, err) = runner.dfOp(op.name, op.buildSpan)(op.build())
      err.foreach(e => throw new IllegalStateException(s"warm-up of ${op.name} failed", e))
      Out.log(f"warm-up ${op.name}: $lat%.1f ms")
      val r = res.get
      expected(op.name) = Fingerprint.of(r)
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(answers.resolve(op.name).toString)
    }
    Out.writeJson(answers.resolve("oracle_sql.json"),
      ops.map(op => op.name -> op.oracleSql).toMap)
    println("PERFBENCH_ORACLE_READY")
    System.out.flush()
    if (scala.io.StdIn.readLine() == null) throw new IllegalStateException("no oracle verdict")
    val verdict = Out.readFlags(answers.resolve("oracle_verdict.json"))
    ops.foreach { op =>
      if (!verdict.getOrElse(op.name, false)) expected(op.name) = "oracle-mismatch"
    }
    if (a.corrupt) expected(ops.head.name) = "corrupted-expected-answer"
    (1 to a.warmCycles).foreach(c => cycle(-c, traced = false))
    if (!a.corrupt) runner.records.find(!_.ok).foreach(f =>
      throw new IllegalStateException(s"warm-up of ${f.name} failed: ${f.error}"))
    runner.records.clear()
  }

  def beforeCycle(): Unit = ()
  private var cycles = 0

  /** Whole cycles until `seconds` have passed; each cycle runs every op
    * once in a seed-permuted order.
    */
  def phase(seconds: Double, traced: Boolean): Unit = {
    tracer.enabled = traced
    val t0 = System.nanoTime()
    do { cycles += 1; cycle(cycles, traced) } while (elapsedS(t0) < seconds)
    tracer.enabled = false
  }

  def cycle(c: Int, traced: Boolean): Unit = {
    Out.log(s"cycle $c")
    beforeCycle()
    order.shuffle(ops).foreach { op =>
      measuredDf(c, op.name, "query", op.buildSpan, traced)(op.build()) { r =>
        val fp = Fingerprint.of(r)
        if (fp == expected(op.name)) None else Some(s"answer $fp != ${expected(op.name)}")
      }
    }
  }
}

/** Batch analytics over staged lakehouse tables: union, cold-only,
  * snapshot, incremental, time-travel, pruning, metadata, Iceberg and
  * merge-on-read reads, plus union/Iceberg/as-of reads of one table
  * with a deep history.
  */
final class LakeRead(a0: Args, r0: OpRunner) extends QueryWorkload(a0, r0) {
  val queryNames = Seq("q7_union_read", "q7b_cold_only", "q9_snapshots",
    "q10_incremental", "q11_time_travel", "q13_file_skip",
    "q39_iceberg_date_prune", "q16_meta_agg", "q19_iceberg_read",
    "q36_dv_read")
  /** Deep-history table: orders in `Slices` commits by key modulo; all
    * but the last `Hot` are cold commits, one snapshot each, and the
    * last `Hot` stay in the log.
    */
  val Slices = 10
  val Hot = 2
  val AsOf = 4
  var deep: TieredTable = _

  private val sumSql = "SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders"
  lazy val ops: IndexedSeq[QueryOp] = (queryNames.map(entry(_, a.data)) ++ Seq(
    QueryOp("deep_union_read", "storage.union_resolve",
      () => deep.readUnion().agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum")),
      sumSql),
    QueryOp("deep_iceberg_read", "storage.lake_resolve",
      () => IcebergExport.readTable(spark, deep.tablePath)
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum")),
      s"$sumSql WHERE o_orderkey % $Slices < ${Slices - Hot}"),
    QueryOp("deep_asof_read", "storage.asof_resolve",
      () => deep.readColdAsOf(AsOf.toLong)
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum")),
      s"$sumSql WHERE o_orderkey % $Slices < $AsOf"))).toIndexedSeq

  /** Stages every fixture the queries read (the query functions create the
    * tables and exports on first call) and the deep-history table, in
    * a fresh directory.
    */
  def setupOnce(rep: Int): Unit = {
    val dir = Paths.get(a.work, s"lake-$rep")
    Files.createDirectories(dir.resolve("tmp"))
    System.setProperty("java.io.tmpdir", dir.resolve("tmp").toString)
    queryNames.foreach(n => SparkEntry.queries(n)(spark, a.data))
    val orders = Tables.load(spark, a.data, "orders")
    val t = TieredTable(spark, dir.resolve("deep").toString)
    (0 until Slices).foreach { k =>
      val slice = orders.filter(pmod(col("o_orderkey"), lit(Slices)) === k)
      if (k < Slices - Hot) t.commitAppend(slice) else t.appendLog(slice)
    }
    IcebergExport.export(t)
    deep = t
  }

  override def extras(): Unit = {
    extra("storage.snapshots") = deep.latestSnapshotId.toDouble
    extra("storage.log_segments") = deep.logSegments.size.toDouble
    if (!a.trace) return
    extra("storage.write_amp") = Out.dirBytes(Paths.get(deep.tablePath)).toDouble /
      Files.size(Paths.get(a.data, "orders.parquet"))
  }
}

/** Operator-bound query families over raw parquet. */
final class BatchCompute(a0: Args, r0: OpRunner) extends QueryWorkload(a0, r0) {
  val queryNames = Seq("p1_pricing", "p5_market_share", "g4_cube",
    "g5_window_funcs", "r1_range", "d3_ngram_pairs", "d4_minhash_lsh",
    "d10_incr_dedup", "s4_ivf_knn", "s8_hybrid", "t8_tfidf", "c10_temp_mix",
    "e11_session_window")
  private var dir: String = a.data
  lazy val ops: IndexedSeq[QueryOp] = queryNames.map(entry(_, dir)).toIndexedSeq

  /** Copies the generated parquet into a fresh directory and resolves
    * every table there (listing and footer read).
    */
  def setupOnce(rep: Int): Unit = {
    val d = Paths.get(a.work, s"batch-$rep")
    Files.createDirectories(d)
    Files.list(Paths.get(a.data)).iterator().asScala.foreach(f =>
      Files.copy(f, d.resolve(f.getFileName)))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.load(spark, d.toString, t).schema)
    dir = d.toString
  }

  override def beforeCycle(): Unit = Pipeline.clearMemo(spark)
}

/** The reference topology driven one commit at a time: generate an
  * order batch, append it to the order log, enrich (temporal join,
  * append, tier), advance the revenue aggregate, export to Iceberg,
  * then read in the Flink role (hot∪cold) and the Trino role (Iceberg)
  * and read the top nations. Each round runs `cycles` commits on a
  * fresh pipeline, so every round sees the same history depths.
  */
final class IngestPipeline(a0: Args, r0: OpRunner) extends Workload(a0, r0) {
  val latencyKinds = Set("read")
  private val base = (a.seed % 100000L) * 10000000L
  private val ready = mutable.Queue.empty[Round]
  private var rounds = 0
  val freshness = mutable.ArrayBuffer.empty[Double]
  var visibleRows = 0L
  var visibleMs = 0.0
  private val exportMs = mutable.ArrayBuffer.empty[Seq[Double]]
  private var lastRound: Round = _

  final class Round(val p: DemoPipeline, val dir: String) {
    val keys = mutable.ArrayBuffer.empty[Long]
    var keySum = 0L
    val exports = mutable.ArrayBuffer.empty[Double]
  }

  private lazy val orderSchema =
    spark.range(0).select(Datagen.orderColumns(col("id")): _*).schema

  /** The batch of commit `c`: order rows for ids offset by the seed. */
  private def batch(c: Int): Array[Row] =
    spark.range(base + c.toLong * a.batchRows, base + (c + 1L) * a.batchRows)
      .select(Datagen.orderColumns(col("id")): _*).collect()

  /** A fresh pipeline with its dimensions loaded and commit 0 done
    * (the revenue stream needs one enriched commit to start).
    */
  def setupOnce(rep: Int): Unit = {
    rounds += 1
    val dir = s"${a.work}/ingest-$rounds"
    val r = new Round(new DemoPipeline(spark, dir), dir)
    r.p.loadDims()
    commit(r, 0, batch(0))
    ready.enqueue(r)
  }

  private def commit(r: Round, c: Int, rows: Array[Row]): Unit = {
    val df = spark.createDataFrame(rows.toSeq.asJava, orderSchema)
    tracer.span("storage.append")(r.p.orders.appendLog(df, tag = Some(s"ingest-$c")))
    tracer.span("streaming.enrich")(r.p.enrichBatch(df, c))
    tracer.span("streaming.revenue")(
      r.p.startRevenue(s"${r.dir}/ckpt", Trigger.AvailableNow()).awaitTermination())
    val t0 = System.nanoTime()
    tracer.span("storage.export")(IcebergExport.export(r.p.enriched))
    r.exports += (System.nanoTime() - t0) / 1e6
    rows.foreach { row =>
      if (!row.isNullAt(1)) { r.keys += row.getLong(0); r.keySum += row.getLong(0) }
    }
  }

  def warmup(): Unit = {
    val r = ready.dequeue()
    (1 to a.warmCycles).foreach(c => commitAndRead(r, c, traced = false))
    if (!a.corrupt) runner.records.find(!_.ok).foreach(f =>
      throw new IllegalStateException(s"warm-up of ${f.name} failed: ${f.error}"))
    runner.records.clear()
    freshness.clear(); visibleRows = 0L; visibleMs = 0.0
  }

  /** Whole rounds until `seconds` have passed: a round cut short would
    * leave a shallower history than the others. A round prepared here
    * is not timed: `setup_s` covers only the set-ups before warm-up.
    */
  def phase(seconds: Double, traced: Boolean): Unit = {
    tracer.enabled = traced
    val t0 = System.nanoTime()
    do {
      if (ready.isEmpty) { tracer.enabled = false; setupOnce(rounds); tracer.enabled = traced }
      val r = ready.dequeue()
      (1 to a.cycles).foreach(c => commitAndRead(r, c, traced))
      exportMs += r.exports.drop(1).toSeq
      lastRound = r
    } while (elapsedS(t0) < seconds)
    tracer.enabled = false
  }

  private def commitAndRead(r: Round, c: Int, traced: Boolean): Unit = {
    val rows = batch(c)
    val tGen = System.nanoTime()
    val checked0 = checkMs
    val (lat, done, stats, err) = runner.callOp("ingest_commit")(commit(r, c, rows))
    runner.record(OpRec(c, "ingest_commit", "commit", traced, lat, err.isEmpty,
      err.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse(""), stats))
    if (done.isEmpty) return
    val want = r.keys.size.toLong + (if (a.corrupt) 1 else 0)
    measuredDf(c, "union_read", "read", "queries.build", traced) {
      tracer.span("storage.union_resolve")(r.p.enriched.readUnion())
        .agg(count(lit(1)).as("cnt"), sum(col("order_key")).as("key_sum"))
    } { res =>
      val row = res.rows.head
      val keys = r.p.enriched.readUnion().select("order_key").collect().map(_.getLong(0)).sorted
      if (row.getLong(0) != want) Some(s"union count ${row.getLong(0)} != $want")
      else if (row.getLong(1) != r.keySum) Some(s"union key sum ${row.getLong(1)} != ${r.keySum}")
      else if (!keys.sameElements(r.keys.sorted)) Some("union order_key multiset differs from ingested")
      else None
    }
    val trino = measuredDf(c, "trino_read", "read", "queries.build", traced) {
      tracer.span("storage.lake_resolve")(IcebergExport.readTable(spark, r.p.enriched.tablePath))
        .agg(count(lit(1)).as("cnt"))
    } { res =>
      val cold = r.p.enriched.readCold().count()
      val got = res.rows.head.getLong(0)
      if (got != cold) Some(s"iceberg count $got != cold rows $cold")
      else if (got != want) Some(s"iceberg count $got != ingested $want")
      else None
    }
    // freshness leaves out the time of the answer checks above
    if (trino.isDefined && !traced) {
      val f = (System.nanoTime() - tGen) / 1e6 - (checkMs - checked0)
      freshness += f
      visibleRows += rows.count(!_.isNullAt(1))
      visibleMs += f
    }
    measuredDf(c, "top_nations", "read", "queries.build", traced) {
      tracer.span("streaming.top_nations")(r.p.topNations())
    } { res =>
      val want = r.p.enriched.readCold().filter(col("nation_name").isNotNull)
        .groupBy("nation_name").agg(sum("total_price").as("s")).collect()
        .map(x => x.getString(0) -> x.getDecimal(1)).toMap
      val have = r.p.revenue.readCold().collect().map(x => x.getString(0) -> x.getDecimal(1)).toMap
      val top = want.toSeq.sortBy { case (n, v) => (v.negate, n) }.take(5).map(_._1)
      if (have.keySet != want.keySet || have.exists { case (n, v) => v.compareTo(want(n)) != 0 })
        Some("revenue per nation differs from the enriched rows")
      else if (res.rows.map(_.getAs[String]("nation_name")).toSeq != top)
        Some("top nations differ from the enriched rows")
      else None
    }
  }

  override def extras(): Unit = {
    extra("ingest_rows_per_s") = visibleRows / (visibleMs / 1000)
    extra("freshness_p50_ms") = Metrics.pct(freshness.sorted.toSeq, 0.5)
    extra("freshness_p90_ms") = Metrics.pct(freshness.sorted.toSeq, 0.9)
    if (!a.trace) return
    val r = lastRound
    extra("storage.snapshots") = r.p.enriched.latestSnapshotId.toDouble
    extra("storage.log_segments") = r.p.enriched.logSegments.size.toDouble
    extra("storage.write_amp") = Out.dirBytes(Paths.get(r.dir)).toDouble /
      Out.dirBytes(Paths.get(r.p.orders.tablePath, "log"))
    val growth = (exportMs :+ r.exports.drop(1).toSeq).filter(_.size >= 4).map { e =>
      val q = e.size / 4
      Metrics.median(e.takeRight(q)) / Metrics.median(e.take(q))
    }
    if (growth.nonEmpty) extra("storage.export_growth") = Metrics.median(growth.toSeq)
  }
}
