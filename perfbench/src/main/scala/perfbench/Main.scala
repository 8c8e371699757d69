package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{EngineConf, QueryDef, QueryRegistry}

/** The benchmark's JVM side. `run.py` builds it, makes the inputs and calls
  *
  * {{{
  * perfbench.Main --workload olap|llm|etl_e2e --seed N --seconds S --trace 0|1
  *                --cores N --data DIR --inputs DIR --work DIR
  *                --fingerprints FILE --result FILE [--record FILE [--verified DIR]]
  * }}}
  *
  * It sets up, runs an untimed check pass (the query workloads, and a traced
  * ETL run), then runs passes (a shuffled pass over the workload's queries,
  * or one ETL iteration) in a closed loop until `--seconds` have passed, and
  * writes its measurements to `--result`. With `--trace 1` an untraced, a
  * traced and an untraced pass run, and the traced one is broken down by
  * layer.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, inputs: String, work: String,
                        fingerprints: String, result: String, record: Option[String],
                        verified: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("data"), m("inputs"), m("work"), m("fingerprints"), m("result"),
      m.get("record"), m.get("verified"))
  }

  /** The query workloads: every registered query, split by family. */
  def suite(workload: String): Seq[QueryDef] = {
    val olap = (n: String) => n.startsWith("q") || n.startsWith("s7")
    QueryRegistry.defs.filter(d => if (workload == "olap") olap(d.name) else !olap(d.name))
      .sortBy(_.name)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    val run = a.workload match {
      case "olap" | "llm" => new SuiteRun(a, suite(a.workload), report)
      case "etl_e2e"      => new EtlRun(a, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try run.execute() finally run.close()
    report.metric("peak_rss_mb", peakRssMb, "MB")
    Files.writeString(Paths.get(a.result), report.json, UTF_8)
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def session(a: Args): SparkSession = {
    val s = EngineConf.tuned(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed small job, so set-up ends with a running scheduler. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 200000, 1, 4).selectExpr("id % 97 as k").groupBy("k").count().collect(): Unit

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, or the
    * maximum when fewer than 21 samples would put that below the median:
    * (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val k = if (s.size < 21) s.size - 1 else s.size - 11
    (s(k), (100L * (k + 1) / s.size).toInt, s.size)
  }
}

/** Metrics and facts of one run, written as one JSON object. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def fact(name: String, v: Any): Unit = info(name) = Report.js(v)
  def fail(what: String): Unit = { failed += 1; failures += what }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Report.str(k)}: {\"value\": ${Report.num(v)}, \"unit\": ${Report.str(u)}}" }
    val is = info.map { case (k, v) => s"${Report.str(k)}: $v" }
    s"""{"attempted": $attempted, "failed": $failed, "failures": ${Report.js(failures.toSeq)}, """ +
      s""""metrics": {${ms.mkString(", ")}}, "info": {${is.mkString(", ")}}}"""
  }
}

object Report {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def js(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${js(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Shared skeleton: repeated set-up, the check pass, the timed loop and
  * the traced breakdown. */
abstract class Run(a: Main.Args, report: Report) extends AutoCloseable {
  import Main._

  protected var spark: SparkSession = _
  protected var tracer: Option[Tracer] = None
  protected def spans: Spans = tracer.getOrElse(NoTrace)

  /** Start what a pass needs besides the session (the ETL endpoint). */
  protected def startExtras(): Unit = ()
  protected def stopExtras(): Unit = ()
  /** Untimed correctness pass before the timed loop. */
  protected def check(): Unit
  /** One timed pass; returns per-operation seconds. */
  protected def pass(n: Int): Seq[(String, Double)]
  /** Per-layer metrics of this workload's own layers, over `k` traced passes. */
  protected def layerCounts(k: Double): Unit = ()
  protected def beforePass(traced: Boolean): Unit = ()
  protected def afterPass(traced: Boolean): Unit = ()

  /** Set-up three times (session, warm-up job, endpoint) and keep the
    * last; `setup_s` is the median. */
  private def setUp(): Unit = {
    val times = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = session(a)
      warmUp(spark)
      startExtras()
      val t = (System.nanoTime() - t0) / 1e9
      if (i < 3) { stopExtras(); spark.stop() }
      t
    }
    report.metric("setup_s", median(times), "s")
    report.fact("setup_samples_s", times)
  }

  def execute(): Unit = {
    setUp()
    if (a.trace) tracer = Some(new Tracer(spark))
    val c0 = System.nanoTime()
    check()
    report.fact("check_s", (System.nanoTime() - c0) / 1e9)

    val samples = mutable.ArrayBuffer.empty[Double]
    val tails = mutable.ArrayBuffer.empty[(Double, Int, Int)]
    val walls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var gcTraced = 0L
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    // at least one pass; a traced run brackets a traced pass between two
    // untraced ones, so pass order does not bias the overhead
    while (n < (if (a.trace) 3 else 1) || System.nanoTime() < deadline) {
      val traced = tracer.isDefined && n % 2 == 1
      beforePass(traced)
      val g = tracer.map(_.gcMs).getOrElse(0L)
      tracer.foreach(_.on = traced)
      val t0 = System.nanoTime()
      val ops = pass(n)
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.foreach { t => t.on = false; t.settle() }
      if (traced) gcTraced += tracer.get.gcMs - g
      afterPass(traced)
      samples ++= ops.map(_._2)
      if (ops.nonEmpty) tails += tail(ops.map(_._2))
      walls += traced -> wall
      n += 1
    }
    report.fact("passes", n)

    if (tails.nonEmpty) {
      report.fact("query_tail_percentile", s"p${tails.last._2}")
      report.fact("query_tail_samples", tails.last._3)
      if (!a.trace) {
        report.metric("query_p50_s", median(samples.toSeq), "s")
        report.metric("query_tail_s", median(tails.map(_._1).toSeq), "s")
        report.metric("suite_s", median(walls.map(_._2).toSeq), "s")
      }
    }
    tracer.foreach { t =>
      layers(t, walls.toSeq, gcTraced)
      t.write(s"${a.work}/spans.jsonl")
    }
  }

  private def layers(t: Tracer, walls: Seq[(Boolean, Double)], gcMs: Long): Unit = {
    val traced = walls.filter(_._1).map(_._2)
    val plain = walls.filterNot(_._1).map(_._2)
    val k = math.max(1, traced.size).toDouble
    def per(name: String, v: Double, unit: String): Unit = report.metric(name, v / k, unit)
    def s(layer: String): Double = t.selfNs(layer) / 1e9
    val c = t.counters
    val wall = traced.sum
    per("QueryDef.construct_s", s(Layer.Construct), "s")
    per("QueryDef.construct_jobs", c.jobsByLayer(Layer.Construct).toDouble, "count")
    per("catalyst.analyze_s", s(Layer.Analyze), "s")
    per("catalyst.optimize_s", s(Layer.Optimize), "s")
    per("catalyst.plan_s", s(Layer.Plan), "s")
    per("exec.wall_s", s(Layer.Exec), "s")
    per("exec.jobs", c.jobs.toDouble, "count")
    per("exec.stages", c.stages.toDouble, "count")
    per("exec.tasks", c.tasks.toDouble, "count")
    report.metric("exec.single_task_stage_share",
      if (c.stages == 0) 0.0 else c.singleTaskStages.toDouble / c.stages, "ratio")
    per("exec.task_run_s", c.taskRunMs / 1e3, "s")
    per("exec.task_cpu_s", c.taskCpuNs / 1e9, "s")
    report.metric("exec.core_busy_ratio",
      if (wall == 0) 0.0 else c.taskRunMs / 1e3 / (wall * a.cores), "ratio")
    per("exec.shuffle_write_mb", c.shuffleWrite / 1048576.0, "MB")
    per("exec.shuffle_read_mb", c.shuffleRead / 1048576.0, "MB")
    per("exec.spill_mb", c.spill / 1048576.0, "MB")
    per("exec.block_write_mb", c.blockBytes / 1048576.0, "MB")
    per("exec.gc_s", gcMs / 1e3, "s")
    per("sources.paged.plan_s", s(Layer.PagedPlan), "s")
    per("sources.paged.scan_s", s(Layer.PagedScan), "s")
    per("bronze.read_s", s(Layer.Bronze), "s")
    per("Pipelines.construct_s", s(Layer.Pipelines), "s")
    per("Pipelines.construct_jobs", c.jobsByLayer(Layer.Pipelines).toDouble, "count")
    per("Sinks.write_s", s(Layer.Sinks), "s")
    per("Sinks.mb_written", c.outBytes / 1048576.0, "MB")
    per("Sinks.rows", c.outRows.toDouble, "count")
    layerCounts(k)
    val accounted = Layer.all.map(s).sum
    per("trace.wall_s", wall, "s")
    report.metric("trace.unaccounted_share", if (wall == 0) 0.0 else (wall - accounted) / wall, "ratio")
    report.metric("trace.overhead_ratio",
      if (plain.isEmpty) 1.0 else median(traced) / median(plain), "ratio")
    report.fact("trace_passes", traced.size)
    report.fact("untraced_pass_s", plain)
    report.fact("traced_pass_s", traced)
  }

  override def close(): Unit = {
    stopExtras()
    if (spark != null) spark.stop()
  }
}

/** `olap` and `llm`: each query from `QueryDef.run` to the noop write. */
final class SuiteRun(a: Main.Args, queries: Seq[QueryDef], report: Report)
    extends Run(a, report) {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and an order-insensitive row hash. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map { c =>
      val f = df(c)
      if (hasMap(df.schema(c).dataType)) to_json(struct(f)) else f
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols.toSeq: _*), lit(1000000007L))
    val r = df.select(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private lazy val expected: Map[String, (Long, Long)] = {
    val text = Files.readString(Paths.get(a.fingerprints), UTF_8)
    val Entry = """"([^"]+)":\s*\[(\d+),\s*(\d+)\]""".r
    Entry.findAllMatchIn(text).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  /** Fingerprints every query, `cores` queries at a time: the pass is
    * untimed, and running it concurrently keeps the run short. */
  override protected def check(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    val got = try queries.map { q =>
      q -> pool.submit(() => scala.util.Try(fingerprint(q.run(spark, a.data))))
    }.map { case (q, f) => q.name -> f.get() } finally pool.shutdown()
    got.foreach { case (name, fp) =>
      report.attempted += 1
      fp match {
        case scala.util.Failure(e) => report.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        case scala.util.Success(v) if a.record.isEmpty && !expected.get(name).contains(v) =>
          report.fail(s"$name: fingerprint $v, expected ${expected.get(name)}")
        case _ =>
      }
    }
    // Recording: each fingerprint must equal that of the query's output as
    // dumped by graft.Verify into `verified` and checked there against the
    // DuckDB oracle.
    a.verified.foreach { dir =>
      got.collect { case (name, scala.util.Success(v)) =>
        val dumped = fingerprint(spark.read.parquet(s"$dir/$name.parquet"))
        if (dumped != v) report.fail(s"$name: fingerprint $v, verified output $dumped")
      }
    }
    a.record.foreach { f =>
      val body = got.collect { case (n, scala.util.Success((r, h))) => s"""  "$n": [$r, $h]""" }
      Files.writeString(Paths.get(f), body.mkString("{\n", ",\n", "\n}\n"), UTF_8)
    }
  }

  override protected def pass(n: Int): Seq[(String, Double)] = {
    val order = new Random(a.seed * 1000003L + n).shuffle(queries)
    order.flatMap { q =>
      report.attempted += 1
      val t0 = System.nanoTime()
      try spans.op(q.name) {
        val df = spans.span(Layer.Construct)(q.run(spark, a.data))
        spans.analyzed(df, Layer.Construct)
        spans.span(Layer.Exec, apportion = true)(
          df.write.format("noop").mode("overwrite").save())
        Some(q.name -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Exception =>
          report.fail(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      }
    }
  }

  override protected def layerCounts(k: Double): Unit = {
    // the endpoint and file counts of the layers this workload never calls
    Seq("sources.paged.requests" -> "count", "sources.paged.pages" -> "count",
        "sources.paged.retries" -> "count", "sources.paged.useful_ratio" -> "ratio",
        "sources.paged.token_mints" -> "count", "sources.paged.pages_per_s" -> "1/s",
        "sources.paged.server_s" -> "s", "Sinks.files" -> "count")
      .foreach { case (m, unit) => report.metric(m, 0.0, unit) }
  }
}

/** `etl_e2e`: the pipeline iteration of [[Etl]] against [[CatalogServer]]. */
final class EtlRun(a: Main.Args, report: Report) extends Run(a, report) {
  private var server: CatalogServer = _
  private val out = s"${a.work}/out"
  private var etl: Etl = _
  private val runs = mutable.ArrayBuffer.empty[String]
  private var counts0 = Seq.empty[Long]
  private val paged = mutable.ArrayBuffer.fill(5)(0L)
  private var files = 0L

  override protected def startExtras(): Unit =
    server = new CatalogServer(s"${a.inputs}/index.tsv", a.seed, "perfbench", "s3cret")
  override protected def stopExtras(): Unit = if (server != null) { server.close(); server = null }

  private def iterate(runId: String): Seq[(String, Double)] = {
    if (etl == null) etl = new Etl(spark, a.inputs, out, server, spans)
    runs += runId
    report.attempted += 1
    try {
      val ops = etl.iteration(runId)
      report.attempted += ops.size
      ops
    } catch {
      case e: Exception =>
        report.fail(s"$runId: ${e.getClass.getSimpleName}: ${e.getMessage}"); Nil
    }
  }

  /** The job runs once per JVM, as the reference's does, so the timed
    * iteration is the first. A traced run compares passes instead, so it
    * starts warm: one fault-free iteration, checked like the others. */
  override protected def check(): Unit = if (a.trace) {
    server.beginIteration(faults = false)
    iterate("check")
  }

  override protected def pass(n: Int): Seq[(String, Double)] = {
    server.beginIteration(faults = true)
    iterate(f"it$n%03d")
  }

  override protected def beforePass(traced: Boolean): Unit = counts0 = server.counts
  override protected def afterPass(traced: Boolean): Unit = if (traced) {
    server.counts.zip(counts0).zipWithIndex.foreach { case ((x, y), i) => paged(i) += x - y }
    val dir = Paths.get(out, runs.last)
    val index = Paths.get(out, "bronze", "artist_index", s"run_id=${runs.last}")
    files += Seq(dir, index).filter(Files.exists(_)).map { d =>
      val w = Files.walk(d)
      try w.iterator().asScala.count(p => p.getFileName.toString.startsWith("part-")).toLong
      finally w.close()
    }.sum
  }

  override protected def layerCounts(k: Double): Unit = {
    val Seq(requests, pages, retries, mints, handleNs) = paged.toSeq
    val scan = report.metrics.get("sources.paged.scan_s").map(_._1).getOrElse(0.0)
    report.metric("sources.paged.requests", requests / k, "count")
    report.metric("sources.paged.pages", pages / k, "count")
    report.metric("sources.paged.retries", retries / k, "count")
    report.metric("sources.paged.useful_ratio", if (requests == 0) 0.0 else pages.toDouble / requests, "ratio")
    report.metric("sources.paged.token_mints", mints / k, "count")
    report.metric("sources.paged.pages_per_s", if (scan == 0) 0.0 else pages / k / scan, "1/s")
    report.metric("sources.paged.server_s", handleNs / 1e9 / k, "s")
    report.metric("Sinks.files", files / k, "count")
  }

  override def execute(): Unit = {
    super.execute()
    report.fact("runs", runs.toSeq)
    report.fact("out", out)
    report.fact("market", etl.Market)
    report.fact("page_size", etl.PageSize)
    report.fact("rate_per_sec", etl.RatePerSec)
  }
}
