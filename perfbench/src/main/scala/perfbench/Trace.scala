package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Layer names. Every traced second of the timed loop lands in exactly one
  * of them (see [[Tracer.span]]), so their self times partition the wall. */
object Layer {
  val Construct = "QueryDef.construct"
  val Analyze   = "catalyst.analyze"
  val Optimize  = "catalyst.optimize"
  val Plan      = "catalyst.plan"
  val Exec      = "exec"
  val PagedPlan = "sources.paged.plan"
  val PagedScan = "sources.paged.scan"
  val Bronze    = "bronze.read"
  val Pipelines = "Pipelines.construct"
  val Sinks     = "Sinks.write"

  val all: Seq[String] = Seq(Construct, Analyze, Optimize, Plan, Exec,
    PagedPlan, PagedScan, Bronze, Pipelines, Sinks)

  /** Task-thread sample classes, in the sampler's index order. */
  val sampled: IndexedSeq[String] = IndexedSeq(PagedScan, Bronze, Sinks, Exec)
}

/** Spans on the driver thread. The untraced run uses [[NoTrace]], whose
  * spans only run their body. */
trait Spans {
  /** Name the operation (a query, a landing call) the spans inside belong to. */
  def op[T](name: String)(f: => T): T = f
  def span[T](layer: String, apportion: Boolean = false)(f: => T): T
  /** `df` was analyzed eagerly inside a `from` span: move its analysis
    * phase into catalyst.analyze. */
  def analyzed(df: DataFrame, from: String): Unit = ()
}

object NoTrace extends Spans {
  override def span[T](layer: String, apportion: Boolean)(f: => T): T = f
}

/** The traced run's collector. It only observes: the workload runs the same
  * calls with or without it, and the traced-minus-untraced difference is
  * reported as the tracing overhead.
  *
  *   - A span is the wall time of one call into a layer's public function
  *     on the driver thread. Nested spans are subtracted from their parent,
  *     so each layer gets self time.
  *   - An apportioned span runs Spark jobs. Catalyst phases that ran inside
  *     it (from each QueryExecution's planning tracker) are moved to the
  *     catalyst layers; the rest is split between the paged reader, the JSON
  *     bronze reader, the file writers and the operators by the share of
  *     task-thread stack samples each had while the span was open.
  *   - A SparkListener counts jobs, stages, tasks, shuffle, spill, output
  *     and checkpoint blocks of every job started while tracing is on.
  */
final class Tracer(spark: SparkSession, sampleMs: Long = 10L) extends Spans {
  private val sc = spark.sparkContext
  private val LayerProp = "perfbench.layer"
  private val TracedProp = "perfbench.traced"

  /** Whether spans and listeners record; the workload toggles it per pass. */
  @volatile var on = false

  val selfNs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  private final class Frame(val id: Int, val layer: String, val apportion: Boolean,
                            val startNs: Long, val startMs: Long,
                            val samples: Array[Long]) {
    var childNs = 0L
  }
  private var stack: List[Frame] = Nil

  /** Every traced span as a JSON line, written out by [[write]]. */
  private val log = mutable.ArrayBuffer.empty[String]
  private val t0Ns = System.nanoTime()
  private var opName = ""

  override def op[T](name: String)(f: => T): T = {
    val prev = opName
    opName = name
    try f finally opName = prev
  }

  def write(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), log.asJava)

  override def span[T](layer: String, apportion: Boolean)(f: => T): T = {
    if (!on) return f
    val prev = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, layer)
    sc.setLocalProperty(TracedProp, "1")
    // operator-only spans (the query workloads) need no samples: their
    // whole remainder is the operators' anyway
    val sampled = apportion && layer != Layer.Exec
    if (sampled) sampler.wanted += 1
    val fr = new Frame(log.size + stack.size, layer, apportion, System.nanoTime(),
      System.currentTimeMillis(), sampler.snapshot())
    stack = fr :: stack
    try f
    finally {
      if (sampled) sampler.wanted -= 1
      val endNs = System.nanoTime()
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(LayerProp, prev)
      if (stack.isEmpty) sc.setLocalProperty(TracedProp, null)
      val wall = endNs - fr.startNs
      stack.headOption.foreach(_.childNs += wall)
      val self = wall - fr.childNs
      if (fr.apportion) split(fr, self, endMs) else selfNs(layer) += self
      val parent = stack.headOption.map(_.id.toString).getOrElse("null")
      log += f"""{"id": ${fr.id}, "parent": $parent, "op": "$opName", "layer": "$layer", """ +
        f""""start_ms": ${(fr.startNs - t0Ns) / 1e6}%.3f, "ms": ${wall / 1e6}%.3f, "self_ms": ${self / 1e6}%.3f}"""
    }
  }

  override def analyzed(df: DataFrame, from: String): Unit = if (on) {
    df.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS).foreach { p =>
      val ns = math.min((p.endTimeMs - p.startTimeMs) * 1000000L, selfNs(from))
      selfNs(from) -= ns
      selfNs(Layer.Analyze) += ns
    }
  }

  private def split(fr: Frame, self: Long, endMs: Long): Unit = {
    Bus.drain(sc)
    var rest = self
    phases.drain().foreach { case (phase, s, e) =>
      val overlapNs = math.max(0L, math.min(e, endMs) - math.max(s, fr.startMs)) * 1000000L
      val ns = math.min(overlapNs, rest)
      if (ns > 0) {
        val layer =
          if (fr.layer == Layer.PagedScan) Layer.PagedPlan
          else phase match {
            case "analysis"     => Layer.Analyze
            case "optimization" => Layer.Optimize
            case _              => Layer.Plan
          }
        selfNs(layer) += ns
        rest -= ns
      }
    }
    val now = sampler.snapshot()
    val counts = now.indices.map(i => now(i) - fr.samples(i))
    val n = counts.sum
    if (n == 0) selfNs(fr.layer) += rest
    else {
      // integer split that hands the rounding remainder to the last class
      var left = rest
      counts.zipWithIndex.foreach { case (c, i) =>
        val ns = if (i == counts.size - 1) left else rest * c / n
        selfNs(Layer.sampled(i)) += ns
        left -= ns
      }
    }
  }

  // ---- catalyst phases ----------------------------------------------------

  private object phases extends QueryExecutionListener {
    private val q = new ConcurrentLinkedQueue[(String, Long, Long)]()
    def drain(): Seq[(String, Long, Long)] = Iterator.continually(q.poll())
      .takeWhile(_ != null).toSeq
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) qe.tracker.phases.foreach { case (p, s) => q.add((p, s.startTimeMs, s.endTimeMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // ---- Spark execution counters --------------------------------------------

  final class Counters {
    var jobs = 0L; var stages = 0L; var singleTaskStages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var blockBytes = 0L; var outBytes = 0L; var outRows = 0L
    val jobsByLayer: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  }
  val counters = new Counters

  private object listener extends SparkListener {
    private val stageLayer = mutable.Map.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      if (p.exists(_.getProperty(TracedProp) == "1")) {
        val layer = p.flatMap(x => Option(x.getProperty(LayerProp))).getOrElse(Layer.Exec)
        counters.jobs += 1
        counters.jobsByLayer(layer) += 1
        e.stageIds.foreach(stageLayer(_) = layer)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageLayer.contains(e.stageInfo.stageId)) {
        counters.stages += 1
        if (e.stageInfo.numTasks == 1) counters.singleTaskStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageLayer.get(e.stageId).foreach { layer =>
        val m = e.taskMetrics
        counters.tasks += 1
        if (m != null) {
          counters.taskRunMs += m.executorRunTime
          counters.taskCpuNs += m.executorCpuTime
          counters.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          counters.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          counters.spill += m.diskBytesSpilled
          if (layer == Layer.Sinks || layer == Layer.PagedScan) {
            counters.outBytes += m.outputMetrics.bytesWritten
            counters.outRows += m.outputMetrics.recordsWritten
          }
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (on && b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        counters.blockBytes += b.memSize + b.diskSize
    }
  }

  // ---- task-thread sampler -------------------------------------------------

  /** Samples the stacks of Spark's task threads every `sampleMs` while
    * tracing is on and counts, per class of [[Layer.sampled]], the samples
    * whose innermost recognised frame belongs to that class. */
  private object sampler extends Runnable {
    private val counts = new AtomicLongArray(Layer.sampled.size)
    def snapshot(): Array[Long] = Array.tabulate(counts.length)(counts.get)

    private val writer = Seq("datasources.FileFormatDataWriter", "datasources.OutputWriter",
      "datasources.FileFormatWriter", "datasources.BasicWrite", "datasources.parquet.ParquetUtils",
      "org.apache.spark.internal.io.",
      "org.apache.spark.mapred.SparkHadoopMapRedUtil", "org.apache.hadoop.mapreduce.lib.output.",
      "datasources.SingleDirectoryDataWriter", "csv.CsvOutputWriter",
      "parquet.ParquetOutputWriter", "org.apache.parquet.hadoop.InternalParquetRecordWriter",
      "org.apache.parquet.hadoop.ParquetWriter", "parquet.ParquetWriteSupport",
      "com.univocity.parsers.common.AbstractWriter", "catalyst.csv.UnivocityGenerator")
    private val jsonRead = Seq("org.apache.spark.sql.catalyst.json.",
      "org.apache.spark.sql.execution.datasources.json.",
      "org.apache.spark.sql.execution.datasources.HadoopFileLinesReader")
    private val operator = Seq("org.apache.spark.sql.catalyst.expressions.",
      "org.apache.spark.sql.execution.", "org.apache.spark.shuffle.",
      "org.apache.spark.util.collection.", "org.apache.spark.storage.", "graft.")

    /** Index into [[Layer.sampled]]. */
    def classify(st: Array[StackTraceElement]): Int = {
      var i = 0
      while (i < st.length) {
        val c = st(i).getClassName
        if (c.startsWith("graft.sources.paged.")) return 0
        if (jsonRead.exists(c.startsWith)) return 1
        if (writer.exists(c.contains)) return 2
        if (operator.exists(c.startsWith)) return 3
        i += 1
      }
      3
    }

    /** Open spans that need samples; the sampler idles while it is 0. */
    @volatile var wanted = 0

    private def taskThreads(): Seq[Thread] = {
      var g = Thread.currentThread.getThreadGroup
      while (g.getParent != null) g = g.getParent
      val all = new Array[Thread](g.activeCount * 2 + 16)
      all.take(g.enumerate(all, true)).toSeq
        .filter(_.getName.startsWith("Executor task launch worker"))
    }

    override def run(): Unit = while (true) {
      Thread.sleep(sampleMs)
      if (on && wanted > 0) taskThreads().foreach { t =>
        val st = t.getStackTrace
        if (st.exists(_.getClassName.startsWith("org.apache.spark.executor.Executor$TaskRunner")))
          counts.incrementAndGet(classify(st))
      }
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  spark.listenerManager.register(phases)
  sc.addSparkListener(listener)
  private val samplerThread = new Thread(sampler, "perfbench-sampler")
  samplerThread.setDaemon(true)
  samplerThread.start()

  /** Wait until every listener event of the traced work has been seen. */
  def settle(): Unit = Bus.drain(sc)
}
