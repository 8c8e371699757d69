package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the test star schema (TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst's column pruning and
  * filter pushdown reach the file format (check `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`). At cluster scale the same
  * loaders work unchanged against a directory of many files; nothing here
  * assumes a single file or a single executor.
  */
object Tables {

  /** Generic table loader: `{dir}/{name}.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Events table. The driver's parquet has stored `ts` two ways across
    * testdata generations, and this loader normalizes both to one schema:
    *   - TIMESTAMP(NANOS), which Spark's parquet reader rejects outright
    *     ([PARQUET_TYPE_ILLEGAL]). We read nanos as a raw long
    *     (`spark.sql.legacy.parquet.nanosAsLong`) — a DELIBERATELY
    *     session-wide setting, not scoped-and-restored: the flag is
    *     consulted again at scan execution, after this method returns, so
    *     restoring it early would break the very read it enables. Every
    *     loader in this engine goes through this object, and the flag only
    *     affects NANOS-typed columns (all other tables are unaffected).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    *     TIMESTAMP_NTZ. Epoch micros come from a wall-clock `timestampdiff`
    *     against the NTZ epoch — pure calendar arithmetic, no session-
    *     timezone dependency — which equals DuckDB's `epoch_us(ts)` on the
    *     same naive value. (A tz-adjusted TIMESTAMP read is `unix_micros`.)
    * We expose:
    *   - `ts_us`  long   — event time in microseconds since epoch (exact;
    *                        all window/bucket math is done on this so a
    *                        DuckDB oracle, which truncates ns->us, agrees)
    *   - `ts`     timestamp — microsecond-truncated timestamp (UTC session)
    * Keeping the arithmetic in integer microseconds (never float seconds)
    * makes bucketing deterministic across engines and immune to FP error.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsUs = raw.schema("ts").dataType match {
      case LongType =>
        // A raw-long ts is EITHER the NANOS vintage (surfaced as long only
        // because of nanosAsLong above) OR a plain INT64 column in unknown
        // units — Spark's logical schema cannot tell them apart, so a
        // micros- or millis-INT64 regeneration would be silently mis-scaled
        // 1000x by the division below. Confirm TIMESTAMP(NANOS) from the
        // parquet footer (a metadata-only read, no data scan) before scaling.
        requireNanosTs(spark, s"$dir/events.parquet")
        expr("ts div 1000") // NANOS vintage, read as raw nanos
      case TimestampNTZType => expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
      case TimestampType    => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — testdata generation changed again?")
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** Assert from the parquet footer that `ts` is logically TIMESTAMP(NANOS).
    * Only consulted on the raw-long read path above; costs one footer read
    * (kilobytes of metadata from one file), never a data scan. Handles both
    * a single-file `events.parquet` (the driver's layout) and a Spark-written
    * directory of part files (the spec fixtures).
    */
  private def requireNanosTs(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val p    = new HPath(path)
    val fs   = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .getOrElse(throw new IllegalStateException(s"no parquet part files under $path"))
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val ann =
      try reader.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*)
        .asPrimitiveType().getLogicalTypeAnnotation
      finally reader.close()
    val isNanos = ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _ => false
    }
    if (!isNanos) throw new IllegalStateException(
      s"events.ts reads as raw long but its parquet logical type is " +
        s"${Option(ann).map(_.toString).getOrElse("none (plain INT64)")}, not " +
        "TIMESTAMP(NANOS) — refusing `div 1000`, which would mis-scale a " +
        "micros/millis INT64 by 1000x. Testdata generation changed again; " +
        "extend Tables.events for the new vintage deliberately.")
  }

  /** Adaptive scan spread for CPU-dense narrow pipelines (optimization
    * round 21; spark_optimization_guide.md §2.5 "make partitioning
    * scale-adaptive rather than a constant").
    *
    * The bench corpus is single-row-group parquet files, so every scan is
    * structurally ONE task no matter the core count, and all narrow
    * per-row work stacked on it (shingling, md5 hashing, signature
    * kernels, regex) runs single-threaded before the first exchange
    * (measured: d53's whole shingle+MinHash pipeline executed as two
    * 1-task × 2.4 s stages on a 32-core worker). A hash repartition
    * spreads that work — but an UNCONDITIONAL repartition is a full
    * shuffle of the payload that a real cluster, whose scans already run
    * thousands of tasks, must never pay.
    *
    * So: repartition by `keys` ONLY when the frame's planned parallelism
    * is below the session's default parallelism — i.e. exactly when the
    * scan is starved. At 100 TB (many files / row groups) this is the
    * identity; results are identical either way (hash partitioning only
    * relocates rows). The partition count is left to
    * `spark.sql.shuffle.partitions` + AQE coalescing, never a constant.
    *
    * Keep spread RESTRICTED to measured CPU-dense call sites (seconds of
    * per-row work sitting on the scan: shingle+md5 pipelines, decimal
    * aggregation over every fact row, percentile partials). On a real
    * cluster, any table with fewer splits than total cores pays the full
    * repartition shuffle here — pure overhead when the per-row work is
    * cheap (the r21 A/B campaign measured t44 ~2.7x / t46 ~2x WORSE
    * spread; those call sites were reverted and must stay unspread).
    */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // Explicit width: an unnumbered repartition is re-coalesced by AQE's
    // BYTE-based rule, and CPU density per byte is exactly what these
    // call sites have that AQE can't see (a 1.5 MB text shuffle hiding
    // seconds of md5 work). A user-specified partition count is exempt
    // from coalescing, and it derives from the session's parallelism,
    // never a constant. Everything NOT spread keeps stock AQE behavior —
    // an earlier session-wide coalescing-floor override widened every
    // cheap aggregate's post-shuffle stage too and measurably hurt them.
    if (plannedParallelism(df) < want) df.repartition(want, keys: _*) else df
  }

  /** The frame's planned parallelism. For a bare table scan (exactly one
    * `FileSourceScanExec` and no Exchange above it) that is the scan's
    * planned split count — read from the physical plan, NOT from
    * `df.rdd`, which builds a whole second QueryExecution (a
    * DeserializeToObject wrapper over the plan) plus the full
    * executed-plan RDD chain, all thrown away after the read (r21
    * ADVICE). Every spread call site passes such a scan. Any other shape
    * (a repartition, a join of two scans) makes the split count the
    * wrong answer and takes the `toRdd` fallback (same planning, no
    * deserializer re-plan); under AQE that runs the plan's shuffle map
    * stages, so only the bare-scan path is plan-only. The walk reads the
    * EXECUTED plan: exchanges that a distribution requirement adds (an
    * aggregate's, a join's) only appear there. Under AQE a plan with an
    * exchange is wrapped in a leaf that hides its scans, so the walk
    * finds none and takes the fallback. */
  private def plannedParallelism(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case f: FileSourceScanExec => f }
    val shuffled = plan.find(_.isInstanceOf[Exchange]).isDefined
    if (scans.size == 1 && !shuffled) scans.head.inputRDD.getNumPartitions
    else df.queryExecution.toRdd.getNumPartitions
  }

  /** Lazy within-query materialization of a multiply-consumed derived
    * frame (optimization round 21; spark_optimization_guide.md §3.3
    * "materialising an intermediate result truncates the plan", §8
    * "make every shuffle but the last operate on a lightweight proxy").
    *
    * The dedup pipelines consume their per-doc signature frame from
    * 3–8 places (candidate self-join, occupancy aggregate, id
    * restriction, both verify attaches). Re-deriving it per consumer was
    * deliberate while the scan was one task (recompute measured faster
    * than block-manager reads, round 1); with the scan spread 32-wide
    * the optimized plan carries up to EIGHT canonically-distinct copies
    * of the corpus-wide shingle+md5 subtree (per-branch filter/column
    * pushdown makes the exchanges unequal, so ReuseExchange cannot
    * unify them) — 8x the CPU of one pass. A LAZY localCheckpoint
    * computes the frame once per query invocation and hands every
    * consumer the materialized rows.
    *
    * Nothing is ever reused ACROSS invocations: each call builds a new
    * plan, so each bench round / verify run recomputes from parquet.
    * On a real cluster swap `checkpoint()` against a reliable dir for
    * executor-loss tolerance — same dataflow (the ConnectedComponents
    * rounds already follow this pattern).
    */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** All base tables keyed by name (events via the nanos-safe loader). */
  def all(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .map(n => n -> table(spark, dir, n)).toMap + ("events" -> events(spark, dir))
}
