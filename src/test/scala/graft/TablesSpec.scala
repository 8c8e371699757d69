package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

/** Pins `Tables.events`' vintage detection: the driver's testdata has
  * stored `ts` as TIMESTAMP(NANOS) (readable only as a raw nanos long
  * under `spark.sql.legacy.parquet.nanosAsLong`) and, since the
  * 2026-08-13 regeneration, as TIMESTAMP(MICROS)/NTZ. The loader must
  * normalize every vintage to the same `ts_us` (exact epoch micros,
  * long) + micros `ts`, so all downstream event-time math — and the
  * DuckDB oracle's `epoch_us(ts)` — is vintage-independent. Each test
  * writes a one-vintage parquet and asserts the identical normalized
  * output; without this, only the vintage currently in /root/testdata
  * gets exercised and the others rot until the next regeneration flips
  * the type back.
  *
  * The NANOS fixture is written with parquet-mr directly
  * (ExampleParquetWriter) because Spark cannot WRITE TIMESTAMP(NANOS) —
  * and a genuine NANOS footer is now load-bearing: `Tables.events`
  * verifies the footer's logical type before dividing a raw long by
  * 1000, so a hand-faked plain-INT64 file no longer impersonates the
  * NANOS vintage (that exact impersonation is the mis-scale hazard the
  * footer check exists to refuse — pinned by the last test here).
  */
class TablesSpec extends SparkSpec with BeforeAndAfterAll {

  // 2001-09-09T01:46:40Z plus 123456 us: exercises sub-second precision.
  private val EpochUs = 1000000000000000L + 123456L

  /** Load via Tables.events and assert the normalized contract. */
  private def assertNormalized(dir: String): Unit = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts_us").dataType === LongType)
    assert(df.schema("ts").dataType === TimestampType)
    val row = df.select(col("ts_us"), unix_micros(col("ts"))).head()
    assert(row.getLong(0) === EpochUs, "ts_us must be exact epoch micros")
    assert(row.getLong(1) === EpochUs, "normalized ts must hold the same micros")
  }

  private val tmpDirs = scala.collection.mutable.Buffer.empty[java.io.File]

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"tables-spec-$name").toFile
    tmpDirs += d
    d.getAbsolutePath
  }

  // deleteOnExit cannot clean these (it only removes EMPTY directories,
  // and every test writes a parquet tree inside) — delete recursively.
  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    try tmpDirs.foreach(rm)
    finally super.afterAll()
  }

  /** Write a parquet file at exactly `path` with `ts` as INT64 under
    * `tsAnnotation` (TIMESTAMP(NANOS) — the shape Spark can read as raw
    * long under nanosAsLong but not write — or None for a plain
    * unannotated INT64, the impersonator the footer check refuses).
    * Writing with parquet-mr directly, not Spark, also gives the
    * driver's SINGLE-FILE layout (`events.parquet` as a file) when
    * `path` has no part-file suffix — Spark can only write directories.
    */
  private def writeParquetMr(
      path: String, tsValue: Long,
      tsAnnotation: Option[org.apache.parquet.schema.LogicalTypeAnnotation])
      : Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val tsField = tsAnnotation.foldLeft(Types.optional(INT64))(_.as(_)).named("ts")
    val schema = Types.buildMessage()
      .addField(tsField)
      .optional(INT64).named("user_id")
      .named("spark_schema")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(new HPath(path))
      .withConf(conf)
      .withType(schema)
      .build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.add("ts", tsValue)
      g.add("user_id", 7L)
      w.write(g)
    } finally w.close()
  }

  private def nanosAnnotation = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    Some(LogicalTypeAnnotation.timestampType(false,
      LogicalTypeAnnotation.TimeUnit.NANOS))
  }

  /** `{dir}/events.parquet/` (directory-of-parts layout) with a true
    * TIMESTAMP(NANOS) ts. */
  private def writeNanosParquet(dir: String, tsNanos: Long): Unit =
    writeParquetMr(s"$dir/events.parquet/part-00000.parquet", tsNanos,
      nanosAnnotation)

  test("NANOS-vintage ts (raw-long read) passes the footer check and divides to micros") {
    val dir = tmp("nanos")
    writeNanosParquet(dir, EpochUs * 1000L)
    // the file must actually surface as a raw long, or this pins nothing
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      === LongType)
    assertNormalized(dir)
  }

  test("TIMESTAMP_NTZ-vintage ts converts via wall-clock diff, timezone-free") {
    val dir = tmp("ntz")
    spark.range(1)
      // TIMESTAMP -> NTZ cast uses the session tz (UTC in tests), so the
      // NTZ wall clock written here IS the UTC instant of EpochUs
      .select(timestamp_micros(lit(EpochUs)).cast(TimestampNTZType).as("ts"),
              lit(7L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the written file must actually carry NTZ, or this pins nothing
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      === TimestampNTZType)
    assertNormalized(dir)
  }

  test("tz-adjusted TIMESTAMP-vintage ts converts via unix_micros") {
    val dir = tmp("tz")
    spark.range(1)
      .select(timestamp_micros(lit(EpochUs)).as("ts"), lit(7L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      === TimestampType)
    assertNormalized(dir)
  }

  test("a plain-INT64 ts is refused instead of mis-scaled 1000x") {
    // Looks identical to the NANOS vintage in Spark's logical schema
    // (LongType either way); only the footer check can tell them apart.
    val dir = tmp("int64")
    spark.range(1).select(lit(EpochUs).as("ts"), lit(7L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("not TIMESTAMP(NANOS)"))
  }

  test("single-file NANOS events.parquet (the driver's layout) normalizes") {
    // the driver writes events.parquet as ONE file, not a Spark
    // directory-of-parts — requireNanosTs's non-directory branch must
    // read that file's own footer
    val dir = tmp("nanos-single")
    writeParquetMr(s"$dir/events.parquet", EpochUs * 1000L, nanosAnnotation)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assertNormalized(dir)
  }

  test("single-file plain-INT64 events.parquet is refused (the ADVICE scenario)") {
    // the exact predicted hazard: a future regeneration writes the
    // driver's single-file layout with ts as unannotated INT64 micros —
    // logically identical to the NANOS vintage in Spark's schema, and
    // div 1000 would silently mis-scale it 1000x. The footer guard must
    // refuse on the FILE (not directory) branch.
    val dir = tmp("int64-single")
    writeParquetMr(s"$dir/events.parquet", EpochUs, None)
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("not TIMESTAMP(NANOS)"))
    assert(e.getMessage.contains("plain INT64"))
  }

  test("spread widens a starved single-file scan to the session parallelism") {
    // The r21/r22 contract: single-row-group parquet plans a ONE-task
    // scan; spread must detect that from the PLANNED split count (r22:
    // read from FileSourceScanExec, no throwaway .rdd QueryExecution)
    // and hash-repartition to the session's default parallelism.
    val dir = tmp("spread-starved")
    spark.range(500).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
    assert(df.rdd.getNumPartitions === 1, "fixture must plan a starved scan")
    val sp = Tables.spread(df, col("id"))
    assert(sp ne df, "starved scan must be repartitioned")
    assert(sp.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    // results identical: hash partitioning only relocates rows
    assert(sp.count() === 500)
  }

  test("spread is the identity on an already-wide frame (the cluster-scale shape)") {
    // A frame whose planned parallelism meets the session's must pass
    // through untouched — at 100 TB every scan is wide, so spread must
    // never add a shuffle there. This one exercises the non-scan
    // fallback path (toRdd) too, since the input is not a bare scan.
    val wide = spark.range(100).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    assert(Tables.spread(wide, col("id")) eq wide)
  }

  test("spread reads a repartition above a wide scan as the repartition's width") {
    // A wide scan narrowed by an Exchange is starved at the Exchange's
    // width, not the scan's: only a bare scan's split count is the
    // frame's parallelism.
    val want = spark.sparkContext.defaultParallelism
    val dir = tmp("spread-exchange")
    spark.range(400).toDF("id").repartition(want).write.parquet(s"$dir/t.parquet")
    val scan = spark.read.parquet(s"$dir/t.parquet")
    assert(Tables.spread(scan, col("id")) eq scan, "a wide bare scan passes through")
    val narrowed = scan.repartition(2)
    val sp = Tables.spread(narrowed, col("id"))
    assert(sp ne narrowed, "a 2-wide frame must be spread")
    assert(sp.rdd.getNumPartitions === want)
  }

  test("an unrecognized ts type fails loudly instead of mis-deriving ts_us") {
    val dir = tmp("bad")
    spark.range(1).select(lit("2020-01-01").as("ts"), lit(7L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported type"))
  }
}
