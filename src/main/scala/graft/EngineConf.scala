package graft

import org.apache.spark.sql.SparkSession

import graft.extensions.GraftExtensions

/** The one session factory. Every main (Bench, Verify, Probe, PlanAudit)
  * and the test session build their SparkSession here, so the audited,
  * verified and timed sessions share one configuration. Nothing here
  * changes what any query computes.
  */
object EngineConf {

  /** The conf every session shares: UTC session time (event-time queries
    * bucket by the session clock, and the oracle compares in UTC), no UI,
    * and the engine's kernels registered in SQL. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** Worker count of every main: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Parsed up front: garbage would otherwise surface as an opaque
    * failure inside the builder, and Bench's line carries the count as a
    * JSON number. */
  def cpusFrom(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      require(v.toIntOption.exists(_ >= 1),
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'")
      v.toInt
  }

  /** `local[cpus]` with one shuffle partition per core, log level WARN.
    * `getOrCreate` returns the JVM's existing session when there is one,
    * so a second call is the same session. */
  def session(app: String, cpus: Int = EngineConf.cpus): SparkSession = {
    val s = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
