package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). */
object SparkSpec {
  /** `local[4]`: specs assert partition counts at that width. */
  lazy val session: SparkSession = EngineConf.session("graft-test", cpus = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rows of a single-column result as a sorted Seq (order-insensitive
    * comparison helper). */
  def col1[T](df: DataFrame): Seq[Any] =
    df.collect().map(_.get(0)).toSeq
}
