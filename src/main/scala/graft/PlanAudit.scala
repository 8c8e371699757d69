package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}

/** Plan hygiene audit: prints, per query, the physical-plan features that
  * matter at scale — parquet filter pushdown, column-pruned read schemas,
  * exchanges, join strategies, whole-stage-codegen coverage — read from
  * the nodes of the final AQE plan (query stages and subqueries
  * included). Run after changing any query; the point is to catch a plan
  * regression (a lost pushdown, an accidental nested-loop join) before it
  * costs 100x at cluster scale.
  *
  * Exits 1 when any query's audit throws, plans a cartesian product or
  * force-broadcasts a fact-derived side; the last line names those
  * queries. `--explain outDir` also writes each audited query's formatted
  * executed plan to `<outDir>/<query>.txt` (a before/after pair is two
  * directories).
  *
  * Usage: runMain graft.PlanAudit [sfDir] [--explain outDir] [query...]
  */
object PlanAudit extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val (explainDir, positional) = parseArgs(args.toList)
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.01")
    val names = positional.drop(1).toSet
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val audited = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.isEmpty || names(name) }
    val spark = EngineConf.session("graft-plan-audit")
    explainDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val offending = audited.filter { case (name, fn) =>
      // header first, so the engine's log lines while the query runs sit
      // under the query that caused them
      println(s"== $name")
      // Per-query isolation: one broken query must not abort the audit of
      // everything sorting after it.
      val problems =
        try audit(fn(spark, sfDir), name, explainDir)
        catch { case e: Throwable => Seq(s"AUDIT FAILED: ${e.getMessage}") }
      problems.foreach(p => println(s"   !!! $p"))
      problems.nonEmpty
    }.map(_._1)
    spark.stop()
    if (offending.nonEmpty) {
      println(s"PlanAudit: ${offending.size} of ${audited.size} queries offending: " +
        offending.mkString(", "))
      sys.exit(1)
    }
    println(s"PlanAudit: ${audited.size} queries audited, none offending")
  }

  /** `[--explain outDir]` anywhere among the positionals; any other flag
    * fails loudly. */
  private def parseArgs(args: List[String], explain: Option[String] = None,
                        positional: Vector[String] = Vector.empty)
      : (Option[String], Vector[String]) = args match {
    case "--explain" :: dir :: rest => parseArgs(rest, Some(dir), positional)
    case "--explain" :: Nil => sys.error("--explain needs an output directory")
    case flag :: _ if flag.startsWith("--") => sys.error(s"unknown flag '$flag'")
    case arg :: rest => parseArgs(rest, explain, positional :+ arg)
    case Nil => (explain, positional)
  }

  /** Prints one query's plan facts and returns its problems. */
  private def audit(df: DataFrame, name: String,
                    explainDir: Option[String]): Seq[String] = {
    // drive THIS query's own execution (count() would plan a different
    // query) so AQE finalizes the plan the walk reads
    df.collect()
    val qe = df.queryExecution
    explainDir.foreach(d =>
      Files.writeString(Paths.get(d, s"$name.txt"), qe.explainString(FormattedMode)))
    // reused exchanges are leaves here, so they are not counted again
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val joins = nodes.collect { case j: BaseJoinExec => j.nodeName }.distinct
    println(s"   exchanges: ${nodes.count(_.isInstanceOf[ShuffleExchangeExec])} shuffle, " +
      s"${nodes.count(_.isInstanceOf[BroadcastExchangeExec])} broadcast")
    // the node's own record of its pushed filters (the translated list
    // itself is protected); unabbreviated, unlike the plan string
    scans.map(_.metadata("PushedFilters")).filter(_ != "[]").distinct
      .foreach(f => println(s"   PushedFilters: $f"))
    scans.map(_.requiredSchema.catalogString).distinct
      .foreach(s => println(s"   ReadSchema: $s"))
    if (joins.nonEmpty) println(s"   joins: ${joins.mkString(", ")}")
    println(s"   codegen stages: ${nodes.count(_.isInstanceOf[WholeStageCodegenExec])}")
    val cartesian =
      if (nodes.exists(_.isInstanceOf[CartesianProductExec])) Seq("CARTESIAN PRODUCT")
      else Nil
    // Broadcast discipline (the q08/t45 class): forced broadcast of a
    // fact/corpus-derived side. Allowlisted queries print their
    // justification; anything else is a scale regression.
    cartesian ++ BroadcastGuard.forcedUnboundedBroadcasts(df).flatMap { off =>
      BroadcastGuard.allowlist.get(name) match {
        case Some(why) => println(s"   broadcast allowlisted: $why"); None
        case None      => Some(s"FORCED BROADCAST: $off")
      }
    }
  }
}
