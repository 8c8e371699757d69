package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, GlobalLimit, Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The 100 TB broadcast-discipline guard.
  *
  * The recurring defect class in this engine's history (round-4 attachSets,
  * round-5 q08/t45): a forced `broadcast()` hint on a join side that
  * DERIVES FROM A FACT/CORPUS TABLE. The hint overrides AQE's size check,
  * so a side that happens to be small at test scale (a filtered fact
  * fraction, a corpus vocabulary) ships whole to every executor at cluster
  * scale and OOMs. Unhinted, AQE broadcasts exactly when the side
  * *measures* small at runtime — which is the only safe time to broadcast
  * something whose size tracks the data.
  *
  * This guard closes the CLASS: it walks the optimized logical plan and
  * flags every broadcast-strategy join hint whose hinted side reads one of
  * the scale-with-data tables without a structural bound in between.
  * Wired into both [[PlanAudit]] (per-query report; an unallowlisted
  * finding fails its exit status) and BroadcastGuardSpec (CI regression
  * gate over every SparkEntry query).
  *
  * Why the OPTIMIZED plan: `broadcast(df)` plants a `ResolvedHint` node,
  * but the optimizer's finish-analysis batch (EliminateResolvedHint) folds
  * it into the enclosing `Join`'s `JoinHint` — so a guard that greps the
  * optimized plan string for "ResolvedHint" is vacuously green. The hint's
  * surviving form is `Join.hint.{left,right}Hint.strategy == BROADCAST`,
  * and that is what this guard matches on.
  */
object BroadcastGuard {

  /** Tables whose size scales with the dataset (facts / corpora). The
    * dimension tables (region, nation, customer, supplier, part) are
    * deliberately absent: broadcast-enriching against a dimension is the
    * J1 pattern, and at TPC-H shapes dims are orders of magnitude smaller
    * than facts (customer/part do scale, but a deployment sizes those
    * hints against its own dim cardinality; the unambiguous OOM class is
    * the fact/corpus side). */
  val factTables: Seq[String] =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Queries whose hinted side reads a fact table but is bounded by
    * semantics a structural plan walk cannot prove. Every entry carries
    * the justification the audit prints; BroadcastGuardSpec fails on
    * stale entries (an allowlisted query must still exhibit the hinted
    * shape it excuses). */
  val allowlist: Map[String, String] = Map(
    "s60_ann_bruteforce" ->
      "query set = `vec_id < 20` key filter: a FIXED row count (dense unique key), not a corpus fraction",
    "s63_ann_codegen" ->
      "query set = `vec_id < 20` key filter: a FIXED row count (dense unique key), not a corpus fraction",
    "s64_ann_ivf" ->
      "probed side = 20-query set x per-label centroids (one row per label; label cardinality is fixed)",
    "s65_ann_ivf_multiprobe" ->
      "probed side = 20-query set x per-label centroids (one row per label; label cardinality is fixed)")
    // d56's entry was retired in r21: its bench-gram side now derives
    // from a pinned (localCheckpoint'd) frame, whose cut lineage this
    // guard cannot trace to the corpus scan — so the hint was REMOVED
    // (AQE's runtime size check broadcasts the fixed-size bench set by
    // itself) rather than left allowlisted but unauditable.

  /** Offending broadcast hints in `df`'s optimized plan: one description
    * per broadcast-strategy join hint whose hinted side either (a) reads a
    * fact/corpus table with no structural bound ([[boundedPlan]]) between,
    * or (b) contains a lineage-cut node (LogicalRDD — a checkpoint /
    * `Tables.pin`) with no bound above it, which makes the fact-lineage
    * audit IMPOSSIBLE: the scan the frame derives from is invisible, so
    * the hint is flagged as unauditable instead of passing silently (the
    * r21 ADVICE blind spot — d56's hint evaded this guard exactly that
    * way and was removed by convention only).
    * Empty result = the plan passes the guard. Plan-only — never executes
    * the query. */
  def forcedUnboundedBroadcasts(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan
    plan.collect { case j: Join =>
      Seq(("left", j.hint.leftHint, j.left), ("right", j.hint.rightHint, j.right))
        .collect {
          case (pos, Some(h), side)
              if h.strategy.contains(BROADCAST) && !boundedPlan(side) &&
                 (factReads(side).nonEmpty || cutLineage(side)) =>
            if (factReads(side).nonEmpty)
              s"forced broadcast on $pos side reading " +
                s"[${factReads(side).mkString(",")}] (${side.nodeName}, no structural bound)"
            else
              s"UNAUDITABLE forced broadcast on $pos side: the hinted side " +
                "contains a LogicalRDD (checkpoint/pin) node, so its table " +
                "lineage is cut and the fact-lineage audit cannot run — " +
                "remove the hint (AQE broadcasts small sides by itself) or " +
                "hint above an un-pinned frame"
        }
    }.flatten
  }

  /** Count of broadcast-strategy join hints anywhere in the optimized
    * plan — for paths (the dedup verify joins) where the contract is
    * stronger: NO forced broadcast at all, bounded or not. */
  def broadcastHintCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join =>
      Seq(j.hint.leftHint, j.hint.rightHint)
        .count(_.exists(_.strategy.contains(BROADCAST)))
    }.sum

  /** Fact/corpus tables read anywhere under `p` (parquet scan leaves whose
    * file paths name one of [[factTables]]). */
  private def factReads(p: LogicalPlan): Seq[String] =
    p.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val paths = fs.location.rootPaths.map(_.toString)
          factTables.filter(t => paths.exists(_.endsWith(s"/$t.parquet")))
        case _ => Nil
      }
      case _ => Nil
    }.distinct

  /** Lineage-cut nodes under `p`: a checkpointed frame surfaces as a
    * LogicalRDD leaf, behind which no table scan is visible — so a
    * broadcast hint over it can never be cleared by [[factReads]]. */
  private def cutLineage(p: LogicalPlan): Boolean =
    p.collectLeaves().exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }

  /** A structural bound between the fact scan and the hinted join: a
    * LIMIT, or a grand-total aggregate (one output row). Filters and
    * grouped aggregates are NOT bounds — a filter keeps a fraction and a
    * grouped aggregate keeps one row per key, both of which grow with the
    * data (that is exactly the q08 / t45 defect). */
  private def boundedPlan(p: LogicalPlan): Boolean =
    p.exists {
      case _: GlobalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case _ => false
    }
}
