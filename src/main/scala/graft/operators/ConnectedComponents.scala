package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC'14) — the scale path for duplicate-cluster
  * resolution.
  *
  * Min-label propagation (the previous d55 core) converges in
  * O(component diameter) rounds; fine for shallow dup clusters, but a
  * pathological chain (docs A≈B≈C≈… from incremental edits) makes the
  * round count unbounded in corpus shape. The alternating algorithm
  * converges in O(log² n) rounds REGARDLESS of diameter — each round
  * halves star heights roughly geometrically — and each round is the
  * same dataflow a 1000-executor cluster wants: a groupBy-min over edge
  * endpoints plus one equality join, nothing ever collected to the
  * driver except a per-round convergence scalar.
  *
  *   - large-star: every node u points its LARGER neighbors at
  *     m = min(Γ(u) ∪ {u})  — emits (v, m) for v ∈ Γ(u), v > u.
  *   - small-star: orient edges large→small; every node u points its
  *     smaller neighbors (and itself) at m = min of that set.
  *
  * The fixed point is a star forest: every edge is (node, component-min).
  * Output labels are therefore identical to min-label propagation's —
  * `(doc_id, cluster_id = component min)` for every node incident to an
  * edge — so callers' oracles (exact recursive CC in DuckDB) are
  * unaffected by the algorithm swap.
  */
object ConnectedComponents {

  private def largeStar(edges: DataFrame): DataFrame = {
    // both directions: each undirected edge must be seen from both
    // endpoints, or leaf edges (u > its only neighbor) would vanish
    val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // No distinct here: duplicate (v, m) rows are harmless to smallStar's
    // min aggregation (volume stays ≤ 2|E|), and smallStar canonicalizes
    // its own output — one fewer exchange per round.
    nbrs.join(mins, "u")
      .filter(col("v") > col("u")) // v > u ≥ m, so no self-loops possible
      .select(col("v").as("src"), col("m").as("dst"))
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    // orient large→small, then group by the large endpoint
    val nbrs = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val mins = nbrs.groupBy("u").agg(min("v").as("m"))
    nbrs.join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst")) // drops the (m, m) self-edge
      .distinct() // canonical set: next round's checksum compares rely on it
  }

  /** (row count, sum of per-row murmur3 hashes) — a one-job fingerprint of
    * a canonical edge set, used as the CHEAP convergence signal. Equality
    * of consecutive fingerprints is confirmed by one exact set-equality
    * job before the loop exits, so correctness never rests on the hash. */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    import edges.sparkSession.implicits._
    edges.agg(count(lit(1)),
              coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L)))
      .as[(Long, Long)].head()
  }

  /** Resolve components of an undirected edge list `(src, dst)`.
    * Returns (`(doc_id, cluster_id)` labels for every node incident to an
    * edge, rounds taken). Fails loudly past `maxIter` — a silent cap
    * would ship labels that aren't the component minimum.
    *
    * Each round ends in `localCheckpoint`, NOT `cache`: a round
    * references the previous round's frame several times (both union
    * branches, the mins join), so lineage grows geometrically — by round
    * ~7 the analyzed plan overflows the stack. Checkpointing truncates
    * the plan to the materialized RDD, keeping every round's analysis
    * O(1). The checkpoint is LAZY and the fingerprint aggregate is the
    * action that materializes it — one job per round, not three.
    * Superseded round RDDs are unpersisted by the ContextCleaner once
    * unreferenced; on a real cluster with executor churn, swap in
    * `checkpoint()` against a reliable dir — same dataflow. */
  def runWithRounds(edges0: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    var cur = edges0.filter(col("src") =!= col("dst"))
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct().localCheckpoint(false)
    var curFp = fingerprint(cur)
    // Right-size the edge frame for the loop (r21, extended to every
    // round in r22): each iteration's first stages read the CHECKPOINTED
    // partitions, so a near-dup edge set of a few hundred rows spread
    // over dozens of partitions pays task scheduling, not compute, on
    // every stage of every round. The fingerprint already counted the
    // edges — use it: pack ~10k edges per partition, capped at the
    // session's parallelism. coalesce() on the materialized frame is
    // narrow (no shuffle, no re-checkpoint — re-reading costs
    // block-manager reads only); at 100 TB edge volume the computed
    // width saturates the cluster and this is a no-op. Applied to the
    // initial frame AND to every round's `next` (r21 only right-sized
    // the entry frame, so the loop body kept rebuilding `next` at full
    // shuffle width — the r21 ADVICE item).
    val para = edges0.sparkSession.sparkContext.defaultParallelism
    def rightsize(df: DataFrame, edgeCount: Long): DataFrame = {
      val parts = math.max(1L, math.min(edgeCount / 10000L + 1L, para.toLong)).toInt
      // .rdd here is cheap: the frame is a materialized localCheckpoint,
      // so its plan is a bare LogicalRDD (nothing like the throwaway
      // full-plan RDD Tables.spread used to build).
      if (edgeCount > 0 && parts < df.rdd.getNumPartitions) df.coalesce(parts)
      else df
    }
    cur = rightsize(cur, curFp._1)
    var rounds = 0
    var converged = curFp._1 == 0
    // Two rounds per iteration: the next iteration runs only if both of
    // its rounds fit, so an odd maxIter allows maxIter - 1 rounds, never
    // maxIter + 1.
    while (!converged && rounds + 2 <= maxIter) {
      // TWO alternating rounds per fingerprint job (r22): the loop was
      // scheduling-latency-bound at small edge volumes (one fingerprint
      // job per round), and the convergence argument only needs SOME
      // subsequence of stable fingerprints — once the fixed point is
      // reached every later frame is identical, so sampling every
      // second round still terminates, halving the sequential job
      // round-trips. Cost: at most one wasted star pass when
      // convergence lands mid-iteration. The midpoint frame is STILL
      // lazily checkpointed: a round references its input ~4x (both
      // nbrs branches + the mins join), so fusing two rounds without
      // materializing between re-derives round 1 per branch — measured
      // 1.4-1.6x SLOWER on d55/d59 before this checkpoint was added
      // (the same per-branch recompute amplification the dedup
      // signature pins exist for). Both checkpoints materialize inside
      // the one fingerprint job.
      // A fingerprint match still never declares convergence by itself
      // (exact set-equality confirm below), and assertStarForest guards
      // the final frame, so a periodic-orbit false positive (sets equal
      // two rounds apart without being a fixed point) cannot ship
      // labels: a non-star-forest frame fails loudly there.
      val mid = smallStar(largeStar(cur)).localCheckpoint(false)
      val next = smallStar(largeStar(mid)).localCheckpoint(false)
      val nextFp = fingerprint(next) // materializes both checkpoints
      if (nextFp == curFp) {
        // fingerprints stable → confirm exactly, once: both sides are
        // distinct sets, so equality = same size and their union adds
        // nothing. If a hash collision lied, this fails and we iterate on.
        converged = cur.union(next).distinct().count() == curFp._1
      }
      cur = rightsize(next, nextFp._1)
      curFp = nextFp
      rounds += 2
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within maxIter = $maxIter " +
          s"alternating rounds (ran $rounds, two per iteration)")
    assertStarForest(cur)
    // Stars are (member, component-min); the min labels itself. The final
    // checkpointed frame stays referenced by the returned labels, so its
    // RDD is not cleaner-eligible until the caller drops the result.
    val labels = cur.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(cur.select(col("dst").as("doc_id"), col("dst").as("cluster_id")).distinct())
    (labels, rounds)
  }

  /** Labels only; see [[runWithRounds]]. */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame =
    runWithRounds(edges, maxIter)._1

  /** Safety net for the star-forest invariant the labels depend on: at
    * the fixed point no node may appear on both sides of an edge
    * (a chain), AND no node may point at two roots (a multi-parent
    * fixed point would pass the chain check yet emit conflicting
    * cluster_ids for one doc). Both in ONE aggregation job — per node:
    * parent count (as src) and root appearances (as dst); a violation
    * is parents > 1 or parents-and-roots both nonzero. Cheaper insurance
    * than a join-shaped chain check + a separate groupBy.
    * `private[graft]` so the spec can prove the net catches both
    * violation modes — a safety check nothing can trip is dead code. */
  private[graft] def assertStarForest(cur: DataFrame): Unit = {
    val violation = cur.select(col("src").as("n"), lit(1L).as("p"), lit(0L).as("r"))
      .union(cur.select(col("dst").as("n"), lit(0L).as("p"), lit(1L).as("r")))
      .groupBy("n").agg(sum(col("p")).as("parents"), sum(col("r")).as("roots"))
      .filter(col("parents") > 1 ||
              (col("parents") > 0 && col("roots") > 0))
      .limit(1).count()
    if (violation > 0)
      throw new IllegalStateException(
        "connected components fixed point is not a star forest — algorithm invariant broken")
  }
}
