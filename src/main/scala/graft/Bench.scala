package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** The timing core: every registered query timed into the noop sink,
  * min over interleaved rounds, one JSON line per run on stdout and one
  * appended to BENCH_HISTORY.jsonl. The line carries the raw samples and
  * the load/steal covariates; telling host weather from a regression is
  * done offline from the history by `tools/bench_history.py`, never in
  * the timed JVM. */
object Bench {
  /** Interleaved whole-suite rounds per run; each query's headline is its
    * min across them. */
  private val Rounds = 3

  /** The plan with its trailing determinism Sort removed, if it has one:
    * a global Sort at the root, or one sitting under trailing Project
    * nodes (a query that re-projects after its orderBy). Deliberately
    * does NOT descend through Limit: a global Sort under a Limit is
    * top-k semantics — removing it would change WHICH rows the query
    * computes, not just their order, so the "same rows, unordered"
    * diagnostic contract would no longer hold. Returns None when there
    * is no strippable sort; the caller records that query as unstripped
    * so readers exclude it from ordered-vs-unordered cohort comparison
    * (its two numbers are the same plan). Window/partition-local sorts
    * (`global = false`) are never touched — they're operator semantics.
    */
  private[graft] def withoutTopSort(plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      case s: Sort if s.global => Some(s.child)
      case p: Project => withoutTopSort(p.child).map(c => p.copy(child = c))
      case _ => None
    }

  /** Best-effort git HEAD sha, read straight from `.git` (no process
    * fork — the bench must not pay or depend on a `git` binary).
    * Resolves `ref:` indirection and falls back to `packed-refs`; None
    * when there's no repo or anything looks off. History lines carry
    * this so a cross-round citation ("run X was commit Y") doesn't
    * depend on matching timestamps to the git log. */
  private[graft] def gitHeadSha(repoRoot: String = "."): Option[String] = {
    def read(p: java.nio.file.Path): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
      catch { case _: Exception => None }
    val git = java.nio.file.Paths.get(repoRoot, ".git")
    read(git.resolve("HEAD")).flatMap { head =>
      if (head.startsWith("ref: ")) {
        val ref = head.stripPrefix("ref: ").trim
        read(git.resolve(ref)).orElse(
          read(git.resolve("packed-refs")).flatMap(_.linesIterator
            .map(_.trim).find(_.endsWith(" " + ref)).map(_.split(' ').head)))
      } else Some(head)
    }.filter(_.matches("[0-9a-f]{40}"))
  }

  /** Machine-load covariate for adjudicating bench noise: /proc/loadavg's
    * three averages. A loadavg far above the worker count stamped INTO
    * the line makes "the host was busy" one-run evidence. None
    * (serialized null) when unreadable (non-Linux). */
  private[graft] def readLoadAvg(path: String = "/proc/loadavg"): Option[(Double, Double, Double)] =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8").trim.split("\\s+")
      Some((parts(0).toDouble, parts(1).toDouble, parts(2).toDouble))
    } catch { case _: Exception => None }

  /** Cumulative steal ticks (field 8 of the aggregate `cpu` line in
    * /proc/stat) — time the hypervisor ran OTHER tenants while this VM
    * was runnable. A nonzero start→end delta is direct evidence of the
    * noisy-neighbor mode loadavg can't see (loadavg counts our own
    * demand; steal counts the host taking the CPU away). Raw cumulative
    * value both times; readers difference them. */
  private[graft] def readStealTicks(path: String = "/proc/stat"): Option[Long] =
    try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
        .linesIterator.find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
    } catch { case _: Exception => None }

  /** One covariate snapshot as JSON — shape pinned by BenchHistorySpec. */
  private[graft] def covariateJson(load: Option[(Double, Double, Double)],
                                   steal: Option[Long]): String = {
    val l = load.map { case (a, b, c) => s"[$a,$b,$c]" }.getOrElse("null")
    s"""{"loadavg":$l,"steal_ticks":${steal.map(_.toString).getOrElse("null")}}"""
  }

  /** Best-effort numeric scale factor parsed from the testdata dir name
    * (`…/sf0.1` → 0.1) so cross-round history filtering doesn't parse
    * paths; None (serialized null) when the path has no `sf<number>`. */
  private[graft] def sfNumber(dir: String): Option[Double] =
    """sf([0-9]*\.?[0-9]+)""".r.findFirstMatchIn(dir)
      .flatMap(m => m.group(1).toDoubleOption)

  /** Minimal JSON string encoder for values spliced into the hand-built
    * bench line (the bench deliberately carries no JSON dependency).
    * Escapes the two structural characters plus control chars, so an
    * sfDir containing a quote or backslash yields a syntactically valid
    * history line instead of silently corrupt JSON. */
  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** The bench line's leading provenance fields, extracted so the spec
    * can pin the serialization contracts: `cpus` is a JSON NUMBER (the
    * history tooling compares loadavg against it arithmetically; round-13
    * lines carried it as a string, which tools/bench_history.py still
    * accepts), `sf` survives a hostile path via [[jsonStr]], and the
    * load covariates ride in the line itself (`load_start`/`load_end`,
    * the keys every history vintage uses). `mode` is always `both`
    * (ordered headline plus one unordered pass); it stays on the line
    * because the history tool places every vintage's line by it. */
  private[graft] def lineHead(cpus: Int, sfDir: String,
                              covStart: String, covEnd: String): String =
    s""""metric":"total","unit":"sec","mode":"both","cpus":$cpus,""" +
      s""""sf":${jsonStr(sfDir)},"sf_num":${sfNumber(sfDir).map(_.toString).getOrElse("null")},""" +
      s""""load_start":$covStart,"load_end":$covEnd"""

  /** The BENCH_HISTORY line: provenance prefix (timestamp, git sha,
    * same-JVM run index) spliced ahead of the stdout line's own fields.
    * Shape pinned by BenchHistorySpec. */
  private[graft] def historyLine(line: String, ts: String, sha: String,
                                 jvmRun: Int): String =
    s"""{"ts":"$ts","sha":"$sha","jvm_run":$jvmRun,${line.drop(1)}"""

  /** CLI parse: `[sfDir] [--repeat N]` → (positional dir, repeat count).
    * The positional dir overrides SPARK_GRAFT_SF_DIR; --repeat runs the
    * whole suite N times in this one JVM, each run appending its own
    * history line. Unknown flags, a missing/garbage count, and a
    * duplicate positional fail loudly: a typo must never silently bench
    * the wrong dir once. Pinned by BenchHistorySpec. */
  private[graft] def parseArgs(args: Array[String]): (Option[String], Int) = {
    var dirArg: Option[String] = None
    var repeat = 1
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--repeat" =>
          require(i + 1 < args.length, "--repeat needs a count")
          repeat = args(i + 1).toIntOption.getOrElse(
            sys.error(s"--repeat must be an integer >= 1, got '${args(i + 1)}'"))
          require(repeat >= 1, s"--repeat must be >= 1, got $repeat")
          i += 2
        case flag if flag.startsWith("--") => sys.error(s"unknown flag '$flag'")
        case dir =>
          require(dirArg.isEmpty, s"duplicate positional arg '$dir'")
          dirArg = Some(dir); i += 1
      }
    }
    (dirArg, repeat)
  }

  def main(args: Array[String]): Unit = {
    val (dirArg, repeat) = parseArgs(args)
    val sfDir = dirArg.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = EngineConf.cpus
    val spark = EngineConf.session("graft-bench", cpus)
    // Warm-up: touch every table (parquet footers into page cache) and
    // exercise the common plan shapes once, so the first timed query
    // doesn't absorb JVM/JIT/codegen startup.
    Tables.all(spark, sfDir).values.foreach(df => df.limit(1000).agg(count(lit(1))).collect())
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // noop sink, not count(): count() lets Catalyst prune every computed
    // column (a projection-heavy query would bench as a bare row scan)
    // and drop unlimited sorts; the noop writer materializes each row
    // fully with zero sink cost — the honest per-query number. Ordered
    // runs the query exactly as Verify does (trailing determinism sort
    // included); unordered re-plans it with that sort stripped, and
    // reports whether there was one to strip.
    def once(fn: (SparkSession, String) => DataFrame,
             ordered: Boolean): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val (run, stripped) =
        if (ordered) (df, false)
        else withoutTopSort(df.queryExecution.logical) match {
          case Some(p) => (ColumnBridge.ofRows(spark, p), true)
          case None    => (df, false)
        }
      run.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, stripped)
    }
    def mapJson(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    def namesJson(s: Iterable[String]): String =
      s.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // --repeat: everything below runs once per repeat, so each repeat is
    // a complete, independently readable bench run. Warm-up above runs
    // once — repeat 1 is the coldest, which the history's jvm_run
    // index discloses.
    for (jvmRun <- 1 to repeat) {
      // load covariates bracket the run: read before the first timed
      // round and again after the last measured pass
      val covStart = covariateJson(readLoadAvg(), readStealTicks())
      val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      var failed = Set.empty[String]
      // Interleaved whole-suite rounds, per-query min. Back-to-back
      // best-of-2 produced phantom >1.3x deltas on unchanged code three
      // rounds running: JIT deopt / GC / page-cache noise that hits a
      // query's slot tends to hit BOTH of its adjacent runs. Taking each
      // query's min across whole-suite rounds decorrelates the noise — a
      // disturbance in round k lands on a different query in round k+1.
      // Raw per-round samples are kept in the line (chronological order)
      // so a later reader can judge noise vs regression without
      // re-running.
      for (r <- 1 to Rounds; (name, fn) <- queries if !failed(name)) {
        try {
          samples(name) = once(fn, ordered = true)._1 :: samples.getOrElse(name, Nil)
        } catch { case e: Throwable =>
          failed += name
          samples -= name
          System.err.println(s"[bench] $name FAILED (round $r): ${e.getMessage}")
        }
      }
      // The single unordered diagnostic pass, isolating operator cost
      // from the determinism tax. One sample — noisier than the min-of-N
      // headline; compare cohorts, not queries. Not interleaved with the
      // rounds: doubling each round's work inflated the ordered samples
      // ~1.2x. Queries with no sort to strip are listed as unstripped
      // (their two numbers are the same plan); diagnostic failures are
      // listed too but never poison the headline.
      val unordered = scala.collection.mutable.Map.empty[String, Double]
      val unstripped = scala.collection.mutable.Set.empty[String]
      var unorderedFailed = Set.empty[String]
      for ((name, fn) <- queries if !failed(name)) {
        try {
          val (t, stripped) = once(fn, ordered = false)
          if (!stripped) unstripped += name
          unordered(name) = t
        } catch { case e: Throwable =>
          unorderedFailed += name
          System.err.println(s"[bench] $name unordered FAILED: ${e.getMessage}")
        }
      }
      val covEnd = covariateJson(readLoadAvg(), readStealTicks())
      // failed queries are NOT in the per-query map (a -1.0 sentinel
      // reads as a duration to anything aggregating it); they're listed
      // in `failed`, and the headline is -1 when any failed: summing only
      // successes would let a slow query "improve" the total by breaking.
      val best = samples.map { case (k, v) => k -> v.min }.toMap
      val total =
        if (failed.nonEmpty) -1.0 else queries.flatMap(q => best.get(q._1)).sum
      val line = s"""{${lineHead(cpus, sfDir, covStart, covEnd)},""" +
        s""""samples":${mapJson(samples.map { case (k, v) => k -> v.reverse.mkString("[", ",", "]") }.toMap)},""" +
        s""""unordered":${mapJson(unordered.map { case (k, v) => k -> v.toString }.toMap)},""" +
        s""""unordered_unstripped":${namesJson(unstripped)},""" +
        s""""unordered_failed":${namesJson(unorderedFailed)},""" +
        s""""queries":${mapJson(best.map { case (k, v) => k -> v.toString })},""" +
        s""""failed":${namesJson(failed)},"value":$total}"""
      // The history file is the record every offline reading works from;
      // nothing overwrites it. Best-effort: stdout is the contract.
      try {
        val w = new java.io.FileWriter("BENCH_HISTORY.jsonl", true)
        try w.write(historyLine(line, java.time.Instant.now.toString,
          gitHeadSha().getOrElse("unknown"), jvmRun) + "\n")
        finally w.close()
      } catch { case _: Exception => () }
      println(line)
    }
    spark.stop()
  }
}
