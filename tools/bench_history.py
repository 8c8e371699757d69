#!/usr/bin/env python3
"""Readable view of BENCH_HISTORY.jsonl for noise-vs-regression triage.

Every rule that tells host weather from a regression lives here, once,
and is derived from the history each time the tool reads it. The bench
(graft.Bench) only times the queries and appends one line per run.

Usage:
  python3 tools/bench_history.py                  # one summary row per run
  python3 tools/bench_history.py d57_containment  # that query across runs
  python3 tools/bench_history.py --suspect-replay [CPUS SF]
      # every (cpus, sf) cohort line judged against its own-time bands;
      # prints the flagged lines (default cohort 32 cpus, sf 0.1)
  python3 tools/bench_history.py --compare TS1 [TS2 ...] CAND
  python3 tools/bench_history.py --compare --band SHA_PREFIX CAND
  python3 tools/bench_history.py --selftest
  --file PATH reads another line file in place of BENCH_HISTORY.jsonl.

Comparability. Summary columns end with the machine-load covariates:
loadavg at run start/end (1-minute average) and the start->end steal-tick
delta (hypervisor ran other tenants; 100 ticks = 1 stolen core-second).
The trailing `!` marks a run as NON-COMPARABLE — never an anchor or
regression evidence. A run is flagged when either covariate exceeds its
threshold:

  * steal delta > SUSPECT_STEAL_DELTA (400 ticks = 4 stolen
    core-seconds). Calibrated on the round-13 record: headlines stayed
    in the ~58s band up to delta 366 and were visibly elevated at
    delta 564 (70.2s) and delta 1531 (74.2s); 400 splits the observed
    gap between the last clean and first disturbed run.
  * 1-minute loadavg at run start or end > the run's `cpus` (worker
    count): the host owed more runnable threads than the bench had
    workers, so timings include queueing that is not the plan's cost.
    Skipped when the line predates the `cpus` field.

Lines of rounds 15-22 recorded this verdict themselves (`steal_delta`,
`noncomparable`); it is read as recorded. Other lines get it computed
from `load_start`/`load_end`. Runs missing the covariates entirely
(pre-round-13) fall back to the within-run dispersion of each query's
own samples: a catastrophic disturbance leaves order-of-magnitude swings
across the SAME query's interleaved rounds (the round-14 driver capture
read q14 at 56.2/0.36/0.21s — ratio 265). A pre-covariate line is flagged
when at least SUSPECT_DISPERSION_COUNT queries with all samples >=
DISPERSION_MIN_SEC disperse beyond SUSPECT_DISPERSION_RATIO. The bar is
calibrated on the full history: benign first-round JIT warm-up reaches
5-9x on a couple of queries in every cold run, up to 12.9x when steal
was provably high, while the one catastrophic capture shows four queries
at 24.6-264.9x. Two limits: a DIFFUSE elevation does not disperse
within-run and stays undetectable without covariates, and a mild
disturbance confined to round 1 reads as warm-up.

Suspects. A line's per-query min is SUSPECT when it exceeds
SUSPECT_RATIO x the median of that query's band AND by more than
SUSPECT_FLOOR_SEC, with at least SUSPECT_MIN_HISTORY mins in the band.
A band is the per-query mins of the earlier comparable lines of the same
cohort (cpus, sf_num, ordered or unordered headline). Calibrated by
replay over the real history (`--suspect-replay`): at 1.5x + 0.5 s
exactly two clean lines flagged in the record before the rule shipped —
the r15 d57 6.4 s one-shot (1.66x) and the r17 d57 12.46 s capture
(3.1x), the two incidents that each cost a judge session — with zero
false flags on ~40 clean lines; 2.0x would miss the r15 case. The floor
keeps sub-second queries from flagging on scheduler jitter (diffuse
weather moves 1.06-1.16x geomean and never +0.5 s on one query). Clean
flags on lines appended since are the rule firing, each adjudicated by
the next comparable line.

Leads. A suspect on a comparable line is an open LEAD unless the line
recorded an in-run rerun (rounds 18-22) that came back in band. The next
comparable line of the cohort gives each lead its verdict: `confirmed`
(flagged again: bisect from the lead's origin), `refuted` (ran in band:
a transient), `retired` (the query left the registry), or none when the
query failed there — the lead then carries forward, origin intact, to
the line after. A same-JVM repeat (jvm_run > 1) can clear a JIT/GC
transient; only a fresh process is regression-grade refutation, and the
verdict says which it was.

Reference. A line is REFERENCE-GRADE when it is comparable, no query
failed, and it has no suspect. Every line that is not names the newest
reference-grade line before it in its cohort (`last clean`), so the
trusted number sits next to the distrusted one.

`--compare` answers what the covariates cannot: when a headline moved
at clean steal, is the move DIFFUSE (roughly uniform across unrelated
queries — environmental; shared memory bandwidth or LLC contention mints
no steal ticks) or CONCENTRATED (a few specific plans — suspect those
plans)? Calibrated on 2026-08-13, when steal-clean runs read ~58-60s
against the 52.4s anchor with 92% of queries elevated across unrelated
families. Bars: >= COMPARE_DIFFUSE_FRAC of queries past COMPARE_ELEVATED
with the median along = diffuse; a calm median with any query past
COMPARE_CONCENTRATED = concentrated; the faster side mirrors both with
the reciprocal bars. Queries under COMPARE_MIN_SEC in the base are timer
noise. The base may be a cohort — listed runs, or `--band SHA` for every
comparable run at that sha with the candidate's (cpus, sf_num) — whose
per-query minimum is the honest "this code has run this fast" base; one
base run's own jitter can mint a false CONCENTRATED verdict.
"""
import bisect
import json
import math
import sys

# Non-comparable thresholds — rationale in the module docstring above.
SUSPECT_STEAL_DELTA = 400
# Dispersion fallback for pre-covariate lines (docstring above):
# max/min across one query's own samples, floored to skip sub-200ms
# queries whose ratios are timer noise, needing two such queries so a
# single JIT deopt can't flag a whole run.
SUSPECT_DISPERSION_RATIO = 20.0
SUSPECT_DISPERSION_COUNT = 2
DISPERSION_MIN_SEC = 0.2
# Lines before this timestamp (rounds 13-14) recorded no verdict and never
# fed a band; keeping them out keeps the replay's calibration figures.
RECORDED_VERDICT_SINCE = "2026-08-13T09:26:53"
# Suspect bars (docstring above); reproducible via --suspect-replay.
SUSPECT_RATIO = 1.5
SUSPECT_FLOOR_SEC = 0.5
SUSPECT_MIN_HISTORY = 5
# --compare classification bars (rationale in the module docstring):
COMPARE_MIN_SEC = 0.05      # base-run floor; faster queries are timer noise
COMPARE_ELEVATED = 1.05     # a query counts as elevated past this ratio
COMPARE_DIFFUSE_FRAC = 0.7  # fraction elevated => DIFFUSE (environmental)
COMPARE_CONCENTRATED = 1.5  # any query past this with a calm median => CONCENTRATED


def load(path="BENCH_HISTORY.jsonl"):
    """The history's lines as dicts. A line that is not a JSON object
    (a run killed mid-append) is skipped with a note on stderr."""
    runs, bad = [], 0
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                d = json.loads(line)
            except ValueError:
                d = None
            if isinstance(d, dict):
                runs.append(d)
            else:
                bad += 1
    if bad:
        print("{}: skipped {} unparseable line(s)".format(path, bad),
              file=sys.stderr)
    return runs


def num(v):
    """A finite JSON number, else None (bools, strings, and the inf a
    mangled 1e999 parses to never enter a band or a verdict)."""
    if isinstance(v, (int, float)) and not isinstance(v, bool) \
            and math.isfinite(v):
        return v
    return None


def cov(d, key):
    c = d.get(key) or {}
    la = c.get("loadavg")
    steal = c.get("steal_ticks")
    return (la[0] if la else None), steal


def fmt(v, spec="{:.2f}"):
    return spec.format(v) if v is not None else "-"


def steal_delta(d):
    # rounds 15-22 recorded the delta; other lines get it computed from
    # the covariate endpoints
    sd = d.get("steal_delta")
    if isinstance(sd, int):
        return sd
    _, s0 = cov(d, "load_start")
    _, s1 = cov(d, "load_end")
    return s1 - s0 if s0 is not None and s1 is not None else None


def cpu_count(d):
    # round-13 lines carried cpus as a JSON string ("32"); later lines
    # carry a number — accept both, None when absent/garbage
    try:
        return int(d.get("cpus"))
    except (TypeError, ValueError):
        return None


def has_covariates(d):
    """True when the line carries any direct load evidence."""
    if isinstance(d.get("steal_delta"), int):
        return True
    return any(v is not None for key in ("load_start", "load_end")
               for v in cov(d, key))


def dispersed(d):
    """Secondary evidence for pre-covariate lines: enough queries whose
    own interleaved samples swing past the dispersion ratio."""
    wild = 0
    for s in (d.get("samples") or {}).values():
        if len(s) >= 2 and min(s) >= DISPERSION_MIN_SEC \
                and max(s) / min(s) > SUSPECT_DISPERSION_RATIO:
            wild += 1
    return wild >= SUSPECT_DISPERSION_COUNT


def non_comparable(d):
    """'!' when a covariate says this run is not a usable anchor.

    A recorded boolean `noncomparable` (rounds 15-22) is authoritative;
    `null` and other lines fall through to computing from the
    covariates. Lines with no covariates at all fall back to within-run
    dispersion."""
    nc = d.get("noncomparable")
    if isinstance(nc, bool):
        return "!" if nc else ""
    if not has_covariates(d):
        return "!" if dispersed(d) else ""
    sd = steal_delta(d)
    if sd is not None and sd > SUSPECT_STEAL_DELTA:
        return "!"
    cpus = cpu_count(d)
    if cpus is not None:
        for key in ("load_start", "load_end"):
            l1m, _ = cov(d, key)
            if l1m is not None and l1m > cpus:
                return "!"
    return ""


def comparable(d):
    """Whether a line is evidence for bands, leads and the reference.
    Stricter than the `!` marker: a recorded verdict is read as recorded
    and a null one is unknown, which is not clean; a line before
    RECORDED_VERDICT_SINCE recorded none and is never evidence; any
    later line is judged from its covariates and needs some."""
    if "noncomparable" in d:
        return d["noncomparable"] is False
    if d.get("ts", "") < RECORDED_VERDICT_SINCE:
        return False
    return has_covariates(d) and non_comparable(d) == ""


def cohort(d):
    """(cpus, sf_num, ordered headline): the lines a line is judged
    against. None when the line cannot be placed (no cpus, no sf_num,
    unknown mode)."""
    cpus, sf, mode = cpu_count(d), num(d.get("sf_num")), d.get("mode")
    if cpus is None or sf is None or mode not in ("both", "ordered", "unordered"):
        return None
    return (cpus, sf, mode != "unordered")


def query_mins(d):
    """Per-query best-of-samples — min is the noise-resistant statistic
    (the bench's own `queries` field); pre-samples lines fall back to
    `queries`. Non-finite values are dropped."""
    out = {}
    for q, s in (d.get("samples") or {}).items():
        xs = [x for x in map(num, s if isinstance(s, list) else []) if x is not None]
        if xs:
            out[q] = min(xs)
    for q, v in (d.get("queries") or {}).items():   # pre-samples lines
        if num(v) is not None:
            out.setdefault(q, v)
    return out


def median(xs):
    """Median of an already sorted list (bands are kept sorted)."""
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def breaches(v, med):
    return v > SUSPECT_RATIO * med and v - med > SUSPECT_FLOOR_SEC


def suspect_hits(best, bands):
    """(query, min, band median, band size) for every query of one run
    whose min breaches its band; bands map query -> sorted mins."""
    hits = []
    for q, v in sorted(best.items()):
        mins = bands.get(q)
        if mins and len(mins) >= SUSPECT_MIN_HISTORY:
            med = median(mins)
            if breaches(v, med):
                hits.append((q, v, med, len(mins)))
    return hits


def lead_verdict(q, best, flagged, failed):
    """A lead's verdict from the next comparable line: None when that
    line could not measure the query (it failed there)."""
    if q not in best and q not in failed:
        return "retired"
    if q not in best:
        return None
    return "confirmed" if q in flagged else "refuted"


def reference_grade(d, rec):
    return (rec["comparable"] and num(d.get("value")) is not None
            and d["value"] >= 0 and not d.get("failed")
            and not rec["suspects"])


def derive(runs):
    """One pass over the history in order. Returns (records, cohorts):
    one record per line with its `suspects` [(q, min, median, n,
    recorded rerun)], the `leads` of the cohort's previous comparable
    line it adjudicates [(q, lead, this min, verdict)] and their `src`
    line (ts, sha, fresh_jvm), and `last_clean` (the newest
    reference-grade line before it, set only when the line itself is
    not reference-grade); and the final per-cohort state (bands, open
    leads, last comparable line, reference)."""
    cohorts, records = {}, []
    proc, prev_run = 0, None
    for d in runs:
        # consecutive jvm_run 1, 2, ... are one process's repeats
        run = d.get("jvm_run")
        if not (isinstance(run, int) and isinstance(prev_run, int)
                and run == prev_run + 1):
            proc += 1
        prev_run = run
        rec = {"comparable": comparable(d), "suspects": [], "leads": [],
               "src": None, "last_clean": None}
        records.append(rec)
        key = cohort(d)
        if key is None:
            continue
        st = cohorts.setdefault(key, {"bands": {}, "open": {}, "last": None,
                                      "last_proc": None, "ref": None})
        best = query_mins(d)
        detail = d.get("suspect_detail") or {}   # rounds 18-22: in-run reruns
        rec["suspects"] = [
            (q, v, med, n, num((detail.get(q) or {}).get("rerun")))
            for q, v, med, n in suspect_hits(best, st["bands"])]
        if rec["comparable"]:
            flagged = {s[0] for s in rec["suspects"]}
            failed = set(d.get("failed") or [])
            carried = {}
            for q, lead in sorted(st["open"].items()):
                verdict = lead_verdict(q, best, flagged, failed)
                if verdict is None:
                    carried[q] = lead
                rec["leads"].append((q, lead, best.get(q), verdict))
            if st["open"]:
                last = st["last"]
                rec["src"] = (last.get("ts", "-"), last.get("sha", "-"),
                              st["last_proc"] != proc)
            origin = (d.get("ts", "-"), d.get("sha", "-"))
            st["open"] = dict(carried, **{
                q: {"min": v, "rerun": rr, "origin": origin}
                for q, v, med, _, rr in rec["suspects"]
                if rr is None or breaches(rr, med)})
            st["last"], st["last_proc"] = d, proc
            for q, v in best.items():
                bisect.insort(st["bands"].setdefault(q, []), v)
        if reference_grade(d, rec):
            st["ref"] = d
        else:
            rec["last_clean"] = st["ref"]
    return records, cohorts


def summary(runs):
    hdr = ("ts", "sha", "run", "cpus", "sf", "mode", "value_s", "fail",
           "load1m_s", "load1m_e", "steal_d", "!")
    row = ("{:<20} {:<8} {:>3} {:>4} {:>6} {:<9} {:>8} {:>4} "
           "{:>8} {:>8} {:>7} {:<1}")
    print(row.format(*hdr))
    records, _ = derive(runs)
    for d, rec in zip(runs, records):
        l0, _ = cov(d, "load_start")
        l1, _ = cov(d, "load_end")
        print(row.format(
            str(d.get("ts", "-"))[:19],
            str(d.get("sha", "-"))[:8],
            str(d.get("jvm_run", "-")),
            str(d.get("cpus", "-")),
            fmt(num(d.get("sf_num")), "{:g}"),
            str(d.get("mode", "-")),
            fmt(num(d.get("value")), "{:.1f}"),
            len(d.get("failed") or []),
            fmt(l0), fmt(l1), fmt(steal_delta(d), "{:d}"),
            non_comparable(d)))
        for q, v, med, n, rr in rec["suspects"]:
            state = ("rerun {:.2f}s {}".format(
                        rr, "repeated: open lead" if breaches(rr, med)
                        else "in band: weather") if rr is not None
                     else "open lead" if rec["comparable"]
                     else "not comparable: the covariates explain it")
            print("    suspect {}: min {:.2f} vs band median {:.2f} (n={}) — {}"
                  .format(q, v, med, n, state))
        src = rec["src"]
        for q, lead, this_min, verdict in rec["leads"]:
            print("    prior lead {} (measured {} @{}, via {} @{}): min {} "
                  "rerun {} -> this run {} — {} ({} jvm)".format(
                      q, str(lead["origin"][0])[:19], str(lead["origin"][1])[:8],
                      str(src[0])[:19], str(src[1])[:8], fmt(lead["min"]),
                      fmt(lead["rerun"]), fmt(this_min),
                      verdict or "unadjudicated (failed here)",
                      "fresh" if src[2] else "same"))
        lc = rec["last_clean"]
        if lc is not None:
            run = lc.get("jvm_run")
            print("    last clean: {} @ {} ({}){}".format(
                fmt(num(lc.get("value"))), str(lc.get("sha", "-"))[:8],
                str(lc.get("ts", "-"))[:19],
                # a warm repeat is not the same reference point as a
                # cold fresh run
                " [warm jvm_run {}]".format(run)
                if isinstance(run, int) and run > 1 else ""))


def one_query(runs, q):
    print("{:<20} {:<8} {:>6} {:>8} {:>9} {:>7} {:<1}  {}".format(
        "ts", "sha", "sf", "min_s", "unord_s", "steal_d", "!", "samples"))
    for d in runs:
        samples = (d.get("samples") or {}).get(q)
        if samples is None and q not in (d.get("queries") or {}):
            continue
        unord = (d.get("unordered") or {}).get(q)
        qmin = (d.get("queries") or {}).get(q)
        print("{:<20} {:<8} {:>6} {:>8} {:>9} {:>7} {:<1}  {}".format(
            d.get("ts", "-")[:19],
            d.get("sha", "-")[:8],
            fmt(d.get("sf_num"), "{:g}"),
            fmt(qmin),
            fmt(unord),
            fmt(steal_delta(d), "{:d}"),
            non_comparable(d),
            "[" + ", ".join("{:.2f}".format(s) for s in samples) + "]"
            if samples else "-"))


def pick(runs, ts_prefix):
    hits = [d for d in runs if d.get("ts", "").startswith(ts_prefix)]
    if len(hits) != 1:
        sys.exit("ts prefix {!r} matches {} runs (need exactly 1)"
                 .format(ts_prefix, len(hits)))
    return hits[0]


def suspect_replay(runs, cpus=32, sf=0.1):
    """The suspect rule over one (cpus, sf, ordered-headline) cohort,
    every line judged against the bands available at its own timestamp:
    the reproducible form of the calibration sweep that set
    SUSPECT_RATIO. Dirty lines are judged too (their flags print,
    self-explained by their covariates); only comparable lines feed the
    bands."""
    judged = flagged = 0
    records, _ = derive(runs)
    for d, rec in zip(runs, records):
        if cohort(d) != (cpus, sf, True) or not query_mins(d):
            continue
        judged += 1
        if rec["suspects"]:
            flagged += 1
            print("{} sha={} steal_d={} [{}]".format(
                d.get("ts", "-")[:19], str(d.get("sha", "-"))[:8],
                fmt(steal_delta(d), "{:d}"),
                "CLEAN — the incident class the rule catches"
                if rec["comparable"] else "dirty/unknown — already self-explained"))
            for q, v, med, n, _ in rec["suspects"]:
                print("    {}: {:.2f}s vs band median {:.2f} "
                      "(n={}, {:.2f}x)".format(q, v, med, n, v / med))
    print("{} of {} ({} cpus, sf {:g}) cohort lines would flag".format(
        flagged, judged, cpus, sf))


def ratios(base, cand):
    """Per-query candidate/base ratios over the common queries whose
    base min clears the COMPARE_MIN_SEC timer-noise floor."""
    return {q: cand[q] / base[q] for q in set(base) & set(cand)
            if base[q] >= COMPARE_MIN_SEC}


def classify(rs):
    """DIFFUSE / CONCENTRATED / comparable, from per-query ratios, on
    either side of 1."""
    if not rs:
        return "no common queries"
    n = len(rs)
    med = sorted(rs)[n // 2]
    up = sum(1 for r in rs if r > COMPARE_ELEVATED) / n
    down = sum(1 for r in rs if r < 1 / COMPARE_ELEVATED) / n
    if up >= COMPARE_DIFFUSE_FRAC and med > COMPARE_ELEVATED:
        return ("DIFFUSE elevation ({:.0%} of queries > {:g}x, median "
                "{:.2f}x) — environmental (shared-resource contention is "
                "steal-invisible), not a plan change"
                .format(up, COMPARE_ELEVATED, med))
    if down >= COMPARE_DIFFUSE_FRAC and med < 1 / COMPARE_ELEVATED:
        return ("DIFFUSE speed-up ({:.0%} of queries < {:.3g}x, median "
                "{:.2f}x) — the host or a shared change moved every "
                "query: re-base before comparing"
                .format(down, 1 / COMPARE_ELEVATED, med))
    if med <= COMPARE_ELEVATED and max(rs) >= COMPARE_CONCENTRATED:
        return ("CONCENTRATED elevation (median {:.2f}x but max {:.2f}x) "
                "— suspect the listed plans".format(med, max(rs)))
    if med >= 1 / COMPARE_ELEVATED and min(rs) <= 1 / COMPARE_CONCENTRATED:
        return ("CONCENTRATED speed-up (median {:.2f}x but min {:.2f}x) "
                "— the listed plans got faster".format(med, min(rs)))
    return "comparable (median {:.2f}x)".format(med)


def cohort_mins(runs):
    """Per-query min across a base cohort (union of queries; min over
    the runs that carry each)."""
    out = {}
    for d in runs:
        for q, v in query_mins(d).items():
            if q not in out or v < out[q]:
                out[q] = v
    return out


def band_runs(runs, sha_prefix, like=None):
    """All comparable (non-'!') runs at a sha — the --band base cohort.
    With `like`, hard-filtered to runs of that candidate's cohort: the history holds 8-cpu/sf0.001 smoke lines beside
    canonical 32-cpu/sf0.1 lines, and one smoke line's minima folded
    into the base would poison every ratio. Dropped lines are counted
    out loud — silent truncation reads as 'covered everything'."""
    if not sha_prefix:
        sys.exit("--band needs a non-empty sha prefix")
    hits = [d for d in runs
            if d.get("sha", "").startswith(sha_prefix)
            and non_comparable(d) == ""]
    if like is not None:
        want = cohort(like)
        dropped = sum(1 for d in hits if cohort(d) != want)
        if dropped:
            print("band cohort: dropped {} run(s) whose (cpus, sf, ordered) != {} "
                  "(smoke/other-config lines never fold into the base)"
                  .format(dropped, want))
        hits = [d for d in hits if cohort(d) == want]
    if not hits:
        sys.exit("--band {!r}: no comparable runs at that sha{}"
                 .format(sha_prefix,
                         "" if like is None else
                         " in cohort {}".format(cohort(like))))
    return hits


def compare(runs, base_specs, ts_b, band=None, top=10):
    b = pick(runs, ts_b)
    bases = band_runs(runs, band, like=b) if band is not None \
        else [pick(runs, t) for t in base_specs]
    if band is None:
        for d in bases:
            if cohort(d) != cohort(b):
                print("WARNING: base {} has cohort {} vs candidate's {} "
                      "— these ratios are cross-configuration".format(
                          d.get("ts", "-")[:19], cohort(d),
                          cohort(b)))
    for d in bases:
        print("base: {} sha={} value={} steal_d={} {}".format(
            d.get("ts", "-")[:19], d.get("sha", "-")[:8],
            fmt(d.get("value"), "{:.1f}"), fmt(steal_delta(d), "{:d}"),
            non_comparable(d)))
    if len(bases) > 1:
        print("base cohort: {} runs, per-query min".format(len(bases)))
    print("cand: {} sha={} value={} steal_d={} {}".format(
        b.get("ts", "-")[:19], b.get("sha", "-")[:8],
        fmt(b.get("value"), "{:.1f}"), fmt(steal_delta(b), "{:d}"),
        non_comparable(b)))
    ma, mb = cohort_mins(bases), query_mins(b)
    rs = ratios(ma, mb)
    if not rs:
        print("no common queries above the {:.0f}ms floor"
              .format(COMPARE_MIN_SEC * 1000))
        return
    print("{:<32} {:>7} {:>7} {:>6}".format("query", "base_s", "cand_s",
                                            "ratio"))
    # the plans that moved most, in either direction
    for q in sorted(rs, key=lambda q: -abs(math.log(rs[q])))[:top]:
        print("{:<32} {:>7.2f} {:>7.2f} {:>5.2f}x".format(
            q, ma[q], mb[q], rs[q]))
    print("n={} sum {:.1f}s -> {:.1f}s; {}".format(
        len(rs), sum(ma[q] for q in rs), sum(mb[q] for q in rs),
        classify(list(rs.values()))))


# ── selftest ──────────────────────────────────────────────────────────
# Each case is one named rule check; `--selftest` runs them all and
# prints one `ok: NAME` or `FAIL: NAME` line per case, a failure's
# reason indented on the next line (the tier-1
# BenchSuspectSpec registers one test per line). Cases ported from the
# in-run Scala spec keep that spec's names.
CASES = []


def case(name):
    assert all(name != n for n, _ in CASES), "duplicate case " + name

    def register(fn):
        CASES.append((name, fn))
        return fn
    return register


def _line(mins, clean=True, cpus=32, mode="both", sf=0.1, sha="b" * 40,
          ts="2026-08-14T00:00:00Z", jvm_run=1, failed=(), **extra):
    """A timing-core history line: samples [min + 0.4, min] per query,
    covariates quiet (or a 9999-tick steal delta when not clean)."""
    d = {"ts": ts, "sha": sha, "jvm_run": jvm_run, "metric": "total",
         "unit": "sec", "mode": mode, "cpus": cpus, "sf_num": sf,
         "load_start": {"loadavg": [1.0, 1.0, 1.0], "steal_ticks": 0},
         "load_end": {"loadavg": [1.0, 1.0, 1.0],
                      "steal_ticks": 0 if clean else 9999},
         "samples": {q: [v + 0.4, v] for q, v in mins.items()},
         "queries": dict(mins), "failed": list(failed),
         "value": -1.0 if failed else sum(mins.values())}
    d.update(extra)
    return d


def _ts(i):
    return "2026-08-15T{:02d}:00:00Z".format(i)


def _q42_history(n=6):
    """n clean in-band q42 lines (median 2.025 for the default six),
    each its own process."""
    vals = [2.0, 2.1, 1.9, 2.05, 2.0, 2.1][:n]
    return [_line({"q42": v, "q01": 1.0}, ts=_ts(i)) for i, v in enumerate(vals)]


def _open(runs, key=(32, 0.1, True)):
    return derive(runs)[1][key]["open"]


@case("non_comparable: steal and load bars are strict, string cpus accepted")
def _():
    def line(steal_d=0, l1m_s=1.0, l1m_e=1.0, cpus=32):
        return {"cpus": cpus,
                "load_start": {"loadavg": [l1m_s, 0, 0], "steal_ticks": 1000},
                "load_end": {"loadavg": [l1m_e, 0, 0],
                             "steal_ticks": 1000 + steal_d}}
    assert non_comparable(line()) == ""
    assert non_comparable(line(steal_d=SUSPECT_STEAL_DELTA)) == ""      # > not >=
    assert non_comparable(line(steal_d=SUSPECT_STEAL_DELTA + 1)) == "!"
    assert non_comparable(line(l1m_s=33.0)) == "!"                     # start
    assert non_comparable(line(l1m_e=32.5)) == "!"                     # end
    assert non_comparable(line(l1m_s=32.0)) == ""                      # > not >=
    assert non_comparable(line(l1m_s=99.0, cpus="notanint")) == ""     # no cpus -> skip load test
    assert non_comparable(line(steal_d=9999, cpus="8")) == "!"         # string cpus accepted
    assert non_comparable({"cpus": 32}) == ""                          # pre-covariate line
    # partial covariates: the readable one adjudicates
    assert non_comparable({"cpus": 32, "load_start": {"loadavg": [40.0, 0, 0]}}) == "!"
    # recorded verdicts (rounds 15-22) win over the covariates; null
    # falls through to computing
    assert non_comparable(dict(line(), noncomparable=True)) == "!"
    assert non_comparable(dict(line(steal_d=9999), noncomparable=False)) == ""
    assert non_comparable(dict(line(steal_d=9999), noncomparable=None)) == "!"


@case("steal_delta: recorded, else the endpoints differenced, None unless both readable")
def _():
    def line(s0, s1):
        return {"load_start": {"steal_ticks": s0}, "load_end": {"steal_ticks": s1}}
    assert steal_delta(line(100, 142)) == 42
    assert steal_delta(line(None, 142)) is None
    assert steal_delta(line(100, None)) is None
    assert steal_delta(dict(line(0, 7), steal_delta=123)) == 123
    assert steal_delta(dict(line(0, 7), steal_delta=None)) == 7        # null -> compute


@case("dispersed: only pre-covariate lines, only two wild queries past the floor")
def _():
    calm = [1.0, 1.1, 1.0]
    wild = [10.0, 0.4, 0.4]                    # ratio 25, all above floor
    warm = [9.0, 1.0, 1.0]                     # worst observed benign warm-up shape
    tiny = [0.15, 0.001]                       # wild ratio but sub-floor
    bar = [SUSPECT_DISPERSION_RATIO, 1.0]      # exactly at the bar
    assert dispersed({"samples": {"a": wild, "b": wild}})
    assert not dispersed({"samples": {"a": wild, "b": calm}})          # count 2
    assert not dispersed({"samples": {"a": warm, "b": warm}})          # warm-up clears
    assert not dispersed({"samples": {"a": tiny, "b": tiny}})          # floor
    assert not dispersed({"samples": {"a": bar, "b": bar}})            # > not >=
    assert non_comparable({"samples": {"a": wild, "b": wild}}) == "!"
    # direct covariate evidence wins over dispersion in both directions
    assert non_comparable(dict(_line({}), samples={"a": wild, "b": wild})) == ""
    assert non_comparable({"samples": {"a": wild, "b": wild},
                           "noncomparable": False}) == ""


@case("comparable: recorded verdicts as recorded, pre-round-15 never, later lines computed")
def _():
    assert comparable(_line({"q01": 1.0}))
    assert not comparable(_line({"q01": 1.0}, clean=False))
    # no covariates readable: unknown is not clean
    assert not comparable({"ts": "2026-10-01T00:00:00Z", "cpus": 4})
    # rounds 15-22: the recorded verdict, and null is unknown
    assert comparable({"noncomparable": False})
    assert not comparable(dict(_line({}), noncomparable=None))
    assert not comparable(dict(_line({}), noncomparable=True))
    # rounds 13-14: clean covariates but no recorded verdict
    assert not comparable(_line({}, ts="2026-08-13T08:02:21Z"))


@case("medianOf: odd takes the middle, even averages the two middles")
def _():
    assert median([1.0, 2.0, 3.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert median([7.0]) == 7.0
    # bands are built sorted whatever order the lines come in
    runs = [_line({"q": v}, ts=_ts(i)) for i, v in enumerate([3.0, 1.0, 2.0])]
    assert derive(runs)[1][(32, 0.1, True)]["bands"]["q"] == [1.0, 2.0, 3.0]


@case("suspectsOf flags ratio+floor breaches only, against thick history only")
def _():
    bands = {"big": sorted([4.0, 4.1, 3.9, 4.2, 4.0]),   # median 4.0
             "tiny": [0.1] * 5,                          # median 0.1
             "thin": [1.0, 1.0]}                         # < SUSPECT_MIN_HISTORY
    # the r17 case: 12.46 vs band ~4 -> flagged with the band evidence
    assert suspect_hits({"big": 12.46}, bands) == [("big", 12.46, 4.0, 5)]
    # the r15 case: 6.4 vs band ~4 (1.6x) — a 2.0 bar missed it
    assert [h[0] for h in suspect_hits({"big": 6.4}, bands)] == ["big"]
    assert suspect_hits({"big": 4.5}, bands) == []       # in band
    # ratio breached but under the absolute floor (3.5x, +0.25 s)
    assert suspect_hits({"tiny": 0.35}, bands) == []
    # floor cleared but ratio not: diffuse-weather drift
    assert suspect_hits({"big": 5.1}, bands) == []
    # thin history and unknown queries never flag
    assert suspect_hits({"thin": 99.0, "new": 99.0}, bands) == []


@case("lineQueryMins takes per-sample mins from a comparable line")
def _():
    d = _line({"d57_containment": 4.0, "q01": 1.0})
    assert comparable(d) and cohort(d) == (32, 0.1, True)
    assert query_mins(d) == {"d57_containment": 4.0, "q01": 1.0}
    assert derive([d])[1][(32, 0.1, True)]["bands"] == {
        "d57_containment": [4.0], "q01": [1.0]}


@case("lineQueryMins rejects foreign-cohort and dirty lines")
def _():
    runs = [_line({"q01": 1.0}, clean=False),            # dirty: never a band
            _line({"q01": 2.0}, cpus=8),                 # foreign cpus
            _line({"q01": 3.0}, sf=0.01),                # foreign sf
            _line({"q01": 4.0}, mode="unordered"),       # other headline
            _line({"q01": 5.0}, sf=None),                # no sf: no cohort
            {"cpus": 32}]                                # garbage: never fatal
    _, cohorts = derive(runs)
    assert cohorts[(32, 0.1, True)]["bands"] == {}
    assert cohorts[(8, 0.1, True)]["bands"] == {"q01": [2.0]}
    assert cohorts[(32, 0.01, True)]["bands"] == {"q01": [3.0]}
    # an unordered headline is judged against unordered lines only
    assert cohorts[(32, 0.1, False)]["bands"] == {"q01": [4.0]}
    assert len(cohorts) == 4


@case("lineQueryMins reads the round-13 string-cpus and queries-only vintages")
def _():
    string_cpus = {"mode": "both", "cpus": "32", "sf_num": 0.1,
                   "samples": {"q01": [2.0, 1.5]}, "noncomparable": False}
    queries_only = {"mode": "both", "cpus": 32, "sf_num": 0.1,
                    "queries": {"q01": 1.25}, "noncomparable": False}
    for d, want in ((string_cpus, 1.5), (queries_only, 1.25)):
        assert cohort(d) == (32, 0.1, True) and comparable(d)
        assert query_mins(d) == {"q01": want}


@case("SELFTEST: a synthetic d57 spike over a clean history produces the marker")
def _():
    # six comparable lines with d57 in its ~4s band, one dirty line and
    # one foreign-cohort line that must not dilute the median
    hist = [_line({"d57_containment": v, "q01": 1.0}, ts=_ts(i))
            for i, v in enumerate([3.9, 4.0, 4.1, 4.2, 4.0, 4.05])]
    hist += [_line({"d57_containment": 30.0}, clean=False),
             _line({"d57_containment": 30.0}, cpus=8)]
    spike = _line({"d57_containment": 12.46, "q01": 1.05}, ts=_ts(9))
    rec = derive(hist + [spike])[0][-1]
    # the r17 driver capture replayed: only the spiked query flags
    assert [s[:4] for s in rec["suspects"]] == [
        ("d57_containment", 12.46, 4.025, 6)]
    calm = _line({"d57_containment": 4.5, "q01": 1.05}, ts=_ts(9))
    assert derive(hist + [calm])[0][-1]["suspects"] == []


@case("openLeadsOf: a rerun-repeated suspect is an open lead, with provenance")
def _():
    # the r18 q42 shape: min 3.22 vs band ~2.03, in-run rerun 3.58
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), sha="c" * 40,
                 noncomparable=False, suspect_detail={"q42": {"rerun": 3.58}})
    assert _open(_q42_history() + [lead]) == {
        "q42": {"min": 3.22, "rerun": 3.58, "origin": (_ts(10), "c" * 40)}}
    # a timing-core line records no rerun: its suspect is open
    bare = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), sha="c" * 40)
    assert _open(_q42_history() + [bare]) == {
        "q42": {"min": 3.22, "rerun": None, "origin": (_ts(10), "c" * 40)}}


@case("openLeadsOf: self-cleared and unflagged lines carry no open lead")
def _():
    # in-run rerun back in band (the q10 firing's shape): weather
    cleared = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10),
                    suspect_detail={"q42": {"rerun": 2.1}})
    assert _open(_q42_history() + [cleared]) == {}
    # no suspect at all
    assert _open(_q42_history() + [_line({"q42": 1.96}, ts=_ts(10))]) == {}
    # a dirty line is not evidence: it opens no lead
    dirty = _line({"q42": 30.0}, ts=_ts(10), clean=False)
    assert _open(_q42_history() + [dirty]) == {}


@case("lastOpenLeads: adjacent comparable line only; dirty lines skipped")
def _():
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10))
    dirty = _line({"q42": 30.0, "q01": 1.0}, ts=_ts(11), clean=False)
    after = _line({"q42": 1.96, "q01": 1.0}, ts=_ts(12))
    # a disturbed run neither adjudicates nor closes the lead
    recs, cohorts = derive(_q42_history() + [lead, dirty])
    assert recs[-1]["leads"] == [] and set(cohorts[(32, 0.1, True)]["open"]) == {"q42"}
    # the next comparable line closes it, whatever its own content
    assert _open(_q42_history() + [lead, dirty, after]) == {}


@case("carry-forward: an unadjudicated prior lead (verdict null) stays open")
def _():
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), sha="c" * 40)
    carrier = _line({"q01": 1.0}, ts=_ts(11), sha="d" * 40, failed=["q42"])
    after = _line({"q42": 1.96, "q01": 1.0}, ts=_ts(12))
    recs, cohorts = derive(_q42_history() + [lead, carrier, after])
    want = {"min": 3.22, "rerun": None, "origin": (_ts(10), "c" * 40)}
    # the line where q42 failed cannot judge it: verdict null, and the
    # lead carries forward with its ORIGINAL evidence
    assert recs[-2]["leads"] == [("q42", want, None, None)]
    # the next line adjudicates it, from the carrier
    assert recs[-1]["leads"] == [("q42", want, 1.96, "refuted")]
    assert recs[-1]["src"][:2] == (_ts(11), "d" * 40)
    assert cohorts[(32, 0.1, True)]["open"] == {}


@case("scanHistory: one pass yields the bands, last leads, and clean reference")
def _():
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), sha="c" * 40)
    dirty = _line({"q42": 30.0, "q01": 1.0}, ts=_ts(11), clean=False)
    recs, cohorts = derive(_q42_history() + [lead, dirty])
    st = cohorts[(32, 0.1, True)]
    assert st["bands"]["q42"] == [1.9, 2.0, 2.0, 2.05, 2.1, 2.1, 3.22]
    assert set(st["open"]) == {"q42"}
    # the lead line is not reference-grade (its headline carries the
    # spike): the dirty line's reference is the newest clean line before
    assert recs[-1]["last_clean"]["ts"] == _ts(5)
    assert recs[-2]["last_clean"]["ts"] == _ts(5)


@case("adjudicate: re-flagged = confirmed, in-band = refuted, failed = null")
def _():
    assert lead_verdict("q42", {"q42": 1.96}, set(), set()) == "refuted"
    assert lead_verdict("q42", {"q42": 3.3}, {"q42"}, set()) == "confirmed"
    assert lead_verdict("q42", {}, set(), {"q42"}) is None


@case("adjudicate: a lead whose query left the registry retires")
def _():
    assert lead_verdict("old_name", {"q42": 1.96}, set(), set()) == "retired"
    # and a retired verdict closes the carry
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10))
    renamed = _line({"q42_new": 2.0, "q01": 1.0}, ts=_ts(11))
    recs, cohorts = derive(_q42_history() + [lead, renamed])
    assert recs[-1]["leads"][0][3] == "retired"
    assert cohorts[(32, 0.1, True)]["open"] == {}


@case("END-TO-END: the q42 incident replayed — next comparable line refutes")
def _():
    # six clean in-band lines, the open-lead line, one dirty line after
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), noncomparable=False,
                 suspect_detail={"q42": {"rerun": 3.58}})
    dirty = _line({"q42": 30.0, "q01": 1.0}, ts=_ts(11), clean=False)
    hist = _q42_history() + [lead, dirty]
    # the real outcome: 1.96 on the next fresh run -> refuted
    rec = derive(hist + [_line({"q42": 1.96, "q01": 1.0}, ts=_ts(12))])[0][-1]
    assert [(q, v) for q, _, _, v in rec["leads"]] == [("q42", "refuted")]
    assert rec["src"] == (_ts(10), "b" * 40, True)
    # ...and at 3.3 it IS re-flagged against the same bands -> confirmed
    rec = derive(hist + [_line({"q42": 3.3, "q01": 1.0}, ts=_ts(12))])[0][-1]
    assert [(q, v) for q, _, _, v in rec["leads"]] == [("q42", "confirmed")]


@case("priorSuspectJson: evidence + origin + verdict + src, parseable, null-safe")
def _():
    # the adjudication record: the lead's evidence and origin, this
    # run's min and verdict, and the adjudicated line with whether this
    # run is a fresh process relative to it
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), sha="c" * 40,
                 noncomparable=False, suspect_detail={"q42": {"rerun": 3.58}})
    warm = _line({"q42": 1.96, "q01": 1.0}, ts=_ts(11), sha="c" * 40, jvm_run=2)
    rec = derive(_q42_history() + [lead, warm])[0][-1]
    assert rec["leads"] == [("q42", {"min": 3.22, "rerun": 3.58,
                                     "origin": (_ts(10), "c" * 40)},
                             1.96, "refuted")]
    assert rec["src"] == (_ts(10), "c" * 40, False)     # same-JVM repeat
    # a query that failed here: no min, no verdict
    failed = _line({"q01": 1.0}, ts=_ts(11), failed=["q42"])
    rec = derive(_q42_history() + [lead, failed])[0][-1]
    assert [(m, v) for _, _, m, v in rec["leads"]] == [(None, None)]
    # nothing open: no record, no src
    rec = derive(_q42_history())[0][-1]
    assert rec["leads"] == [] and rec["src"] is None


@case("suspectJson: names + per-query evidence + rerun, parseable, null-safe")
def _():
    hist = [_line({"d57_containment": v, "q01": 1.0}, ts=_ts(i))
            for i, v in enumerate([3.9, 4.0, 4.1, 4.2, 4.0, 4.05])]
    spike = _line({"d57_containment": 12.46, "q01": 1.0}, ts=_ts(9),
                  noncomparable=False,
                  suspect_detail={"d57_containment": {"rerun": 4.51}})
    assert derive(hist + [spike])[0][-1]["suspects"] == [
        ("d57_containment", 12.46, 4.025, 6, 4.51)]
    # no recorded rerun (or a non-number one): None, "unadjudicated"
    spike = dict(spike, suspect_detail={"d57_containment": {"rerun": "x"}})
    assert derive(hist + [spike])[0][-1]["suspects"][0][4] is None
    assert derive(hist)[0][-1]["suspects"] == []


@case("origin: a carried lead keeps the MEASURING line's ts/sha, two hops deep")
def _():
    lead = _line({"q42": 3.22, "q01": 1.0}, ts=_ts(10), sha="a" * 40)
    hop1 = _line({"q01": 1.0}, ts=_ts(11), sha="b" * 40, failed=["q42"])
    hop2 = _line({"q01": 1.0}, ts=_ts(12), sha="d" * 40, failed=["q42"])
    after = _line({"q42": 3.3, "q01": 1.0}, ts=_ts(13), sha="e" * 40)
    rec = derive(_q42_history() + [lead, hop1, hop2, after])[0][-1]
    (q, l, _, verdict), = rec["leads"]
    # bisect from where the evidence was measured, not from a carrier
    assert l["origin"] == (_ts(10), "a" * 40) and verdict == "confirmed"
    assert rec["src"][:2] == (_ts(12), "d" * 40)


@case("non-finite guard: 1e999 in history parses away; serializers emit null")
def _():
    mangled = json.loads('{"mode":"both","cpus":32,"sf_num":0.1,'
                         '"samples":{"q01":[1e999],"q02":[2.0]},'
                         '"queries":{"q03":1e999},"noncomparable":false}')
    assert query_mins(mangled) == {"q02": 2.0}
    assert num(float("nan")) is None and num(True) is None and num(1.5) == 1.5


@case("last_clean: non-reference-grade lines carry the reference; reference-grade don't")
def _():
    ref = _line({"q01": 52.45}, ts=_ts(1), sha="c" * 40, jvm_run=2)
    recs, _ = derive([_line({"q01": 9.0}, ts=_ts(0), clean=False), ref,
                      _line({"q01": 74.16}, ts=_ts(2), clean=False),
                      _line({"q01": 52.0}, ts=_ts(3))])
    # no reference-grade line before: None
    assert recs[0]["last_clean"] is None
    # a reference-grade line IS the reference: it names none
    assert recs[1]["last_clean"] is None and recs[3]["last_clean"] is None
    # the storm line names the trusted number, jvm_run included
    assert recs[2]["last_clean"] is ref and ref["jvm_run"] == 2


@case("referenceGrade: the emit gate mirrors the CleanRef read rule (r19 ADVICE)")
def _():
    def grade(d, suspects=()):
        return reference_grade(d, {"comparable": comparable(d),
                                   "suspects": list(suspects)})
    assert grade(_line({"q01": 1.0}))
    # dirty or unknown covariates: never reference-grade
    assert not grade(_line({"q01": 1.0}, clean=False))
    assert not grade(dict(_line({"q01": 1.0}), noncomparable=None))
    # a failed query (the -1.0 headline) or a suspect in the sum
    assert not grade(_line({"q01": 1.0}, failed=["q99"]))
    assert not grade(_line({"q01": 1.0}), suspects=[("d57", 9.0, 4.0, 6, None)])


@case("last_clean: only a reference-grade line qualifies as the trusted number")
def _():
    suspect = _line({"q42": 3.3, "q01": 1.0}, ts=_ts(10))
    failed = _line({"q01": 1.0}, ts=_ts(11), failed=["q99"])
    dirty = _line({"q42": 2.0, "q01": 1.0}, ts=_ts(12), clean=False)
    recs, _ = derive(_q42_history() + [suspect, failed, dirty])
    # the suspect-inflated and the failed line are skipped
    assert [r["last_clean"]["ts"] for r in recs[-3:]] == [_ts(5)] * 3


@case("bandVerdict: the r19 59.36s shape — above the band, diffuse")
def _():
    base = {"q{:02d}".format(i): 2.0 for i in range(1, 11)}
    cand = dict(base, **{"q{:02d}".format(i): 2.26 for i in range(1, 10)})
    assert classify(list(ratios(base, cand).values())).startswith(
        "DIFFUSE elevation (90% of queries > 1.05x, median 1.13x)")


@case("bandVerdict: one hot plan over a calm median — concentrated")
def _():
    base = {"q{:02d}".format(i): 2.0 for i in range(1, 11)}
    cand = dict(base, q10=5.0)
    assert classify(list(ratios(base, cand).values())).startswith(
        "CONCENTRATED elevation (median 1.00x but max 2.50x)")


@case("bandVerdict: below the band, diffuse — the re-anchor signal")
def _():
    rs = [0.9] * 10
    assert classify(rs).startswith("DIFFUSE speed-up (100% of queries")
    assert classify([0.9] * 6 + [1.0] * 4).startswith("comparable")   # 60% < 70%


@case("bandVerdict: one much-faster plan over a calm median — concentrated below")
def _():
    assert classify([1.0] * 9 + [0.25]).startswith(
        "CONCENTRATED speed-up (median 1.00x but min 0.25x)")


@case("bandVerdict: per-query evidence not backing the excursion — comparable")
def _():
    assert classify([1.01] * 10).startswith("comparable (median 1.01x)")
    assert classify([1.2] * 6 + [1.0] * 4).startswith("comparable")   # 60% < 70%
    assert classify([1.0, 1.01, 0.99]).startswith("comparable")


@case("bandVerdict: every gate — in-band, dirty, foreign cohort, failed, thin")
def _():
    # the gates that remain with --compare (the anchor band and its
    # in-band and dirty-run gates are gone): sub-floor base mins are
    # timer noise, a failed candidate query gives no ratio, nothing in
    # common classifies nothing, and dirty or foreign-cohort lines never
    # fold into a --band base
    assert ratios({"a": 0.01, "b": 2.0}, {"a": 1.0, "b": 2.0}) == {"b": 1.0}
    assert ratios({"a": 2.0}, {}) == {} and classify([]) == "no common queries"
    import contextlib
    import io
    cand = _line({"a": 1.0}, sha="e" * 40)
    runs = [_line({"a": 2.0}), _line({"a": 0.5}, clean=False),
            _line({"a": 0.1}, cpus=8), _line({"a": 0.1}, sf=0.001)]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert band_runs(runs, "b", like=cand) == runs[:1]
    assert "dropped 2 run(s)" in out.getvalue()   # counted out loud


@case("bandShaMins: cohort minima at ONE sha; foreign shas and dirty lines excluded")
def _():
    runs = [_line({"d57": 4.0, "q01": 1.0}),
            _line({"d57": 3.8, "q01": 1.0}),
            _line({"d57": 2.0}, clean=False),           # dirty: excluded
            _line({"d57": 1.0}, sha="c" * 40)]          # foreign sha
    assert cohort_mins(band_runs(runs, "b" * 40)) == {"d57": 3.8, "q01": 1.0}
    assert cohort_mins(band_runs(runs, "b" * 8)) == {"d57": 3.8, "q01": 1.0}
    # an empty prefix never matches everything; an empty cohort refuses
    for prefix in ("", "f"):
        try:
            band_runs(runs, prefix)
            raise AssertionError("band_runs({!r}) must exit".format(prefix))
        except SystemExit:
            pass


@case("query_mins: min of samples, pre-samples queries fallback")
def _():
    assert query_mins({"samples": {"a": [2.0, 1.0]}}) == {"a": 1.0}
    assert query_mins({"queries": {"a": 3.0}}) == {"a": 3.0}
    assert query_mins({"samples": {"a": [1.0]},
                       "queries": {"a": 9.9, "b": 2.0}}) == {"a": 1.0, "b": 2.0}


@case("scan-cost canary: a 200-line, 74-query history scans in trivial time")
def _():
    import time
    qs = ["q{:02d}_synthetic".format(i) for i in range(1, 75)]
    runs = [_line({q: 0.5 + (i * 7 + j) % 100 / 50.0 for j, q in enumerate(qs)},
                  ts=_ts(0)) for i in range(200)]
    t0 = time.perf_counter()
    _, cohorts = derive(runs)
    elapsed = time.perf_counter() - t0
    st = cohorts[(32, 0.1, True)]
    assert len(st["bands"]) == 74 and all(len(b) == 200 for b in st["bands"].values())
    assert elapsed < 10.0, "derive over 200x74 took {:.1f} s".format(elapsed)


@case("summary renders every vintage, including lines carrying in-run blocks")
def _():
    import contextlib
    import io
    old = json.loads(
        '{"ts":"2026-08-15T03:00:00Z","sha":"' + "c" * 40 + '","jvm_run":1,'
        '"mode":"both","cpus":32,"sf_num":0.1,"value":74.16,'
        '"queries":{"q42":15.0},"failed":[],"suspect":["q42"],'
        '"suspect_detail":{"q42":{"min":15.0,"band_median":2.0,"n":70,"rerun":null}},'
        '"prior_suspect":{"q42":{"prior_min":3.22,"prior_rerun":3.58,"min":null,'
        '"verdict":null}},"prior_suspect_src":null,'
        '"band_verdict":{"side":"above","class":"diffuse"},'
        '"last_clean":{"value":52.45,"in_band":false},'
        '"steal_delta":2411,"noncomparable":true}')
    runs = ([{"mode": "both", "samples": {"q01": [1.0]}, "queries": {"q01": 1.0},
              "failed": [], "value": 1.0},                       # pre-covariate
             {"cpus": "32", "sf_num": 0.1, "mode": "both"}, old]  # string cpus
            + _q42_history()
            + [_line({"q42": 3.22, "q01": 1.0}, ts=_ts(10)),
               _line({"q01": 1.0}, ts=_ts(11), failed=["q42"]),
               _line({"q42": 30.0, "q01": 1.0}, ts=_ts(12), clean=False)])
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        summary(runs)
    text = out.getvalue()
    assert len(text.splitlines()) >= len(runs) + 1
    for want in ("suspect q42", "open lead", "unadjudicated (failed here)",
                 "last clean: 3.10 @ bbbbbbbb"):
        assert want in text, want


def selftest():
    """Run every case; one line each. Exit status 1 when any fails."""
    failed = 0
    for name, fn in CASES:
        try:
            fn()
            print("ok: " + name)
        except Exception as e:   # noqa: BLE001 — report every case
            failed += 1
            print("FAIL: {}\n    {}: {}".format(name, type(e).__name__, e))
    if failed:
        print("selftest FAILED ({} of {} cases)".format(failed, len(CASES)))
        sys.exit(1)
    print("selftest OK ({} cases)".format(len(CASES)))


if __name__ == "__main__":
    args = sys.argv[1:]
    # --file PATH: read another line file of the history's shape
    path = "BENCH_HISTORY.jsonl"
    if "--file" in args:
        i = args.index("--file")
        if i + 1 >= len(args):
            sys.exit("--file needs a path")
        path = args[i + 1]
        del args[i:i + 2]
    try:
        if args and args[0] == "--selftest":
            selftest()
        elif args and args[0] == "--compare":
            rest = args[1:]
            if rest and rest[0] == "--band":
                if len(rest) != 3:
                    sys.exit("--compare --band SHA_PREFIX CAND_TS")
                compare(load(path), [], rest[2], band=rest[1])
            elif len(rest) >= 2:
                compare(load(path), rest[:-1], rest[-1])
            else:
                sys.exit("--compare needs base ts prefix(es) — or "
                         "--band SHA_PREFIX — plus a candidate ts")
        elif args and args[0] == "--suspect-replay":
            rest = args[1:]
            if rest and len(rest) != 2:
                sys.exit("--suspect-replay [CPUS SF] (default 32 0.1)")
            if rest:
                suspect_replay(load(path), int(rest[0]), float(rest[1]))
            else:
                suspect_replay(load(path))
        elif args:
            one_query(load(path), args[0])
        else:
            summary(load(path))
    except BrokenPipeError:
        # downstream |head closed the pipe mid-print — normal, not an
        # error; swap stdout for devnull so interpreter teardown doesn't
        # print a second traceback trying to flush
        import os
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(0)
