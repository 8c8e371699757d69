#!/usr/bin/env python3
"""Benchmark harness: REST-to-files ETL, OLAP suite and LLM-operator suite.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload olap|llm|etl_e2e --seed N --seconds S --trace 0|1

It builds the engine and the harness from source (sbt, offline; cached
under .bench_build/ by a hash of the sources), makes the workload's inputs
from the seed, runs the JVM side (perfbench.Main), checks every output and
prints one JSON object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_HEAP = "3g"
DEADLINE_S = 175.0

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def source_files():
    """Everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die(f"no engine sources under {ROOT} (run from the root of a checkout)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(sha256(f).encode())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    if not shutil.which("sbt"):
        die("sbt not found")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file + ".tmp", "w") as f:
        f.write(stamp + "\n" + cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def check_tables():
    """The query workloads' tables must be the recorded bytes."""
    want = {}
    with open(os.path.join(HERE, "data", "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            want[name] = digest
    return [f"table {n} differs from SHA256SUMS" for n, d in sorted(want.items())
            if not os.path.isfile(os.path.join(DATA, n)) or sha256(os.path.join(DATA, n)) != d]


def make_catalog(seed, dest):
    """Generate the etl_e2e inputs twice and require identical bytes."""
    sys.path.insert(0, HERE)
    import catalog
    files, expect = catalog.generate(seed)
    again, _ = catalog.generate(seed)
    problems = [f"catalog file {n} differs between two generations of seed {seed}"
                for n in files if hashlib.sha256(files[n]).digest() !=
                hashlib.sha256(again[n]).digest()]
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for name, data in files.items():
        with open(os.path.join(dest, name), "wb") as f:
            f.write(data)
    expect["digest"] = hashlib.sha256(b"".join(
        hashlib.sha256(files[n]).digest() for n in sorted(files))).hexdigest()
    return expect, problems


def csv_rows(d):
    """Data rows of a Spark CSV output directory (one header per part file)."""
    n = 0
    for part in glob.glob(os.path.join(d, "part-*.csv")):
        with open(part, "rb") as f:
            lines = f.read().count(b"\n")
        n += max(0, lines - 1)
    return n


def check_etl(result, expect, out):
    """Every iteration's outputs against the generator's counts; returns
    (outputs checked, problems)."""
    import pyarrow.parquet as pq
    problems, checked = [], 0
    for run in result["info"].get("runs", []):
        checked += len(expect["rows"]) + len(expect["recap"])
        index = glob.glob(os.path.join(out, "bronze", "artist_index", f"run_id={run}", "*.parquet"))
        got = sum(pq.ParquetFile(f).metadata.num_rows for f in index)
        if got != expect["rows"]["artist_index"]:
            problems.append(f"{run} artist_index: {got} rows, expected {expect['rows']['artist_index']}")
        for name, want in expect["rows"].items():
            if name == "artist_index":
                continue
            d = os.path.join(out, run, f"{name}_{run}")
            got = csv_rows(d)
            if got != want:
                problems.append(f"{run} {name}: {got} rows, expected {want}")
        for name, want in expect["recap"].items():
            got = {}
            for part in glob.glob(os.path.join(out, run, f"{name}_{run}", "part-*.csv")):
                with open(part) as f:
                    for line in f.read().splitlines()[1:]:
                        k, v = line.split(",")
                        got[k] = int(v)
            if got != want:
                problems.append(f"{run} {name}: {got}, expected {want}")
    return checked, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_e2e", "olap", "llm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the query fingerprints to this file")
    ap.add_argument("--verified", help="with --record: graft.Verify output directory whose "
                    "dumps the fingerprints must match")
    a = ap.parse_args()
    start = time.monotonic()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    t0 = time.monotonic()
    problems, expect = [], None
    inputs = os.path.join(BUILD, "inputs", f"{a.workload}-{a.seed}")
    if a.workload == "etl_e2e":
        expect, problems = make_catalog(a.seed, inputs)
    else:
        problems = check_tables()
    inputs_s = time.monotonic() - t0

    result_file = os.path.join(work, "result.json")
    # A fixed heap and young generation keep peak RSS a measure of the work
    # rather than of heap resizing.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn768m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            # the loopback endpoint answers in two writes; without TCP_NODELAY
            # every page waits out a delayed ACK
            "-Dsun.net.httpserver.nodelay=true"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--data", DATA, "--inputs", inputs, "--work", work,
            "--fingerprints", os.path.join(HERE, "fingerprints.json"), "--result", result_file])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    if a.verified:
        cmd += ["--verified", os.path.abspath(a.verified)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0 or not os.path.isfile(result_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"JVM {'timed out' if rc is None else f'exited with {rc}'}")
    with open(result_file) as f:
        result = json.load(f)

    checked = 0
    if a.workload == "etl_e2e":
        checked, found = check_etl(result, expect, result["info"]["out"])
        problems += found
    failures = result["failures"] + problems
    failed = result["failed"] + len(problems)
    attempted = max(1, result["attempted"] + checked)

    names = None
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(spec):
        with open(spec) as f:
            names = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    metrics = {k: v for k, v in result["metrics"].items() if names is None or k in names}
    missing = [n for n in (names or []) if n not in metrics]
    failures += [f"metric {n} not measured" for n in missing]
    failed += len(missing)

    for f in failures[:20]:
        print(f"FAIL {f}")
    info = result["info"]
    print(f"workload={a.workload} seed={a.seed} cores={cores} passes={info.get('passes')} "
          f"inputs_s={inputs_s:.2f} check_s={info.get('check_s', 0):.2f} "
          f"failed_share={failed}/{attempted}={failed / attempted:.4f}")
    if "query_tail_percentile" in info:
        print(f"query_tail_s is {info['query_tail_percentile']} of "
              f"{info['query_tail_samples']} samples")
    if expect:
        print(f"catalog sizes={json.dumps(expect['sizes'])} digest={expect['digest'][:16]} "
              f"market={info.get('market')} page_size={info.get('page_size')} "
              f"rate_per_sec={info.get('rate_per_sec')}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        kept = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        os.replace(spans, kept)
        print(f"spans of the traced pass: {os.path.relpath(kept, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
