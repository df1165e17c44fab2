#!/usr/bin/env python3
"""The engine's benchmark, one command per run:

    python3 perfbench/run.py --workload cpc --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark
from source (once per source state, into .bench_build/), starts a fresh
JVM that sets up the workload and runs it closed-loop on the sf0.1 data,
checks every output, and prints the metrics. With --trace 0 the last
stdout line holds the end-to-end metrics; with --trace 1 it holds the
per-layer metrics, and the spans go to .bench_runs/. See README.md.
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
SF_DIR = os.environ.get("GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
JVM_TIMEOUT_S = 170
UNMEASURED = (
    "Tables time: the loaders only build lazy plans and the scans run inside "
    "exec jobs, so the layer reports bytes and rows, not seconds",
    "parMap overlap: it runs inside a query, so it shows only as "
    "queries.job_overlap above 1",
    "streaming.state_bytes is 0 when the streams a workload runs are stateless")
# what spark-submit would add on JDK 17 (the engine's build.sbt lists the same)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, names in os.walk(d):
            dirnames[:] = sorted(x for x in dirnames if x not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark with sbt; returns the
    runtime classpath. Reuses the last build when no source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources next to perfbench/; "
                         "run from the repository root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            prev = json.load(f)
        if prev["digest"] == digest:
            return prev["classpath"]
    log("building engine and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def data_fingerprint():
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()


def canon_digest(cols, rows):
    """oracle_check.py's canonical form (columns by name, floats to 9
    significant digits, rows sorted), hashed."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "nan" if v != v else f"{v:.9g}"
        return "null" if v is None else str(v)
    canon = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()


def check_first_outputs(raw):
    """query -> whether its first output is correct: equal to the DuckDB
    oracle where the registry has one, otherwise non-empty. Oracle
    results are cached in .bench_build/ by SQL and data fingerprint."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    cache_dir = os.path.join(BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    fp = data_fingerprint()
    ok = {}
    first = {}
    for e in raw["execs"]:
        if e["error"] is None:
            first.setdefault(e["query"], e)
    for q in raw["queries"]:
        pq = glob.glob(os.path.join(raw["check_dir"], q, "*.parquet"))
        if q not in first or not pq:
            ok[q] = False
            continue
        if q not in raw["oracle"]:
            ok[q] = first[q]["rows"] > 0
            continue
        sql = raw["oracle"][q]
        key = hashlib.sha256((fp + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key)
        if os.path.exists(cached):
            with open(cached) as f:
                want = f.read()
        else:
            r = con.execute(sql)
            want = canon_digest([d[0] for d in r.description], r.fetchall())
            with open(cached, "w") as f:
                f.write(want)
        r = con.execute(f"SELECT * FROM read_parquet('{pq[0]}')")
        got = canon_digest([d[0] for d in r.description], r.fetchall())
        ok[q] = got == want
        if not ok[q]:
            log(f"{q}: output differs from the DuckDB oracle")
    return ok


def run_jvm(args, classpath, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = min(4, os.cpu_count() or 1)
    # A fixed heap and young generation: with G1 sizing the young
    # generation itself, runs took different paths (45 to 260 young GCs)
    # and warm pass times moved by a quarter from run to run.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", SF_DIR, "--out", run_dir, "--cores", str(cores)])
    p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def job_spans(raw, spans):
    """Spark jobs as spans of the exec layer, parented by start time."""
    return [dict(id=100000 + j["id"], parent=j["parent"], name=f'job {j["id"]}',
                 layer="exec", start=j["start"], end=j["end"])
            for j in metrics.attach_jobs(spans, raw["jobs"]) if j["parent"] is not None]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"perfbench: data directory {SF_DIR} not found")
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        raw = run_jvm(args, classpath, run_dir)
        query_ok = check_first_outputs(raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, notes = metrics.end_to_end(raw, query_ok)
    for f in notes["failures"]:
        log("FAILED", f)
    out = e2e
    if args.trace:
        raw["spans"] += job_spans(raw, raw["spans"])
        out = metrics.per_layer(raw, raw["spans"])
        raw["self_s_by_layer"] = metrics.self_time_by_layer(raw["spans"])
        raw["per_layer"] = {k: v[0] for k, v in out.items()}
        for note in UNMEASURED:
            log("not measured from outside:", note)
    raw["end_to_end"] = {k: v[0] for k, v in e2e.items()}
    # the run's record (spans too, when traced), for looking into a number later
    record = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump(raw, f)
    log(f"run record written to {os.path.relpath(record, ROOT)}")
    for k, (v, unit) in out.items():
        extra = ""
        if k == "query_tail_s":
            extra = (f'  (p{notes["tail_percentile"]:g} of {notes["warm_samples"]} '
                     f'warm executions, {notes["beyond"]} beyond it)')
        elif k == "query_p50_s":
            extra = f'  ({notes["warm_samples"]} warm executions)'
        print(f"{k} {v:.6g} {unit}{extra}")
    print(json.dumps({
        "correct": not notes["failures"],
        "attempted": notes["attempted"],
        "failed": notes["attempted"] - notes["ok"],
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in out.items()},
    }))


if __name__ == "__main__":
    main()
