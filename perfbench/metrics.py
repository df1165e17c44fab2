"""Turns one run's raw record (written by graft.perfbench.Main) into the
benchmark's end-to-end and per-layer metrics. Pure functions, no I/O."""
import math
import statistics

# Percentiles the tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99, 95, 90, 85, 80, 75, 70, 65, 60, 55, 50)
MIN_BEYOND = 10


def tail(values):
    """The highest ladder percentile with at least MIN_BEYOND samples
    above it, by nearest rank. Returns (value, percentile, n, beyond),
    or None when even the median has fewer than MIN_BEYOND above it."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= MIN_BEYOND:
            return xs[rank - 1], p, n, n - rank
    return None


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(clip(kids.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


def innermost(spans, t):
    """The shortest span containing time t (spans nest, so it is the
    innermost), or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]):
            best = s
    return best


def attach_jobs(spans, jobs):
    """Parents each Spark job to the innermost span open when it started.
    Queries run one at a time, so the attribution is exact."""
    out = []
    for j in jobs:
        p = innermost(spans, j["start"])
        out.append(dict(j, parent=p["id"] if p else None))
    return out


def driver_gap_and_overlap(query_spans, jobs):
    """For a list of query spans: total wall time not covered by any of
    their jobs, and (sum of job durations) / (union of job spans)."""
    gap = busy = covered = 0.0
    for q in query_spans:
        iv = clip([(j["start"], j["end"]) for j in jobs], q["start"], q["end"])
        u = union_ms(iv)
        gap += (q["end"] - q["start"]) - u
        busy += sum(e - s for s, e in iv)
        covered += u
    return gap / 1e3, (busy / covered if covered else 1.0)


def check_outputs(execs, query_ok):
    """Marks each execution ok when it did not throw, its content hash
    matches the query's first execution, and the query's first output
    passed its oracle or rows-only check. Returns (ok count, failures)."""
    first = {}
    ok, bad = 0, []
    for e in execs:
        if e["error"] is not None:
            bad.append(f'{e["query"]} pass {e["pass"]}: threw {e["error"]}')
            continue
        ref = first.setdefault(e["query"], e["hash"])
        if e["hash"] != ref:
            bad.append(f'{e["query"]} pass {e["pass"]}: output differs from pass 0')
        elif not query_ok.get(e["query"], False):
            bad.append(f'{e["query"]} pass {e["pass"]}: failed its oracle check')
        else:
            ok += 1
    return ok, bad


def wall(e):
    return e["build_s"] + e["plan_s"] + e["exec_s"]


def end_to_end(raw, query_ok):
    """The eight end-to-end metrics, plus notes for the tail and checks."""
    passes = raw["passes"]
    # a failed execution has no time; it counts as slower than any limit
    lat = [math.inf if e["error"] is not None else wall(e)
           for e in raw["execs"] if e["pass"] > 0]
    t = tail(lat)
    p50 = statistics.median(lat)
    if t is None or math.isinf(t[0]) or math.isinf(p50):
        raise ValueError(f"{len(lat)} warm executions, {lat.count(math.inf)} "
                         f"failed: no tail with {MIN_BEYOND} samples beyond it")
    ok, bad = check_outputs(raw["execs"], query_ok)
    io = raw["io"]
    metrics = {
        "setup_s": (raw["setup_s"], "s"),
        "first_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes[1:]), "s"),
        "query_p50_s": (p50, "s"),
        "query_tail_s": (t[0], "s"),
        "ok_frac": (ok / len(raw["execs"]), "ratio"),
        "peak_heap_mb": (raw["heap_end_mb"], "MB"),
        "stored_per_input": (io["written"] / io["read"], "ratio"),
    }
    notes = {"tail_percentile": t[1], "warm_samples": t[2], "beyond": t[3],
             "attempted": len(raw["execs"]), "ok": ok, "failures": bad}
    return metrics, notes


ARTIFACTS = ("release", "release_v2")


def per_layer(raw, spans):
    """Per-layer metrics from a traced run. Pass-scoped ones are per warm
    pass (the sum over warm passes divided by their number); set-up,
    kernel and JVM ones are for the whole run."""
    passes = raw["passes"]
    warm = passes[1:]
    w = len(warm)
    lo, hi = warm[0]["start_ms"], warm[-1]["end_ms"]
    jobs = [j for j in raw["jobs"] if lo <= j["start"] <= hi]
    qspans = [s for s in spans if s["layer"] == "queries" and s["name"].startswith("q")
              and lo <= s["start"] <= hi]
    gap, overlap = driver_gap_and_overlap(qspans, jobs)
    execs = [e for e in raw["execs"] if e["pass"] > 0 and e["error"] is None]
    c0, c1 = passes[0]["counters"], passes[-1]["counters"]
    delta = lambda k: (c1[k] - c0[k]) / w
    task_s = sum(j["run_ms"] for j in jobs) / 1e3
    pass_wall = sum(p["wall_s"] for p in warm)
    arts = {a["name"]: a for a in raw["artifacts"]}
    m = {
        "tables.scan_bytes": (sum(j["in_bytes"] for j in jobs) / w, "B"),
        "tables.scan_rows": (sum(j["in_rows"] for j in jobs) / w, "count"),
        "queries.build_s": (sum(e["build_s"] for e in execs) / w, "s"),
        "queries.plan_s": (sum(e["plan_s"] for e in execs) / w, "s"),
        "queries.exec_s": (sum(e["exec_s"] for e in execs) / w, "s"),
        "queries.jobs": (len(jobs) / w, "count"),
        "queries.driver_gap_s": (gap / w, "s"),
        "queries.job_overlap": (overlap, "ratio"),
        "queries.codegen_cold": (c0["codegen"] - raw["codegen_at_start"], "count"),
        "queries.codegen_per_pass": (delta("codegen"), "count"),
        "exec.tasks": (sum(j["tasks"] for j in jobs) / w, "count"),
        "exec.task_s": (task_s / w, "s"),
        "exec.task_cpu_s": (sum(j["cpu_ns"] for j in jobs) / 1e9 / w, "s"),
        "exec.busy_frac": (task_s / (pass_wall * raw["cores"]), "ratio"),
        "exec.shuffle_read_bytes": (sum(j["sh_read"] for j in jobs) / w, "B"),
        "exec.shuffle_write_bytes": (sum(j["sh_write"] for j in jobs) / w, "B"),
        "exec.spill_bytes": (sum(j["spill"] for j in jobs) / w, "B"),
        "exec.broadcast_bytes": (delta("broadcast_bytes"), "B"),
        "streaming.queries": (delta("stream_queries"), "count"),
        "streaming.batches": (delta("stream_batches"), "count"),
        "streaming.start_s": (delta("stream_start_s"), "s"),
        "streaming.batch_s": (delta("stream_batch_s"), "s"),
        "streaming.commit_s": (delta("stream_commit_s"), "s"),
        "streaming.state_bytes": (c1["state_bytes"], "B"),
        "artifacts.build_s": (sum(a["s"] for a in arts.values()), "s"),
        "artifacts.bytes": (sum(a["bytes"] for a in arts.values()), "B"),
        "scratch.bytes_peak": (raw["scratch_bytes_peak"], "B"),
        "scratch.dirs": (delta("scratch_dirs"), "count"),
        "jvm.gc_s": (c1["gc_s"], "s"),
        "jvm.gc_count": (c1["gc_count"], "count"),
        "jvm.jit_s": (c1["jit_s"], "s"),
        "jvm.heap_after_gc_mb": (statistics.median(p["heap_mb"] for p in warm), "MB"),
    }
    for name in ARTIFACTS:
        m[f"artifacts.{name}_s"] = (arts[name]["s"] if name in arts else 0.0, "s")
    for k, v in raw["kernels"].items():
        m[f"kernels.{k}"] = (v, "ns")
    return m


def self_time_by_layer(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / 1e3
    return out
