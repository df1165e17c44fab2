#!/usr/bin/env bash
# Alternating parent/change pairs of the perfbench benchmark, summed up
# the way the pair rule judges a claimed gain.
#
#   tools/bench_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD SEED...
#
# PARENT_DIR and CHANGE_DIR are two checkouts of the repo (make the
# parent with `git archive`, not a worktree). For each seed the script
# runs `python3 perfbench/run.py --workload WORKLOAD --seed SEED
# --seconds <run_seconds of BENCHMARK.json> --trace 0` in both, one
# after the other: an even seed runs the parent first, an odd seed the
# change. Each run's JSON line goes to $BENCH_PAIRS_OUT (default
# tmp/bench_pairs under the current directory), and its stderr to a
# .log beside it.
#
# Each run's record, .bench_runs/WORKLOAD-seedSEED-trace0.json in its
# checkout, is copied beside its JSON line.
#
# Then, for each end-to-end metric of BENCHMARK.json, it prints each
# side's median and quartiles, the parent's quartile spread as a share
# of its median, and in how many pairs the change was better. A gain
# holds when the change is better in at least 9 of 10 pairs and the
# median gap exceeds the parent's quartile spread. Last, for each query
# of the workload, it prints each side's median warm execution (build
# + plan + exec, every warm pass of every run), the gap, and in how
# many pairs the change's own median was lower.
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,27p' "$0" >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
shift 3
out=${BENCH_PAIRS_OUT:-tmp/bench_pairs}
mkdir -p "$out"
out=$(cd "$out" && pwd)
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json")

run() { # side dir seed
  local f="$out/$1-$workload-$3"
  echo "[bench_pairs] $workload seed $3: $1" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0) 2>"$f.log" | tail -n 1 >"$f.json"
  cp "$2/.bench_runs/$workload-seed$3-trace0.json" "$f.record.json"
}

for seed in "$@"; do
  if [ $((seed % 2)) -eq 0 ]; then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
done

python3 - "$change/BENCHMARK.json" "$out" "$workload" "$@" <<'EOF'
import json, statistics, sys

bench, out, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
metrics = json.load(open(bench))["end_to_end"]

def load(side, seed):
    with open(f"{out}/{side}-{workload}-{seed}.json") as f:
        return json.load(f)["metrics"]

runs = {side: [load(side, s) for s in seeds] for side in ("parent", "change")}

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"{workload}: {len(seeds)} pairs, seeds {' '.join(seeds)}")
print(f"{'metric':<18}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
      f"{'gap':>9}{'parent IQR':>12}{'wins':>7}")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    p = [r[name]["value"] for r in runs["parent"]]
    c = [r[name]["value"] for r in runs["change"]]
    pq, cq = quartiles(p), quartiles(c)
    wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
    gap = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    iqr = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{name:<18}{fmt(pq):>30}{fmt(cq):>30}{gap:>+9.1%}{iqr:>12.1%}"
          f"{wins:>4}/{len(p)}")

def warm(side, seed):
    """query -> its warm execution times in one run (failed ones left out)"""
    with open(f"{out}/{side}-{workload}-{seed}.record.json") as f:
        execs = json.load(f)["execs"]
    by = {}
    for e in execs:
        if e["pass"] > 0 and e["error"] is None:
            by.setdefault(e["query"], []).append(
                e["build_s"] + e["plan_s"] + e["exec_s"])
    return by

recs = {side: [warm(side, s) for s in seeds] for side in ("parent", "change")}
queries = sorted(set().union(*recs["parent"], *recs["change"]))
print(f"\n{'query':<18}{'parent warm med':>16}{'change warm med':>16}"
      f"{'gap':>9}{'wins':>7}")
for q in queries:
    pooled = {side: [t for r in recs[side] for t in r.get(q, [])]
              for side in recs}
    if not pooled["parent"] or not pooled["change"]:
        print(f"{q:<18}  no warm executions on one side")
        continue
    pm, cm = (statistics.median(pooled[side]) for side in ("parent", "change"))
    wins = sum(statistics.median(c[q]) < statistics.median(p[q])
               for p, c in zip(recs["parent"], recs["change"])
               if q in p and q in c)
    print(f"{q:<18}{pm:>16.4f}{cm:>16.4f}{(cm - pm) / pm:>+9.1%}"
          f"{wins:>4}/{len(seeds)}")
EOF
