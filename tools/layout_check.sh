#!/usr/bin/env bash
# Layout-invariance check: the same queries at two core counts must
# give the same rows.
#
#   tools/layout_check.sh SF_DIR [OUT_DIR]
#
# Runs graft.Verify over the queries SPARK_GRAFT_ONLY selects (default:
# the ANN family plus the rows-only queries) twice, at
# SPARK_GRAFT_CPUS=1 and 4 (local[1] with 1 shuffle partition, local[4]
# with 4), into OUT_DIR/c1 and OUT_DIR/c4 (default OUT_DIR
# tmp/layout_check), with sbt as the environment configures it. It runs
# tools/oracle_check.py on both dumps, then compares a content hash of
# each rows-only output (a query with no oracle) across the two widths,
# over oracle_check.py's canonical row form. q102 is left out of that
# comparison: its draws are declared layout-dependent. Exit status 1
# when either oracle check fails or any hash differs. Relative paths
# are taken from the repository root.
set -uo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 1 ]; then
  sed -n '2,17p' "$0" >&2
  exit 2
fi
sf=$1
out=${2:-tmp/layout_check}
export SPARK_GRAFT_ONLY=${SPARK_GRAFT_ONLY:-q54,q114,q118,q172,q181,q187,q196,q203,q212,q213,q214,q217,q219,q63,q64,q65,q66,q76,q88,q91,q102}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-3g}

mkdir -p "$out"
filters=$(echo "$SPARK_GRAFT_ONLY" | tr ',' ' ')
status=0
for c in 1 4; do
  rm -rf "$out/c$c"
  echo "[layout_check] Verify at $c core(s) into $out/c$c" >&2
  SPARK_GRAFT_CPUS=$c sbt --batch -Dsbt.log.noformat=true \
    "runMain graft.Verify $sf $out/c$c" >"$out.c$c.log" 2>&1 \
    || { echo "[layout_check] Verify at $c failed, see $out.c$c.log" >&2; exit 1; }
  echo "=== oracle check at $c core(s) ==="
  python3 tools/oracle_check.py "$sf" "$out/c$c" $filters || status=1
done

echo "=== rows-only outputs across widths ==="
python3 - "$out/c1" "$out/c4" <<'EOF' || status=1
import glob, hashlib, json, os, sys
import duckdb
sys.path.insert(0, "tools")
from oracle_check import canon

LAYOUT_DEPENDENT = {"q102"}  # declared: its draws depend on the layout
a, b = sys.argv[1], sys.argv[2]
oracle = json.load(open(f"{a}/oracle_sql.json"))
con = duckdb.connect()

def digest(d, name):
    pq = glob.glob(f"{d}/{name}/*.parquet")
    if not pq:
        return None
    res = con.execute(f"SELECT * FROM '{pq[0]}'")
    cols = [x[0] for x in res.description]
    return hashlib.sha256(repr(canon(cols, res.fetchall())).encode()).hexdigest()

names = sorted({os.path.basename(p) for p in glob.glob(f"{a}/q*") + glob.glob(f"{b}/q*")}
               - set(oracle))
diff = skipped = 0
for name in names:
    if name.split("_")[0] in LAYOUT_DEPENDENT:
        print(f"SKIP {name} (declared layout-dependent)")
        skipped += 1
        continue
    h1, h4 = digest(a, name), digest(b, name)
    if h1 is not None and h1 == h4:
        print(f"SAME {name} {h1[:16]}")
    else:
        print(f"DIFF {name} 1 core {str(h1)[:16]} vs 4 cores {str(h4)[:16]}")
        diff += 1
print(f"\n{'LAYOUT-INVARIANT' if diff == 0 else f'{diff} LAYOUT-DEPENDENT'} "
      f"({len(names) - skipped} rows-only outputs compared, {skipped} skipped)")
sys.exit(1 if diff else 0)
EOF
exit $status
