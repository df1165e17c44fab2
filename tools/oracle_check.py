#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify output
against DuckDB oracles. Usage:
  python3 tools/oracle_check.py [sf_dir] [verify_out] [query_filter...]
(Expects Verify to have been run already into verify_out.)
"""
import json, math, sys, glob, os
import duckdb

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return f"{v:.9g}"
    if v is None: return "null"
    return str(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def selected(name, filters):
    """SparkEntry.selected's rule: an id picks itself and its `<id>_*`
    queries, so "q21" picks q21_* but not q210-q219."""
    return not filters or any(name == f or name.startswith(f + "_")
                              for f in filters)


def main():
    SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    FILTER = sys.argv[3:]

    TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # queries that threw in Verify: a rows-only one leaves no output dir
    # for the rows-only pass below to find, so count them from this list
    failed = set(json.load(open(f"{OUT}/failed.json")))

    fails = 0
    for name in sorted(failed):
        if selected(name, FILTER):
            print(f"FAIL {name}: threw in Verify (failed.json)"); fails += 1
    names = [n for n in sorted(oracle) if selected(n, FILTER)]
    for name in names:
        if name in failed: continue
        pq = glob.glob(f"{OUT}/{name}/*.parquet")
        if not pq:
            print(f"FAIL {name}: no spark output"); fails += 1; continue
        try:
            sres = con.execute(f"SELECT * FROM '{pq[0]}'")
            scols = [d[0] for d in sres.description]; srows = sres.fetchall()
            ores = con.execute(oracle[name])
            ocols = [d[0] for d in ores.description]; orows = ores.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: {str(ex)[:200]}"); fails += 1; continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: schema spark={sorted(scols)} oracle={sorted(ocols)}"); fails += 1; continue
        # The driver fetches oracle results through pandas, which coerces
        # DuckDB HUGEINT/DECIMAL (e.g. sum(BIGINT)) to float64 -> "15706.0"
        # vs Spark's "15706" -> hash mismatch. Flag such columns so the
        # oracle SQL gets an explicit CAST(... AS BIGINT).
        rel = con.sql(oracle[name])
        bad = [c for c, t in zip(rel.columns, [str(x) for x in rel.types])
               if t == "HUGEINT" or t.startswith("DECIMAL")]
        if bad:
            print(f"FAIL {name}: oracle cols {bad} are HUGEINT/DECIMAL "
                  f"(driver coerces to float64) — CAST to BIGINT"); fails += 1; continue
        cs, co = canon(scols, srows), canon(ocols, orows)
        if cs != co:
            print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}")
            for a, b in list(zip(cs, co))[:200]:
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}")
                    break
            fails += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    # rows-only queries (no oracle)
    for d in sorted(glob.glob(f"{OUT}/q*")):
        name = os.path.basename(d)
        if name in oracle or name in failed or not selected(name, FILTER): continue
        pq = glob.glob(f"{d}/*.parquet")
        n = con.execute(f"SELECT count(*) FROM '{pq[0]}'").fetchone()[0] if pq else 0
        print(f"{'PASS' if n > 0 else 'FAIL'} {name} (rows-only, {n} rows)")
        if n == 0: fails += 1
    print(f"\n{'ALL PASS' if fails == 0 else f'{fails} FAILURES'} ({len(names)} oracle-checked)")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
