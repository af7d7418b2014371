#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify first,
then this script compares each <out>/<name> parquet against the DuckDB result
of <out>/oracle_sql.json on the same sf dir.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
"""
import json, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def rows_of(rel):
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    names = [rel.columns[i] for i in cols]
    data = [tuple(norm(r[i]) for i in cols) for r in rel.fetchall()]
    return names, sorted(data, key=lambda t: tuple((x is None, str(x)) for x in t))

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    # surface no-oracle (rows-only) queries so they aren't silently invisible
    import os
    dumped = {d for d in os.listdir(out_dir) if not d.endswith(".json")}
    for name in sorted(dumped - set(oracle)):
        try:
            n = con.sql(f"SELECT count(*) FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchone()[0]
            print(f"rows-only {name}: {n} rows (no oracle)")
        except Exception as e:
            print(f"FAIL {name} (rows-only): {type(e).__name__}: {e}")
            n_bad += 1
    for name, sql in sorted(oracle.items()):
        try:
            got_names, got = rows_of(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            exp_names, exp = rows_of(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_bad += 1
            continue
        if got_names != exp_names:
            print(f"FAIL {name}: columns {got_names} != {exp_names}")
            n_bad += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rowcount {len(got)} != {len(exp)}")
            print(f"  spark[:3]={got[:3]}\n  duck[:3]={exp[:3]}")
            n_bad += 1
            continue
        bad = [(g, e) for g, e in zip(got, exp) if g != e]
        if bad:
            # name the diverging rows (VERDICT r9 #8): corpus-pinned queries
            # carry a sid column, so printing the rows localizes a stale pin
            # without a separate DictLint run
            print(f"FAIL {name}: {len(bad)}/{len(got)} rows differ; first {min(5, len(bad))}:")
            for g, e in bad[:5]:
                print(f"  spark={g}\n  duck ={e}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail")
    if n_ok + n_bad == 0:
        # an empty dump (e.g. a subset that selected nothing) checks nothing
        print("FAIL: no query compared")
        return 1
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
