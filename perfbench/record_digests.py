#!/usr/bin/env python3
"""Record the result digests that the suite workloads check against.

Usage, from the root of a checkout:
  python3 perfbench/record_digests.py [--out DIR]

1. Runs every SparkEntry query once (perfbench.Main --mode record), dumping
   each result as parquet plus oracle_sql.json into DIR and printing each
   result's digest.
2. Compares the dump with scripts/check.py, the DuckDB oracle compare, for
   at most CHECK_TIMEOUT_S seconds.
3. Writes perfbench/expected/sf0.1.tsv: name, status, rows, digest. Status
   is `ok` when check.py passed the result, `fail` when it failed it, and
   `unchecked` when the oracle gave no verdict (for example a DuckDB query
   that did not finish within the time limit). The benchmark compares every
   `ok` and `unchecked` digest, and counts every `fail` query as failed.
"""
import argparse
import os
import subprocess
import sys

import run

CHECK_TIMEOUT_S = 3600


def verdicts(lines):
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("ok", "FAIL"):
            out[parts[1].rstrip(":")] = "ok" if parts[0] == "ok" else "fail"
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=os.path.join(run.WORK, "record"))
    a = ap.parse_args(argv)

    sf = run.testdata_dir()
    run.build()
    p = subprocess.run(run.java_cmd() + ["--mode", "record", "--sf", sf, "--out", a.out,
                                          "--work", run.WORK, "--cpus", str(os.cpu_count())],
                       cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        run.fail("record run failed")
    records = run.of_kind(run.parse_records(p.stdout.splitlines()), "record")

    try:
        p = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"),
                            sf, a.out], stdout=subprocess.PIPE, text=True,
                           timeout=CHECK_TIMEOUT_S)
        status = verdicts(p.stdout.splitlines())
    except subprocess.TimeoutExpired as e:
        status = verdicts((e.stdout or b"").decode().splitlines())

    rows = []
    for r in sorted(records, key=lambda r: r["query"]):
        if "digest" not in r:
            rows.append((r["query"], "fail", 0, "-"))
        else:
            rows.append((r["query"], status.get(r["query"], "unchecked"), r["rows"], r["digest"]))
    with open(run.EXPECTED, "w") as f:
        f.write("# query\tstatus\trows\tdigest, written by perfbench/record_digests.py\n")
        for row in rows:
            f.write("\t".join(map(str, row)) + "\n")
    counts = {s: sum(1 for r in rows if r[1] == s) for s in ("ok", "fail", "unchecked")}
    print(f"wrote {len(rows)} digests to {run.EXPECTED}: {counts}")


if __name__ == "__main__":
    main()
