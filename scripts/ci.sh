#!/usr/bin/env bash
# Full local gate: compile, unit/property/streaming tests, driver-shaped
# correctness (Verify + DuckDB compare), smoke, and a bench sample.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== repo-root hygiene lint"
# VERDICT r15 #2: a C-locale JVM turns non-ASCII argv into literal '?'s,
# and an out-path arg mix-up in the dump tools then creates a zero-byte
# junk file named e.g. 45 '?' characters at the repo root. The tools now
# refuse such paths (graft.tools.OutPath); this lint rejects any tracked
# repo-root file that is zero-byte or non-ASCII-named so a regression can
# never be committed again.
python3 - <<'PYEOF'
import os, subprocess, sys
bad = []
for f in subprocess.run(["git","ls-files","-z"],capture_output=True).stdout.split(b"\0"):
    if not f or b"/" in f:
        continue  # root-level files only
    if any(b > 126 or b < 32 for b in f) or b"?" in f:
        bad.append((f, "non-ASCII or '?' in name"))
    elif os.path.exists(f) and os.path.getsize(f) == 0:
        bad.append((f, "zero-byte"))
if bad:
    for f, why in bad:
        print(f"[ci.sh] repo-root hygiene: {f!r}: {why}", file=sys.stderr)
    sys.exit(1)
print("[ci.sh] repo-root hygiene: clean")
PYEOF

echo "== dictionary lint"
sbt -batch "runMain graft.tools.DictLint"

echo "== compile + test"
sbt -batch test

echo "== benchmark harness: run.py unit tests, perfbench build + tests"
# perfbench/ compiles all of src/main/scala next to its own sources, and the
# root build never compiles perfbench/: an engine change that breaks the
# benchmark's use of the engine API would otherwise pass this gate.
python3 -m unittest discover perfbench/tests
(cd perfbench && sbt -batch test)

echo "== benchmark pipeline_ops run: sf0.1 result digests, no cache left behind"
# Verify runs at sf0.01; this run is the only sf0.1 digest check of the
# pipeline panel (q116, q187, ...). Its last line is the result record; each
# per-query record carries cached_left, the CacheManager entries the query
# left behind, which must be 0 (no operator persist outlives its query).
python3 perfbench/run.py --workload pipeline_ops --seed 1 --seconds 20 |
  python3 -c '
import json, sys
lines = [l for l in sys.stdin.read().splitlines() if l.startswith("{")]
leaks = sorted({q["query"] for q in map(json.loads, lines)
                if q.get("kind") == "query" and q.get("cached_left", 0) > 0})
if leaks:
    sys.exit("[ci.sh] perfbench pipeline_ops: cache entries left by %s" % ", ".join(leaks))
r = json.loads(lines[-1])
if r.get("correct") is not True or r.get("failed") != 0:
    sys.exit("[ci.sh] perfbench pipeline_ops: correct=%s failed=%s" % (r.get("correct"), r.get("failed")))
print("[ci.sh] perfbench pipeline_ops: correct, 0 failed, no cache entry left")'

echo "== benchmark ja_tokenize run: top-50 golden counts, golden SEARCH lines"
# The only full-size check of the tokenizer kernel: the docs query's top-50
# token counts against the golden counts, and the SEARCH-lines fold and its
# golden lines against the kernel and JaGolden. Its last line is the result
# record.
python3 perfbench/run.py --workload ja_tokenize --seed 1 --seconds 20 |
  python3 -c '
import json, sys
lines = [l for l in sys.stdin.read().splitlines() if l.startswith("{")]
r = json.loads(lines[-1])
if r.get("correct") is not True or r.get("failed") != 0:
    sys.exit("[ci.sh] perfbench ja_tokenize: correct=%s failed=%s" % (r.get("correct"), r.get("failed")))
print("[ci.sh] perfbench ja_tokenize: correct, 0 failed")'

echo "== correctness vs DuckDB oracle (sf0.01)"
rm -rf /tmp/graft_ci_vout
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_ci_vout"
python3 scripts/check.py /root/testdata/sf0.01 /tmp/graft_ci_vout

echo "== correctness vs DuckDB oracle at 2 partitions: the iterative operators"
# The one-job-per-step learners (unigram LM, kCenterGreedy) and mmrDiversify
# fold per-partition results on the driver; the full Verify above runs them
# at the default core count, this pass at 2, so each is oracle-checked at
# two partition counts.
rm -rf /tmp/graft_ci_vout2
SPARK_GRAFT_CPUS=2 SPARK_GRAFT_ONLY=q141_mmr_diversify,q159_kcenter_coreset,q218_unigram_lm_vocab,q220_unigram_lm_em,q223_unigram_lm_train,q226_unigram_fertility,q231_unigram_lm_soft_em,q234_unigram_lm_train_soft \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_ci_vout2"
python3 scripts/check.py /root/testdata/sf0.01 /tmp/graft_ci_vout2

echo "== smoke (flagship entry + streaming)"
sbt -batch "runMain graft.Smoke" | grep "\[smoke\]"

echo "== bench (sf0.1)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" | grep '"metric"'
echo "CI OK"
