#!/usr/bin/env bash
# Full local gate: compile, unit/property/streaming tests, driver-shaped
# correctness (Verify + DuckDB compare), smoke, and a bench sample.
set -euo pipefail
cd "$(dirname "$0")/.."

# No step may change a tracked file: compare the tracked tree's state (status
# and diff, so a developer's own uncommitted edits do not count) at the start
# and at the end.
tracked_state() { git status --porcelain --untracked-files=no; git diff; }
tracked_at_start=$(tracked_state)

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

echo "== correctness vs DuckDB oracle at 2 partitions: the iterative operators, LSH and PageRank"
# The one-job-per-step learners (unigram LM, kCenterGreedy) and mmrDiversify
# fold per-partition results on the driver; the MinHash-LSH self-join
# (q32) and the PageRank loop (q131, q138) sum and join across shuffles.
# The full Verify above runs them at the default core count, this pass at
# 2, so each is oracle-checked at two partition counts.
rm -rf /tmp/graft_ci_vout2
SPARK_GRAFT_CPUS=2 SPARK_GRAFT_ONLY=q32_neardup_minhash_lsh,q131_pagerank_hosts,q138_personalized_pagerank,q141_mmr_diversify,q159_kcenter_coreset,q218_unigram_lm_vocab,q220_unigram_lm_em,q223_unigram_lm_train,q226_unigram_fertility,q231_unigram_lm_soft_em,q234_unigram_lm_train_soft \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_ci_vout2"
python3 scripts/check.py /root/testdata/sf0.01 /tmp/graft_ci_vout2

echo "== smoke (flagship entry + streaming)"
sbt -batch "runMain graft.Smoke" | grep "\[smoke\]"

echo "== bench (sf0.1): one line per query, total_summary last, build jobs only where listed"
# The queries that still run Spark jobs while their DataFrame is built: each
# holds an operator that loops on the driver (ROADMAP item 2). Table reads
# take their schema from the parquet footer and run no job. Recorded from a
# Bench run at sf0.1. This list may only shrink: a query outside it that
# reports build_jobs > 0 fails the gate.
BUILD_JOB_QUERIES="
  q102_multimodal_binary q128_semantic_dedup q131_pagerank_hosts
  q138_personalized_pagerank q141_mmr_diversify q144_hits_hubs_authorities
  q147_label_propagation q158_embed_outlier_gate q159_kcenter_coreset
  q160_trimmed_mean q162_kmeans_int q165_leakage_safe_split
  q167_random_projection q176_audio_segments q180_image_patches
  q183_bpe_merges q184_bpe_vocab_freq q187_bpe_segment_apply
  q192_bpe_compression_by_source q193_token_budget_select
  q196_cluster_representatives q200_vocabulary_growth
  q203_decontaminate_ngram q208_pq_ann q209_kn_bigram_gate
  q210_perceptron_quality q212_ivfadc_ann q214_bm25_hard_negatives
  q215_fertility_by_script q216_perplexity_tertiles q218_unigram_lm_vocab
  q219_decontamination_audit q220_unigram_lm_em q223_unigram_lm_train
  q224_kn_trigram_gate q225_decontamination_ingest_gate
  q226_unigram_fertility q231_unigram_lm_soft_em q232_pack_bins_salvage
  q233_pack_salvage_report q234_unigram_lm_train_soft q54_ivf_search
  q65_decontaminate_near q67_dedup_clusters q79_bloom_pruned_join"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" |
  BUILD_JOB_QUERIES="$BUILD_JOB_QUERIES" python3 -c '
import json, os, sys
lines = [l for l in sys.stdin.read().splitlines() if l.startswith("{")]
if not lines:
    sys.exit("[ci.sh] bench: no JSON line on stdout")
s = json.loads(lines[-1])
queries = [q for q in map(json.loads, lines) if q.get("kind") == "query"]
if s.get("metric") != "total_summary" or s.get("fails") != 0 or len(queries) != s.get("n"):
    sys.exit("[ci.sh] bench: last line %s, %d query lines" % (lines[-1], len(queries)))
listed = set(os.environ["BUILD_JOB_QUERIES"].split())
unlisted = sorted(q["query"] for q in queries if q["build_jobs"] > 0 and q["query"] not in listed)
if unlisted:
    sys.exit("[ci.sh] bench: build jobs in queries outside BUILD_JOB_QUERIES: " + ", ".join(unlisted))
print(lines[-1])'

echo "== no tracked file changed"
if [ "$(tracked_state)" != "$tracked_at_start" ]; then
  echo "[ci.sh] tracked files changed during the gate:" >&2
  git status --porcelain --untracked-files=no >&2
  exit 1
fi
echo "CI OK"
