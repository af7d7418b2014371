#!/usr/bin/env bash
# Gated snapshot commit (VERDICT r9 "Next round" #4): round 9 committed
# lexeme changes with DictLint red, turning one TSV line into 3 failing
# oracle queries. This script is the only sanctioned way to take a
# work-in-progress snapshot: it runs the full local gate (scripts/ci.sh —
# lint, specs, Verify+DuckDB compare, smoke, bench) and REFUSES to commit
# unless the gate is green. The gate's summary lines are quoted in the
# commit body so the commit provably follows a green run.
#
# Usage: scripts/snapshot.sh "commit subject line"
set -uo pipefail
cd "$(dirname "$0")/.."

subject="${1:?usage: scripts/snapshot.sh \"commit subject\"}"

gate_log=$(mktemp /tmp/graft_gate.XXXXXX.log)
echo "== running full gate (scripts/ci.sh) — output: $gate_log"
if ! bash scripts/ci.sh >"$gate_log" 2>&1; then
  echo "== GATE RED — refusing to commit. Last 40 lines:"
  tail -40 "$gate_log"
  exit 1
fi

summary=$(grep -E "dictlint|All tests passed|ok, 0 fail|\[smoke\]|\"metric\"|CI OK" "$gate_log" \
  | sed 's/^\[info\] *//' | cut -c1-200)

git add -A
if git diff --cached --quiet; then
  echo "== nothing to commit (gate green, tree clean)"
  exit 0
fi
git commit -m "$(printf '%s\n\nGate (scripts/ci.sh) green before commit:\n%s\n' \
  "$subject" "$summary")"
echo "== snapshot committed behind a green gate"
