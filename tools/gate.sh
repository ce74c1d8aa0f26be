#!/usr/bin/env bash
# Pre-commit gate: the one command to run before claiming anything works.
#
# Round-8 postmortem: a 30-query loader regression shipped because the
# builder's ritual checked pieces (a spec here, a query there) instead of
# the whole contract. This script runs the contract end-to-end at the
# fast scale factor and fails loudly on ANY regression:
#   0. perfbench's own unit tests (the benchmark harness: stats, guard,
#      oracle compare), and its JVM program compiled against src/main, so
#      a renamed engine entry point fails here, not in the benchmark run;
#      and no spec unsets a session conf key: a set-then-unset window wipes
#      a value set before the test, where SparkSpec.withConf restores it
#   1. sbt test            — every spec suite incl. AnalysisGuardSpec
#                            (schema drift guard + all-query analysis
#                            sweep); live counts echoed from sbt output
#   2. graft.Verify sf0.001 — every registered query executes and dumps
#   3. tools/check.py      — DuckDB oracle compare (rows/schema/hash)
#   4. steps 2-3 again with SPARK_GRAFT_SIM_EXACT=false: the banded
#                            similarity route, whose plans (candidate
#                            self-joins, final sorts) differ from the
#                            exact route's
#
# Usage: tools/gate.sh [sf]     (default 0.001; pass 0.01 for the
#                                full-size leg, ~6 min)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-0.001}"
OUT="/tmp/graft_gate_sf$SF"

echo "== gate: perfbench unit tests"
if ! PYLOG="$(PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench/tests 2>&1)"; then
  echo "$PYLOG" | tail -20
  echo "GATE FAILED: perfbench unit tests"; exit 1
fi
echo "$PYLOG" | tail -1

echo "== gate: perfbench JVM program compiles against src/main"
if ! PBLOG="$(PYTHONDONTWRITEBYTECODE=1 python3 - "$PWD" /tmp/graft_gate_perfbench 2>&1 <<'PY'
import os, sys
root, out = sys.argv[1], sys.argv[2]
sys.path.insert(0, os.path.join(root, "perfbench"))
from bench import build
print("perfbench classes:", build.ensure_built(root, out))
PY
)"; then
  echo "$PBLOG" | tail -20
  echo "GATE FAILED: perfbench build"; exit 1
fi
echo "$PBLOG" | tail -1

echo "== gate: spec conf windows restore (SparkSpec.withConf, never spark.conf.unset)"
if grep -rn "spark\.conf\.unset" src/test/scala; then
  echo "GATE FAILED: a spec unsets a conf key; use SparkSpec.withConf"; exit 1
fi

echo "== gate: sbt test"
TESTLOG="$(mktemp)"
if ! sbt -batch test >"$TESTLOG" 2>&1; then
  grep -E "Tests:|TESTS FAILED|\*\*\* FAILED|aborted" "$TESTLOG" | tail -20
  echo "GATE FAILED: sbt test"; exit 1
fi
grep -E "Tests:|All tests passed" "$TESTLOG" | tail -2
rm -f "$TESTLOG"

# Verify + DuckDB oracle compare on one similarity route.
# Usage: verify_route <route name> <SPARK_GRAFT_SIM_EXACT value>
verify_route() {
  local route="$1" out="$OUT-$1"
  echo "== gate: Verify sf$SF ($route route)"
  # Clear any previous run's output FIRST: a crashed Verify (compile error,
  # OOM) must leave nothing behind for the summary check and oracle compare
  # to read, or a stale green run would pass the gate silently.
  rm -rf "$out"
  # Verify exits nonzero on any query failure (default since round 11;
  # the SPARK_GRAFT_VERIFY_EXIT0=1 escape hatch is for external
  # harnesses and nothing here sets it — VerifyExitSpec pins both branches). The
  # summary-file re-check below is still the gate's real guard because
  # the grep pipeline swallows exit status.
  SPARK_GRAFT_SIM_EXACT="$2" sbt -batch "runMain graft.Verify /root/testdata/sf$SF $out" 2>&1 \
    | grep -E '\[verify' || true
  # The grep pipeline swallows sbt's exit status; re-check the summary file
  # so a swallowed exit can't sneak through (and a missing file fails here)
  python3 - "$out/verify_summary.json" <<'EOF'
import json, sys
s = json.load(open(sys.argv[1]))
if s["failed"] > 0:
    print(f"GATE FAILED: {s['failed']} queries threw: {s['failed_names']}")
    sys.exit(1)
print(f"verify ok: {s['attempted']} queries dumped")
EOF

  echo "== gate: DuckDB oracle compare ($route route)"
  python3 tools/check.py "/root/testdata/sf$SF" "$out" | tail -1
}

verify_route exact true
verify_route banded false

# main code-line count (ROADMAP item 10's metric), recorded with every run
echo "== GATE GREEN (sf$SF) — main code lines: $(tools/loc.sh)"
