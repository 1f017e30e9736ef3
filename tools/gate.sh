#!/bin/bash
# Commit gate: compile (main + test), run the full verify dump at sf0.001,
# and oracle-check it with DuckDB. Every commit must pass this first.
# When engine code (operators/queries/api/sources/functions/core/streaming)
# is touched, also run the plan-guard suites so a plan regression
# (unbounded window, lost broadcast, lost pushdown) can't land silently,
# and the codegen-cache suite so a recompiling warm pass or chained
# append can't either.
# Usage: tools/gate.sh [sfDir]   (default /root/testdata/sf0.001)
set -e -o pipefail
cd /root/repo
SF=${1:-/root/testdata/sf0.001}
sbt -batch 'Test/compile' 2>&1 | tail -5
ENGINE_TOUCHED=0
# collect FIRST, then grep a herestring: piping the git commands straight
# into grep -q is a SIGPIPE race under pipefail (grep exits on the first
# match, the still-writing git dies 141, the condition reads false) that
# silently skipped the plan-guard + bench gates whenever the match came
# early in the output
CHANGED=$({ git status --porcelain; git diff --name-only HEAD~1 2>/dev/null; } || true)
if grep -qE 'src/main/scala/graft/(operators|queries|api|sources|functions|core|streaming)/' \
    <<< "$CHANGED"; then
  ENGINE_TOUCHED=1
  echo "[gate] engine code touched -> running plan-guard suites"
  sbt -batch 'testOnly graft.PlanSpec graft.WindowGuardSpec graft.ScaleSpec graft.CodegenCacheSpec' 2>&1 \
    | grep -E 'Tests:|\*\*\*' | tail -2
fi
OUT=$(mktemp -d /tmp/gate.XXXXXX)
tools/run.sh graft.Verify "$SF" "$OUT" 2>&1 | grep -v '^2[0-9]' || true
# && / || so a failing check can't set -e us out before the cleanup
python3 tools/check.py "$SF" "$OUT" && rc=0 || rc=$?
rm -rf "$OUT"
[ $rc -ne 0 ] && exit $rc
# Bench-regression gate: full min-of-2 bench at sf0.1, each query compared
# against BENCH_BASELINE.json with >2x fail (calibration-normalized — see
# tools/benchgate.py). ON BY DEFAULT when engine code is touched (drift was
# proven to be host noise in BENCH_DRIFT.md, so the harness is trustworthy);
# adds ~4 min. Force with GATE_BENCH=1, skip with GATE_BENCH=0 (doc-only or
# emergency commits).
if [ "${GATE_BENCH:-$ENGINE_TOUCHED}" = "1" ]; then
  echo "[gate] bench regression check vs BENCH_BASELINE.json"
  # clear the record first: if this run crashes (or its best-effort
  # write fails), a stale file from a previous run must not be gated as
  # this run's record
  rm -f target/bench_latest.json
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    tools/run.sh graft.Bench > /dev/null 2>&1
  # gate on the full record (it carries the host shape); it stays under
  # target/ — archiving it into a tracked BENCH_*.json is a separate,
  # explicit step, so a gate run leaves the worktree clean
  python3 tools/benchgate.py target/bench_latest.json && rc=0 || rc=$?
fi
exit $rc
