#!/usr/bin/env bash
# Full oracle sweep at BOTH gate SFs (r13, VERDICT r12 #7): the sf0.001 leg
# is cheap (~50 s) and caught the only correctness bug of r12
# (q_seasonal_profile's round(4) ulp tie) on its first-ever run — run it
# next to the sf0.01 gate every round, not just when chasing a repro.
#
# usage: scripts/verify_sweep.sh [query1,query2,...]
#   no args  = full 252-key sweep at sf0.001 + sf0.01
#   with arg = subset sweep (fast iteration). The output dir is WIPED per
#   run (a reused dir made the comparator score stale outputs from a prior
#   build as current — r13 review finding), and the comparator scores
#   exactly the keys run so a FAIL can never scroll out of the tail.
#
# Exits 1 if any compared key at either SF is not PASS (a key Verify wrote
# no output for included), after both legs have printed their reports.
set -euo pipefail
cd "$(dirname "$0")/.."
SUBSET="${1:-}"
STATUS=0
for SF in sf0.001 sf0.01; do
  OUT="/tmp/verify_sweep_$SF"
  rm -rf "$OUT"
  echo "== $SF =="
  # Verify logs `[verify] <key> ok in <t>s` or `[verify] <key> failed: <msg>`:
  # every failure's message, then the last few successes.
  LOG=$(SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    sbt -batch "runMain graft.Verify /root/testdata/$SF $OUT $SUBSET" \
    2>&1 | grep -E '\[verify\] [^ ]+ (ok in|failed:)' || true)
  echo "$LOG" | grep -E ' failed: ' || true
  echo "$LOG" | grep -E ' ok in ' | tail -3 || true
  # the comparator exits 1 on any non-PASS key; keep going to print it
  RC=0
  REPORT=$(python3 scripts/check_correctness.py "$OUT" "/root/testdata/$SF" ${SUBSET//,/ }) || RC=$?
  if [ -n "$SUBSET" ]; then
    # per-key exact lines: with the wiped dir, only the run keys can PASS
    for K in ${SUBSET//,/ }; do
      echo "$REPORT" | grep -E "^(PASS|FAIL) +$K( |\$)" \
        || { echo "NO-RESULT $K (check the Verify log above)"; STATUS=1; }
    done
  else
    echo "$REPORT" | grep -E "^FAIL" || true
    echo "$REPORT" | tail -1
  fi
  if [ "$RC" -ne 0 ]; then
    echo "== $SF FAILED (comparator exit $RC)"
    STATUS=1
  fi
done
exit "$STATUS"
