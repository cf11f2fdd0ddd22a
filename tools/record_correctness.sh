#!/bin/bash
# Self-recorded correctness: run the driver contract (graft.Verify) at
# sf0.01, compare every query against the DuckDB oracle with the exact
# mirror of the driver's check (tools/compare_oracle.py), and write the
# summary to CORRECTNESS_LOCAL.md — committed each round so a
# driver-side artifact failure (round 9's CORRECTNESS_r09.json arrived
# as `{}`) can never erase the round's correctness signal again.
#
# Usage: tools/record_correctness.sh [round-label]
set -euo pipefail
cd "$(dirname "$0")/.."
label="${1:-unlabeled}"
out=/tmp/verify_correctness_local
sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 $out" >/tmp/verify_cl.log 2>&1
fails=$(grep -c '^\[verify\].*failed' /tmp/verify_cl.log || true)
python3 tools/compare_oracle.py /root/testdata/sf0.01 "$out" \
  > /tmp/compare_cl.log 2>/dev/null || true
summary=$(tail -1 /tmp/compare_cl.log)
{
  echo "# CORRECTNESS_LOCAL — self-recorded oracle compare"
  echo
  echo "Round label: $label"
  echo "Date: $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  echo "Command: graft.Verify /root/testdata/sf0.01 + tools/compare_oracle.py"
  echo
  echo "Result: **$summary** (verify-side dump errors: $fails)"
  echo
  fail_lines=$(grep -E '^(FAIL|REFUSED)' /tmp/compare_cl.log || true)
  if [ -n "$fail_lines" ]; then
    echo "Failures and oracle refusals:"
    echo '```'
    echo "$fail_lines"
    echo '```'
  else
    echo "Failures: none."
  fi
  echo
  echo "Full per-query log: regenerate with" \
    '`tools/record_correctness.sh` (writes /tmp/compare_cl.log).'
} > CORRECTNESS_LOCAL.md
echo "wrote CORRECTNESS_LOCAL.md: $summary"
