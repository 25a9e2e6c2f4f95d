#!/usr/bin/env bash
# Closing gates for a build round (run from the repo root, ideally on an
# idle box). Produces/refreshes the committed artifacts the judge reads:
#   PLAN_AUDIT.json   — full-registry physical-plan audit (zero flags)
#   BENCH_DETAIL.json — per-query sf0.1 timings (bench.py side effect)
# and prints a one-line summary per gate. Order matters: the Spark-free
# codec tests run first, as they take seconds and show a broken CRC or
# record parse before the long gates; then the bench, so its timings
# are not polluted by sweep/pytest contention.
set -u
cd "$(dirname "$0")/.."
SUMMARY=()
FAILED=0

echo "== gate 1/5: record codec tests (Spark-free) =="
python3 -m pytest -q tests/test_crc32c.py tests/test_golden_bytes.py \
  tests/test_produce_corrupt_fuzz.py tests/test_produce_malformed.py \
  tests/test_wire_properties.py > /tmp/gates_codec.log 2>&1
rc=$?; [ "$rc" -ne 0 ] && FAILED=1
SUMMARY+=("codec tests: rc=$rc, $(tail -1 /tmp/gates_codec.log)")

echo "== gate 2/5: bench (sf0.1, idle) =="
# The committed BENCH_DETAIL.json is refreshed HERE and only here —
# bench.py's no-env default is the round-stamped gitignored name so
# driver/judge runs leave git status clean (r12 VERDICT nit #4).
BENCH_DETAIL_PATH="$PWD/BENCH_DETAIL.json" python3 bench.py > /tmp/gates_bench.out 2>/tmp/gates_bench.err
rc=$?
line=$(tail -1 /tmp/gates_bench.out)
if echo "$line" | python3 -c "import sys,json; json.loads(sys.stdin.read())" && [ "$rc" -eq 0 ]; then
  SUMMARY+=("bench: rc=$rc, final line parses, $(echo "$line" | head -c 120)")
else
  SUMMARY+=("bench: rc=$rc, FINAL LINE DOES NOT PARSE"); FAILED=1
fi

echo "== gate 3/5: full plan audit =="
python3 scripts/explain_audit.py --json PLAN_AUDIT.json > /tmp/gates_audit.log 2>&1
rc=$?; [ "$rc" -ne 0 ] && FAILED=1
SUMMARY+=("plan audit: rc=$rc, $(tail -1 /tmp/gates_audit.log)")

echo "== gate 4/5: full oracle sweep (sf0.01) =="
python3 scripts/check_oracle.py /root/testdata/sf0.01 > /tmp/gates_oracle.log 2>&1
rc=$?; [ "$rc" -ne 0 ] && FAILED=1
n_ok=$(grep -aoE "OK  ?[a-zA-Z0-9_]+" /tmp/gates_oracle.log | awk '{print $2}' | sort -u | wc -l)
SUMMARY+=("oracle sweep: rc=$rc, ${n_ok} unique OK, tail: $(tail -1 /tmp/gates_oracle.log)")

echo "== gate 5/5: full pytest =="
# --durations=30 lists the slowest tests; the full output (that list
# included) stays in /tmp/gates_pytest_full.log next to the summary
set -o pipefail
python3 -m pytest tests/ -q --durations=30 2>&1 | tee /tmp/gates_pytest_full.log | tail -2 > /tmp/gates_pytest.log
rc=$?; set +o pipefail; [ "$rc" -ne 0 ] && FAILED=1
SUMMARY+=("pytest: rc=$rc, $(tail -1 /tmp/gates_pytest.log)")

echo
echo "==================== CLOSING GATES ===================="
for s in "${SUMMARY[@]}"; do echo "- $s"; done
exit "$FAILED"
