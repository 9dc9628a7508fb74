#!/bin/bash
# Round-close validation: everything the driver will grade, in one command.
#   bash tools/round_check.sh
# Exits non-zero on the first failure.
set -e
cd "$(dirname "$0")/.."

echo "== 1/6 full pytest suite =="
python -m pytest tests/ -q

echo "== 2/6 perfbench unit tests =="
python -m pytest perfbench/tests -q

echo "== 3/6 perfbench smoke: corpus_incremental, seed 1 (checks every output) =="
# run.py exits 1 on any failed output check; no pipe, so set -e sees it
SMOKE_OUT=$(mktemp)
python3 perfbench/run.py --workload corpus_incremental --seed 1 --seconds 10 \
    >"$SMOKE_OUT" 2>/dev/null || { tail -1 "$SMOKE_OUT"; exit 1; }
tail -1 "$SMOKE_OUT"
rm -f "$SMOKE_OUT"

echo "== 4/6 oracle mirror at sf0.01 (the correctness gate) =="
SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 python -m pytest tests/test_oracle.py -q

echo "== 5/6 oracle-hash dtype audit =="
python tools/audit_oracle_dtypes.py /root/testdata/sf0.001 2>/dev/null | tail -3

echo "== 5.5/6 physical-plan anti-pattern sweep =="
timeout 600 python tools/plan_audit.py 2>/dev/null | head -5

echo "== 6/6 bench (sf0.1, one JSON line) + 2x-per-query regression guard =="
BENCH_OUT=$(mktemp)
# bench.py's own exit status decides: a pipe into tail would drop
# timeout's 124 and leave bench_guard an empty file to choke on
run_bench() {
    local rc=0
    timeout 900 python3 bench.py 2>/dev/null >"$BENCH_OUT" || rc=$?
    if [ "$rc" -eq 124 ]; then
        echo "bench.py did not finish within 900 s"; exit 1
    elif [ "$rc" -ne 0 ]; then
        echo "bench.py failed with exit code $rc"; exit 1
    fi
    tail -1 "$BENCH_OUT" | tee "$BENCH_OUT.line"
    mv "$BENCH_OUT.line" "$BENCH_OUT"
}
run_bench
# One retry on guard failure: sub-second queries can catch a 1-2s
# scheduler/GC stall on a shared machine (observed: different queries
# flagged on consecutive runs); a REAL regression fails both runs.
python tools/bench_guard.py "$BENCH_OUT" || {
    echo "guard failed - one retry to rule out a transient stall"
    run_bench
    python tools/bench_guard.py "$BENCH_OUT"
}
rm -f "$BENCH_OUT"
