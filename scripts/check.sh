#!/usr/bin/env bash
# Full pre-round validation: unit+parity tests, driver-gate sweep at sf0.01,
# and the benchmark. Usage: scripts/check.sh [--quick]
set -euo pipefail
cd "$(dirname "$0")/.."

# The tier-1 command (ROADMAP.md), in a subshell so its environment stays
# out of the later steps: no -x, so a known batch-surface failure does not
# hide the relay tests behind it.
tier1() (
    export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
    python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
)

if [[ "${1:-}" == "--quick" ]]; then
    tier1
    exit 0
fi

echo "=== round-open: reconcile the driver's bench-record drop ==="
# The driver overwrites BENCH_FULL.json each round with its own (often
# slower-window) run; classify its movers by solo re-measure BEFORE the
# gate tests run, so "driver window vs tree" is decided by procedure.
# (No-op when the record has no unexcused movers.)
python scripts/reconcile_driver_bench.py || true

# Every gated step runs even when an earlier one failed; the script fails
# at the end, naming each step that failed.
failed=()
gate() {
    local name="$1"
    shift
    echo "=== $name ==="
    "$@" || failed+=("$name")
}

gate "unit + parity suite (tier-1)" tier1
gate "driver-gate parity (sf0.01)" \
    env ORACLE_PARITY_SF=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q
gate "bench (sf0.1, gated vs per-query best-ever committed)" python bench.py --check

if ((${#failed[@]})); then
    printf 'FAILED: %s\n' "${failed[@]}" >&2
    exit 1
fi
