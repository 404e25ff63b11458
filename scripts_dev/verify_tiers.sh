#!/usr/bin/env bash
# Run both pytest tiers: the default tier (pytest.ini deselects
# `slow`), then the depth tier (`-m slow`). Prints one summary line
# per tier and exits non-zero if either tier fails or collects nothing.
#
#   scripts_dev/verify_tiers.sh              # whole suite, both tiers
#   scripts_dev/verify_tiers.sh tests/test_txn_*.py   # a subset
#
# Extra arguments are passed to both pytest runs (default: tests/).
set -u
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
targets=("$@")
[ ${#targets[@]} -eq 0 ] && targets=(tests/)
log_dir="$(mktemp -d)"
trap 'rm -rf "$log_dir"' EXIT

count() {  # count <word> <summary line>
    grep -oE "[0-9]+ $1" <<<"$2" | head -1 | cut -d' ' -f1 || true
}

status=0
summary=()
for tier in default slow; do
    marker=()
    [ "$tier" = slow ] && marker=(-m slow)
    log="$log_dir/$tier.log"
    timeout -k 10 2670 python -m pytest "${targets[@]}" -q \
        --continue-on-collection-errors -p no:cacheprovider "${marker[@]}" \
        >"$log" 2>&1
    rc=$?
    tail -n 30 "$log"
    last="$(grep -E '(passed|failed|error|no tests ran)' "$log" | tail -1)"
    p="$(count passed "$last")"; f="$(count failed "$last")"
    e="$(count error "$last")"; s="$(count skipped "$last")"
    summary+=("tier=$tier passed=${p:-0} failed=$(( ${f:-0} + ${e:-0} )) skipped=${s:-0} exit=$rc")
    [ "$rc" -ne 0 ] && status=1
done
printf '%s\n' "${summary[@]}"
exit "$status"
