#!/usr/bin/env bash
# Seven-axis robustness battery (SURVEY.md §5.7). Regenerates the four
# perturbed fixtures from the current sf0.01 test data, then runs the full
# oracle differential on every axis in the driver's plain default session
# (tools/driver_sim.py):
#   1. ROBUST   (3x FK-consistent size)        driver_sim --sf-dir /tmp/pmr_robust
#   2. SKEW     (hot keys / dup cluster)       driver_sim --sf-dir /tmp/pmr_skew
#   3. CHARSET  (multi-byte + NFD text)        driver_sim --sf-dir /tmp/pmr_unicode
#   4. TEMPORAL (32x compressed clock)         driver_sim --sf-dir /tmp/pmr_temporal
#   5. sf0.001  (single-member groups)         driver_sim --sf-dir /root/testdata/sf0.001
#   6. default session, UTC (sf0.01)           driver_sim
#   7. default session, Asia/Tokyo (sf0.01)    TZ=Asia/Tokyo driver_sim
# Each fixture axis (1-5) also runs tests/test_oracle_diff.py over its
# fixture, in the tuned get_spark session that bench, the CLI and the
# server use (axis name + "_tuned"); at sf0.01 that test is tier-1.
# driver_sim prints "problems: 0" when green, pytest "N passed".
set -u
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/axis_battery}
mkdir -p "$OUT"

for g in robust skew unicode temporal; do
  python "tools/gen_${g}_fixture.py" > "$OUT/gen_${g}.log" 2>&1 \
    || { echo "FIXTURE GEN FAILED: $g"; exit 1; }
done
echo "fixtures regenerated"

fail=0
run() { # name, command...
  local name=$1 rc; shift
  echo "=== axis: $name"
  "$@" > "$OUT/$name.log" 2>&1
  rc=$?
  fail=$((fail + rc))
  echo "exit=$rc $(grep -E 'problems: [0-9]+| passed| failed' "$OUT/$name.log" | tail -1)"
}

fixture() { # name, sf dir
  run "$1" python tools/driver_sim.py --sf-dir "$2"
  run "$1_tuned" env SPARK_GRAFT_ORACLE_SF_DIR="$2" \
    python -m pytest -q -p no:cacheprovider tests/test_oracle_diff.py
}

fixture robust    /tmp/pmr_robust
fixture skew      /tmp/pmr_skew
fixture charset   /tmp/pmr_unicode
fixture temporal  /tmp/pmr_temporal
fixture sf0001    /root/testdata/sf0.001
run def_utc   python tools/driver_sim.py
run def_tokyo env TZ=Asia/Tokyo python tools/driver_sim.py
echo "battery complete; logs in $OUT; failed-axis exit sum=$fail"
exit $((fail > 0 ? 1 : 0))
