#!/bin/bash
# Interleaved A/B: alternate bench runs between a baseline worktree binary
# (A) and the current tree's binary (B) on one query set, so machine drift
# lands on both sides — the only attribution protocol that works on this
# box (SCALE.md measurement notes). The side that runs first alternates:
# A then B on odd cycles, B then A on even cycles, so neither side always
# gets the warmer (or cooler) slot. 1 rep per run; min across cycles is
# taken per side by the analysis step.
#
# Usage: AB_QUERIES=q_a,q_b AB_CYCLES=3 AB_BASELINE=/root/wt_r17 \
#        tools/ab_interleave.sh /tmp/ab_prefix
set -e
PREFIX="${1:?output prefix}"
CYCLES="${AB_CYCLES:-3}"
BASE="${AB_BASELINE:-/root/wt_r17}"
HERE="$(cd "$(dirname "$0")/.." && pwd)"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-1}"
export SPARK_GRAFT_BENCH_ONLY="${AB_QUERIES:?AB_QUERIES required}"
# run_side A|B CYCLE — one bench run of that side; output names unchanged
run_side() {
  local tree="$HERE"
  if [ "$1" = A ]; then tree="$BASE"; fi
  SPARK_GRAFT_BENCH_OUT="${PREFIX}_$1$2.json" \
    "$tree/tools/run_bench_nolock.sh" > "${PREFIX}_$1$2.log" 2>&1
}
for i in $(seq 1 "$CYCLES"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_side A "$i"; run_side B "$i"
  else
    run_side B "$i"; run_side A "$i"
  fi
done
echo "done: ${PREFIX}_{A,B}{1..$CYCLES}.json"
