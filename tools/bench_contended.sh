#!/usr/bin/env bash
# Driver-representative bench protocol (round 8, VERDICT r7 "what's
# missing" #1): reproduce the graded host's CPU contention locally so
# driver-vs-local inflation can be measured instead of guessed.
#
# The driver's BENCH runs land on a shared host (BASELINE.md: observed
# load > 2 with zero local users; per-query driver/local ratios 1.5-14x,
# concentrated on job-count-heavy queries at ~0.4 s per job start). This
# script replays that profile: N busy-loop hogs (default: half the
# cores) run at LOW priority alongside the bench — low priority matters,
# the external contention competes for cores but does not preempt the
# scheduler wholesale, and un-niced hogs would starve the JVM far beyond
# anything the driver shows.
#
# Usage: tools/bench_contended.sh [n_hogs] [out_json]
#   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and SPARK_GRAFT_CPUS
#   (default: GraftSession's) pass through to Bench.
set -euo pipefail
cd "$(dirname "$0")/.."

NHOGS="${1:-$(( $(nproc) / 2 ))}"
OUT="${2:-bench/BENCH_CONTENDED_latest.json}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"

hog_pids=()
cleanup() { kill "${hog_pids[@]}" 2>/dev/null || true; }
trap cleanup EXIT

echo "starting $NHOGS nice-19 CPU hogs" >&2
for _ in $(seq "$NHOGS"); do
  nice -n 19 bash -c 'while :; do :; done' &
  hog_pids+=($!)
done

# uptime before/after: records how loaded the host already was, so a run
# on an externally-busy machine is not misread as the hogs' doing
uptime >&2
sbt -batch "runMain graft.Bench"
uptime >&2

cp bench/BENCH_FULL_latest.json "$OUT"
echo "contended profile written to $OUT" >&2
