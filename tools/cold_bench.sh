#!/usr/bin/env bash
# Cold-scratch BENCH datum (round 16, VERDICT r15 task 5).
#
# cold_cert.sh proves `sbt test` from cold scratch; every committed bench
# run still started from warm or same-session-rebuilt memo artifacts, so
# the warm_artifacts ledger priced the REBUILD cost, not the true
# first-session cost (cold page cache for the fixture scans feeding the
# builds, cold janino/JIT for the build plans, cold memo/staging dirs).
# This script wipes every scratch/memo base the engine can read from and
# runs the FULL bench once in a fresh forked JVM: the run's
# `warm_artifacts.secs` column then IS the cold-start ledger — the worst-case first-session tax, committed next
# to the warm numbers in BASELINE.md.
#
# Wiped bases (identical to cold_cert.sh; nothing under /root/testdata
# or the repo is touched):
#   /dev/shm/graft_io /dev/shm/graft-memo /tmp/graft_io /tmp/graft-memo
#
# Usage: tools/cold_bench.sh [out.json]     # default bench/BENCH_COLDSCRATCH_latest.json
# Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); SPARK_GRAFT_CPUS passes through
set -u
cd "$(dirname "$0")/.."
OUT="${1:-bench/BENCH_COLDSCRATCH_latest.json}"

echo "COLDBENCH wipe: $(date -u +%FT%TZ)"
for d in /dev/shm/graft_io /dev/shm/graft-memo /tmp/graft_io /tmp/graft-memo; do
  if [ -e "$d" ]; then
    du -sh "$d" 2>/dev/null | sed 's/^/COLDBENCH   pre-wipe /'
    rm -rf "$d"
  fi
  echo "COLDBENCH   wiped $d"
done

echo "COLDBENCH bench (cold JVM, cold scratch)"
# absolute out paths pass through; relative ones anchor at the repo root
case "$OUT" in /*) OUT_ABS="$OUT";; *) OUT_ABS="$(pwd)/$OUT";; esac
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_BENCH_OUT="$OUT_ABS" \
sbt -batch "runMain graft.Bench"
rc=$?
echo "COLDBENCH exit=$rc out=$OUT"
exit $rc
