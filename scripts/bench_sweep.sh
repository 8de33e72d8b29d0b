#!/usr/bin/env bash
# Full-suite Bench at a scaled SF dir (the BENCH_sf{1,10}_r* artifacts).
#
#   scripts/bench_sweep.sh [sfDir] [outJson] [runs] [cores,cores,...]
#
# Same frozen-classes pattern as scale_sweep.sh (no sbt lock, survives
# mid-run recompiles), same scan-split and budget knobs: 2 m
# maxPartitionBytes so the scaled corpora's row-group-packed files split
# (scaleup.py one-file relational tables; GenCorpus ~4 k-row files), and
# the ppjoin candidate budget armed at the calibrated 2e8 so a saturated
# corpus fails one query loudly instead of GC-killing the suite JVM.
#
# A comma-separated 4th arg runs the sweep once per core count (suffixing
# outJson with _c<n>) — the r12 verdict's c8-vs-c32 scaling sweep above
# the sf0.1 dispatch floor: at sf1+ the per-query c8/c32 ratio approaches
# the core ratio on data-bound queries, which the sf0.1 bench cannot show.
set -euo pipefail
SF_DIR=${1:-/tmp/testdata/sf10}
OUT=${2:-/tmp/bench_sweep.json}
RUNS=${3:-${SPARK_GRAFT_BENCH_RUNS:-1}}
if [[ -n "${4:-}" ]]; then
  IFS=',' read -ra CORES <<< "$4"
  for c in "${CORES[@]}"; do
    SPARK_GRAFT_CPUS=$c "$0" "$SF_DIR" "${OUT%.json}_c$c.json" "$RUNS"
  done
  exit 0
fi
MEM=${SPARK_DRIVER_MEM:-64g}
CLASSES=${GRAFT_BENCH_CLASSES:-/tmp/graft_classes_bench}
rm -rf "$CLASSES"
cp -r /root/repo/target/scala-2.13/classes "$CLASSES"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec env SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_BENCH_RUNS="$RUNS" \
  SPARK_GRAFT_BENCH_OUT="$OUT" \
  SPARK_GRAFT_MAX_PARTITION_BYTES=${SPARK_GRAFT_MAX_PARTITION_BYTES:-2m} \
  SPARK_GRAFT_PPJOIN_BUDGET=${SPARK_GRAFT_PPJOIN_BUDGET:-200000000} \
  SPARK_GRAFT_FFMPEG_FIXTURE=${SPARK_GRAFT_FFMPEG_FIXTURE:-$(cd "$(dirname "$0")" && pwd)/fake_ffmpeg.sh} \
  java $ADD_OPENS -Xmx"$MEM" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench
