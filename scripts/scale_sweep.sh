#!/usr/bin/env bash
# Large-SF local sweep: run every SparkEntry query at a replicated scale
# factor (see scripts/scaleup.py) and dump results for check.py --json.
#
#   scripts/scale_sweep.sh [sfDir] [outDir]
#
# Runs OUTSIDE sbt on a frozen copy of target/scala-2.13/classes, so the
# sweep neither holds the sbt build lock nor breaks when the tree is
# recompiled mid-run. SPARK_GRAFT_NO_COALESCE keeps each query's final
# stage parallel (the driver's one-file-per-query coalesce(1) is a 32x
# de-parallelizer at sf1+); check.py globs *.parquet either way.
set -euo pipefail
SF_DIR=${1:-/tmp/testdata/sf1}
OUT=${2:-/tmp/verify_sf1}
MEM=${SPARK_DRIVER_MEM:-64g}
CLASSES=${GRAFT_SWEEP_CLASSES:-/tmp/graft_classes_sweep}
rm -rf "$CLASSES"
cp -r /root/repo/target/scala-2.13/classes "$CLASSES"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# 2m scan splits: the scaled corpora are one file per table; row-group-
# granular splitting (see scaleup.py) needs maxPartitionBytes <= group size.
# The ppjoin pre-flight budget is ARMED by default at sweep scale (2e8
# candidate rows — measured calibration: honest corpora bound well under
# it at these scales (13.9M at 500k CorpusGen, 47.4M at the sf1 driver
# corpus) while the saturated-vocabulary GC-death regime measured 492M): a too-dense corpus fails
# the one query loudly with the measured bound instead of killing the
# sweep JVM. Export SPARK_GRAFT_PPJOIN_BUDGET=0 to disarm.
exec env SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} SPARK_GRAFT_NO_COALESCE=1 \
  SPARK_GRAFT_MAX_PARTITION_BYTES=${SPARK_GRAFT_MAX_PARTITION_BYTES:-2m} \
  SPARK_GRAFT_PPJOIN_BUDGET=${SPARK_GRAFT_PPJOIN_BUDGET:-200000000} \
  SPARK_GRAFT_FFMPEG_FIXTURE=${SPARK_GRAFT_FFMPEG_FIXTURE:-$(cd "$(dirname "$0")" && pwd)/fake_ffmpeg.sh} \
  java $ADD_OPENS -Xmx"$MEM" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Verify "$SF_DIR" "$OUT"
