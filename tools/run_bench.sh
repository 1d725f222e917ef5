#!/bin/bash
# Local stand-in for the driver's bench step: run graft.Bench on a scale dir.
# Usage: SPARK_GRAFT_BENCH_REPS=2 [SPARK_GRAFT_ONLY=q1,q2] \
#          tools/run_bench.sh [sfdir] [bench_file] [xmx]
set -e
cd "$(dirname "$0")/.."
# `sbt compile` does not copy src/main/resources, so the sas7bdat data
# source registration can be missing from the classes dir: fail here
# rather than run every query and lose the ones that read sas7bdat.
SERVICES=target/scala-2.13/classes/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister
if [ ! -f "$SERVICES" ]; then
  echo "$(basename "$0"): $SERVICES is missing;" \
    "run 'sbt Compile/copyResources' (copies src/main/resources) and retry" >&2
  exit 1
fi
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-BENCH_local_last.json}
XMX=${3:-24g}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_FILE="$OUT" \
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} exec java $ADD_OPENS -Xmx"$XMX" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench
