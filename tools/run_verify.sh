#!/bin/bash
# Local stand-in for the driver's verify step: run graft.Verify on a scale dir.
# Usage: tools/run_verify.sh [sfdir] [outdir]
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
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
rm -rf "$OUT"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} exec java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
