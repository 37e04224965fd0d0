#!/bin/bash
# Run a graft main against the sbt-compiled classes WITHOUT holding the
# sbt lock: java -cp /opt/spark/jars/* + target/scala-2.13/classes, with
# the same JDK17 add-opens set build.sbt forks with. Usage:
#   tools/run_main.sh graft.Bench [args...]
# Env: SPARK_DRIVER_MEM (default 8g) and all SPARK_GRAFT_* dials pass
# straight through.
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_DRIVER_MAXRESULT must cover the probe-broadcast budget when a
# run raises SPARK_GRAFT_PROBE_BC_MB past ~1 GB: the per-slice
# broadcast collects through the driver and is bounded by this cap.
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.driver.maxResultSize="${SPARK_DRIVER_MAXRESULT:-1g}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
