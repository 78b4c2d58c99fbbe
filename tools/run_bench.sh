#!/usr/bin/env bash
# Dev-only bench-leg runner: mirrors build.sbt's forked-JVM options so
# `graft.Bench` runs identically to `sbt runMain` without sbt startup
# overhead. Usage:
#   SPARK_GRAFT_SF_DIR=/tmp/graft_sf3 SPARK_GRAFT_CPUS=32 \
#     SPARK_GRAFT_BENCH_SIDE=bench_sf3_r12.json tools/run_bench.sh
# Extra env knobs (SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_CONF,
# SPARK_DRIVER_MEM) pass straight through.
set -euo pipefail
cd "$(dirname "$0")/.."
# SPARK_GRAFT_CLASSES: optional classpath snapshot override so a long
# background leg can run against FROZEN classes while the working tree
# recompiles (sbt rewriting target/scala-2.13/classes under a running
# JVM risks NoClassDefFound on lazily-loaded classes mid-leg).
CP="${SPARK_GRAFT_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS ${SPARK_GRAFT_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:+UnlockDiagnosticVMOptions \
  -XX:GCLockerRetryAllocationCount=100 \
  -cp "$CP" "${@:-graft.Bench}"
