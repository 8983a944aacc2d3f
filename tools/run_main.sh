#!/usr/bin/env bash
# Launch a graft main class directly (no sbt lock): same JDK17
# add-opens set as build.sbt's javaOptions. Usage:
#   tools/run_main.sh graft.BenchOne dedup04_minhash_lsh
# env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SWEEPS,
#      SPARK_DRIVER_MEM (default 8g),
#      SPARK_HOME (default /opt/spark; its jars/ are the classpath)
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" \
  "$@"
