#!/bin/bash
# Run a graft.tools main OUTSIDE sbt (keeps the sbt build lock free for
# concurrent dev work — long runs hold it for hours otherwise).
# Usage: tools/run_probe.sh <MainClass> [args...]
# The mains: graft.Bench --full (every registered query, timed by the gate's
# method; SPARK_GRAFT_ONLY=q1,q2 for a subset), graft.tools.Scratch (smoke
# run), graft.tools.JobProfile (per-job profile of a query).
# Mirrors build.sbt's fork JVM options (JDK17 --add-opens + Spark conf).
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
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
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
