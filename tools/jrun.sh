#!/usr/bin/env bash
# Run a graft main class directly on the Spark jars (no sbt in the loop), so
# A/B runs can pin a PRESERVED classes dir while target/ keeps moving:
#   CLASSES=/tmp/classes_before tools/jrun.sh graft.Bench /tmp/bench_before 5 key1,key2
# Env: CLASSES (default target/scala-2.13/classes), SPARK_DRIVER_MEM
# (default 8g), plus the usual SPARK_GRAFT_* knobs read by the mains.
set -uo pipefail
REPO=$(cd "$(dirname "$0")/.." && pwd)
CLS=${CLASSES:-$REPO/target/scala-2.13/classes}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLS:/opt/spark/jars/*" "$@"
