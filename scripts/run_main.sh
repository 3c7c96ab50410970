#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (avoids sbt server lock contention when iterating).
# Classes come from the checkout this script lives in; Spark jars from
# $SPARK_HOME, else from the spark-submit on PATH.
# Usage: scripts/run_main.sh graft.QBench /root/testdata/sf0.1 q25_sql_surface
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
CP="$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
