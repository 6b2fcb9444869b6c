#!/bin/bash
# Direct-JVM runner for graft mains (e.g. `dev/run.sh graft.Verify
# <sfDir> <outDir>`) — same add-opens set as build.sbt, bypasses sbt so
# parallel runs don't contend on the project lock. Run `sbt compile`
# first: the classpath is sbt's class output.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
# Classpath derives from this script's checkout (not a hardcoded
# /root/repo) and SPARK_HOME overrides the default jar location.
REPO_ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_JARS="${SPARK_HOME:-/opt/spark}/jars"
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO_ROOT/target/scala-2.13/classes:$SPARK_JARS/*" "$@"
