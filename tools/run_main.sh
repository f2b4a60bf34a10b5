#!/bin/bash
# Run any graft.* main outside sbt so the build JVM doesn't pollute the box
# during measurement/plan dumps. Session conf (UTC, UI off, ...) comes from
# graft.GraftSession. Usage: tools/run_main.sh graft.DumpPlans <args...>
cd "$(dirname "$0")/.." || exit 1
MAIN="$1"; shift
# src/main/resources too, so a tree built with a bare `sbt compile` (which
# does not copy resources into classes/) still finds e.g. the BPE merges
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$MAIN" "$@"
