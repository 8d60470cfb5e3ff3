#!/bin/bash
# Run a graft main against the compiled classes without sbt (no project
# lock, so it can run alongside sbt compile/test). Usage:
#   tools/run_main.sh <MainClass> [args...]
# Env: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM (default: half of MemTotal,
# clamped to 2-8g). Session settings come from graft.Session.
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java -cp "$CP" $OPENS -Xmx"$MEM" "$@"
