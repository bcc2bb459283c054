#!/bin/bash
# Bare-java runner for the bench mains (sbt-free: no recompilation race
# while a long sweep runs). Usage: tools/runjava.sh <MainClass> [args...]
# Runs from the checkout that holds this script. The heap is
# $SPARK_DRIVER_MEM, or, when unset, half of MemTotal clamped to 2-8 GiB
# (the same default the test recipe derives).
set -e
cd "$(dirname "$0")/.."
if [ -z "$SPARK_DRIVER_MEM" ]; then
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
    </proc/meminfo 2>/dev/null || echo 2g)"
fi
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$SPARK_DRIVER_MEM" \
  -cp target/scala-2.13/classes:/opt/spark/jars/'*' "$@"
