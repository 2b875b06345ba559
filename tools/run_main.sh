#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (useful when sbt's lock is held by a test run, and for
# soak tooling where JVM flags must match build.sbt's run config).
# usage: tools/run_main.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2–8 g (the
# same rule as the Tier-1 test command)
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
