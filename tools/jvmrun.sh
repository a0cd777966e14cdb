#!/usr/bin/env bash
# Run a graft main against the compiled classes with EXACTLY the JVM flags
# sbt's fork applies (build.sbt javaOptions). Running bare `java` without
# the full add-opens set silently pushes Spark 4 off its Unsafe/unaligned
# fast paths — measured 2-30x inflation on shuffle-heavy queries (a whole
# sf0.1 bench read 99.5s vs 60s, r13) — so perf numbers from a bare JVM
# are garbage. Usage: tools/jvmrun.sh graft.Profile <fixture-dir> q45_dedup_clusters ...
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  "$@"
