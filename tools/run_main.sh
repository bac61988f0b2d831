#!/bin/bash
# Launch a graft main from compiled classes without sbt (no project lock,
# no compile contention during timing runs).
# The heap defaults to half of MemTotal clamped to 2-8g (the Tier-1 rule);
# classes come from the checkout this script lives in.
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Xmx${SPARK_DRIVER_MEM:-$HEAP} \
  -Dspark.sql.codegen.cache.maxEntries=${SPARK_CODEGEN_CACHE:-8000} \
  -XX:ReservedCodeCacheSize=${SPARK_CODE_CACHE:-1g} \
  ${GRAFT_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$MAIN" "$@"
