#!/bin/bash
# Direct JVM launcher for graft mains (same flags as build.sbt javaOptions).
# Classes resolve from this script's own checkout (build it first with
# `sbt compile`), so a copy of the repository launches its own build; the
# Spark jars are the ones build.sbt compiles against (its unmanagedBase).
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$HERE/build.sbt")"
if [ -z "$JARS" ]; then
  echo "run_graft.sh: no 'unmanagedBase := file(\"...\")' line in $HERE/build.sbt" >&2
  exit 1
fi
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Xmx${SPARK_DRIVER_MEM:-8g} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$HERE/target/scala-2.13/classes:$JARS/*" "$@"
