#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (bypasses sbt fork; mirrors build.sbt's JDK17 add-opens flags).
# Usage: tools/run.sh <MainClass> [args...]
# Classes and resources come from this script's own checkout, so a copy
# of the repo runs its own build, not another checkout's.
cls="$1"; shift
root="$(cd "$(dirname "$0")/.." && pwd)"
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --add-modules=jdk.incubator.vector \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$root/target/scala-2.13/classes:$root/src/main/resources:/opt/spark/jars/*" \
  "$cls" "$@"
