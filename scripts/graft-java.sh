#!/usr/bin/env bash
# Direct-JVM launcher for graft mains — the same flags build.sbt forks
# with, minus sbt itself, so long evidence runs (Verify at 100x, corpus
# builds, sweeps) can run in parallel without fighting over sbt's
# project lock. Usage:
#   scripts/graft-java.sh [-mem 48g] graft.Verify <args...>
set -euo pipefail
# the checkout this script lives in, and the Spark jars its build names
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
MEM="${SPARK_DRIVER_MEM:-8g}"
if [ "${1:-}" = "-mem" ]; then MEM="$2"; shift 2; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  "$@"
