#!/bin/bash
# Direct-java launcher for graft mains (bypasses sbt for parallel/long runs).
# Usage: tools/run_main.sh <MainClass> [args...]   (env: SPARK_DRIVER_MEM, SPARK_GRAFT_*)
set -euo pipefail
# Repo root from the script's own location — works from any checkout path;
# the classes dir is globbed so a Scala minor bump can't silently run stale
# classes from a hardcoded scala-2.13 path.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES=("$ROOT"/target/scala-*/classes)
[ -d "${CLASSES[0]}" ] || { echo "no compiled classes under $ROOT/target (run sbt compile)" >&2; exit 1; }
[ ${#CLASSES[@]} -eq 1 ] || { echo "ambiguous target dirs: ${CLASSES[*]} (clean stale scala-* dirs)" >&2; exit 1; }
CP="${CLASSES[0]}:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN="$1"; shift
exec java -cp "$CP" $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" "$MAIN" "$@"
