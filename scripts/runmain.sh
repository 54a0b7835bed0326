#!/usr/bin/env bash
# Run a graft main directly on the compiled classes (no sbt lock) — lets a
# long Bench/Verify run proceed in parallel with sbt compile/test. Mirrors
# build.sbt's forked-run JVM flags exactly (JDK17 add-opens, UTC, no UI).
# Usage: scripts/runmain.sh graft.Bench [args...]   (env vars pass through)
#   e.g. scripts/runmain.sh graft.Bench --anchors  (the fresh-JVM anchor set)
set -euo pipefail
cd "$(dirname "$0")/.."
main="$1"; shift
opens=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
       java.nio java.util java.util.concurrent java.util.concurrent.atomic)
flags=()
for p in "${opens[@]}"; do flags+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  flags+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
# EXTRA_JAVA_OPTS: optional extra -D/-X flags (e.g. event-log profiling:
#   EXTRA_JAVA_OPTS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/sparklogs")
exec java "${flags[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${EXTRA_JAVA_OPTS:-} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$main" "$@"
