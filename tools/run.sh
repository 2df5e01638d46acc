#!/bin/bash
# Run a graft main class directly against compiled classes + /opt/spark/jars
# (bypasses sbt startup). Usage: tools/run.sh graft.Verify <sfdir> <outdir>
set -e
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Default heap: half the host's memory, clamped to 2-8g; SPARK_DRIVER_MEM overrides it.
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-$HEAP} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
