#!/bin/bash
# Direct-JVM runner for graft mains: identical JVM flags to build.sbt's
# forked `run`, but without the sbt project lock or startup cost. Used by
# the optimization round for plan captures and targeted probes so a
# long-running sbt task (test/verify) never serializes a quick probe.
# Usage: tools/jrun.sh <mainClass> [args...]
set -euo pipefail
# Derive the repo root from this script's location (ADVICE r14) and make
# stale-binary runs VISIBLE: echo the newest-class mtime so a probe run
# after an uncompiled edit can be caught attributing numbers to the
# wrong binary. The probe is diagnostic only: `|| true` keeps a missing
# classes dir, or sort's SIGPIPE once head exits, from failing the script
# under pipefail.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes"
NEWEST=$(find "$CLASSES" -name '*.class' -printf '%TY-%Tm-%Td %TH:%TM:%TS\n' 2>/dev/null | sort -r | head -1 || true)
# Heap: SPARK_DRIVER_MEM, else half the host's memory clamped to 2-8g.
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)}"
echo "[jrun] classes: $CLASSES (newest class compiled: ${NEWEST:-none})" >&2
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CP" "$@"
