#!/usr/bin/env bash
# Full-gate regression net: run Verify + the DuckDB oracle compare at
# every scale factor (sf0.001 / 0.01 / 0.1). This is the cheap insurance
# against SCALE-fragile planted gates (a gate green at sf0.01 once
# flipped at sf0.1 when planted density fell with sf) — run it before
# landing a round.
#
# Usage: [OUT=dir] scripts/verify_sweep.sh [queryName ...]
#   (default: all queries). Outputs land in $OUT/verify_sf<sf>
#   (OUT defaults to target; a relative OUT is taken from the repo
#   root), so two sweeps can be kept side by side and
#   compared with `scripts/check.py <sfDir> <outDir> --against <otherDir>`.
set -euo pipefail
cd "$(dirname "$0")/.."

CP_FILE=/tmp/graft_cp.txt
if [ ! -s "$CP_FILE" ]; then
  sbt -batch "export Runtime/fullClasspath" | tail -1 > "$CP_FILE"
fi
CP="target/scala-2.13/classes:$(cat "$CP_FILE")"
OUT="${OUT:-target}"

ADD_OPENS=""
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$m=ALL-UNNAMED"
done
# driver heap: SPARK_DRIVER_MEM (as build.sbt's javaOptions), defaulting
# like the Tier-1 test command to half of MemTotal, clamped to 2-8 GB
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
JVM="$ADD_OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx$MEM"

sbt -batch compile >/dev/null

rc=0
for sf in 0.001 0.01 0.1; do
  outDir="$OUT/verify_sf$sf"
  echo "== Verify at sf$sf"
  java $JVM -cp "$CP" graft.Verify "/root/testdata/sf$sf" "$outDir" "$@" \
    2>/dev/null | tail -2
  python3 scripts/check.py "/root/testdata/sf$sf" "$outDir" "$@" | tail -3 || rc=1
done
exit $rc
