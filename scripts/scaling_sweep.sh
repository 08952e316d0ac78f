#!/usr/bin/env bash
# Measured scaling sweep: run the scale-sensitive headline queries at
# sf0.1 (driver testdata) and at 10x / 100x replicated corpora
# (graft.tools.ScaleGen), then print the per-query scaling report that
# SCALING.md's "Measured" section is built from.
#
# Usage: scripts/scaling_sweep.sh [outDir [queryName ...]]
#   outDir defaults to target/scale; extra args override the default
#   query list. SCALE_CORPUS_DIR reuses corpora generated under another
#   outDir (e.g. SCALE_CORPUS_DIR=target/scale for a second tranche).
set -euo pipefail
cd "$(dirname "$0")/.."

OUT="${1:-target/scale}"
[ $# -gt 0 ] && shift
if [ $# -gt 0 ]; then
  QUERIES=("$@")
else
  QUERIES=(q1_pricing_summary q3_shipping_priority q5_region_revenue
           dedup_exact dedup_minhash dedup_embedding knn_ivf
           sessionize window_agg_hourly)
fi
CORPUS="${SCALE_CORPUS_DIR:-$OUT}"
mkdir -p "$OUT"

CP_FILE=/tmp/graft_cp.txt
if [ ! -s "$CP_FILE" ]; then
  sbt -batch "export Runtime/fullClasspath" | tail -1 > "$CP_FILE"
fi
CP="target/scala-2.13/classes:$(cat "$CP_FILE")"

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

for f in 10 100; do
  if [ ! -d "$CORPUS/x$f" ]; then
    echo "== generating ${f}x corpus at $CORPUS/x$f"
    java $JVM -cp "$CP" graft.tools.ScaleGen /root/testdata/sf0.1 "$CORPUS/x$f" "$f" \
      2>/dev/null | tail -1
  fi
done

for dir in /root/testdata/sf0.1 "$CORPUS/x10" "$CORPUS/x100"; do
  tag=$(basename "$dir")
  echo "== bench at $tag"
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 \
    java $JVM -cp "$CP" graft.Bench "${QUERIES[@]}" 2>/dev/null | tail -1 \
    > "$OUT/bench_$tag.json"
  cp target/bench_detail.json "$OUT/detail_$tag.json"
done

python3 scripts/scaling_report.py "$OUT"
