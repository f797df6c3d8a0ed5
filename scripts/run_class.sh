#!/bin/bash
# Run a compiled graft class directly (faster than sbt runMain):
#   scripts/run_class.sh graft.Verify <sfDir> <outDir> [queryRegex]
#   scripts/run_class.sh graft.Dev <plan|time|profile|oracle> <sfDir> <query...>
#   scripts/run_class.sh graft.Bench   (inputs from SPARK_GRAFT_SF_DIR)
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*:$(ls -d ~/.sbt/boot/scala-2.13*/lib 2>/dev/null | head -1)/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# This VM's page-fault path is ~15-30x slower than bare metal, so heap
# page churn dominates wall-clock. Xms=Xmx stops G1 from uncommitting
# (each re-commit refaults every page). Do NOT enable
# UseTransparentHugePages: madvise-mode THP does synchronous hugepage
# compaction on fault in this kernel (measured 41 CPU-min of kernel
# time to fault 4 GB vs 15 CPU-sec with base pages). No AlwaysPreTouch
# either: zeroing the full heap up front costs minutes here.
MEM=${SPARK_DRIVER_MEM:-32g}
exec java $OPENS -Xms$MEM -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
