#!/usr/bin/env bash
# Multi-JVM attest (VERDICT r15 Next #1): run graft.Verify full-board under
# local-cluster — REAL executor processes, so custom-expression/operator
# serialization, broadcast-torrent distribution, and network shuffle fetch
# all cross JVM boundaries — and (a) diff the dumps against a single-JVM
# local[32] run with tools/dumpdiff.py, (b) hash-compare the cluster dumps
# against the DuckDB oracle with tools/preflight.py.
#
# Usage: tools/cluster_attest.sh [sfDir] [outDir] [keyFilter]
set -uo pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_attest}
ONLY=${3:-}
REPO=$(cd "$(dirname "$0")/.." && pwd)
CLS=$REPO/target/scala-2.13/classes
CP="$CLS:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $OPENS -Xmx8g -cp $CP"
mkdir -p "$OUT"

echo "== dump 1/2: local[32] (single JVM) -> $OUT/local32"
SPARK_GRAFT_CPUS=32 $JAVA graft.Verify "$SF" "$OUT/local32" $ONLY \
  > "$OUT/local32.log" 2>&1 &
P1=$!

echo "== dump 2/2: local-cluster[2,8,8192] (multi-JVM) -> $OUT/cluster"
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' SPARK_GRAFT_CPUS=4 \
SPARK_GRAFT_EXEC_MEM=6g \
  $JAVA graft.Verify "$SF" "$OUT/cluster" $ONLY \
  > "$OUT/cluster.log" 2>&1 &
P2=$!

wait $P1; R1=$?
wait $P2; R2=$?
echo "local32 rc=$R1: $(grep -h '\[verify\]' "$OUT/local32.log" | tail -1)"
echo "cluster rc=$R2: $(grep -h '\[verify\]' "$OUT/cluster.log" | tail -1)"
cat "$OUT/cluster/_errors.json" 2>/dev/null; echo

echo "== dump diff (local32 vs cluster)"
python3 "$REPO/tools/dumpdiff.py" "$OUT/local32" "$OUT/cluster" \
  | tee "$OUT/dumpdiff.txt" | tail -5
DD=${PIPESTATUS[0]}

echo "== oracle hash-compare of the CLUSTER dumps (preflight)"
python3 "$REPO/tools/preflight.py" "$SF" "$OUT/cluster" \
  > "$OUT/preflight_cluster.txt" 2>&1
PF=$?
tail -3 "$OUT/preflight_cluster.txt"

echo "RESULT dumpdiff=$DD preflight=$PF"
exit $(( (DD != 0) || (PF != 0) ))
