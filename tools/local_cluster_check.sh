#!/usr/bin/env bash
# Multi-JVM correctness check (VERDICT r8 Next #2).
#
# local[32] runs every task in the driver JVM, which hides three
# whole classes of cluster bugs: closure-serialization failures
# (anything captured by a mapPartitions lambda that isn't actually
# Serializable), localCheckpoint lifetime assumptions, and listener /
# session-state assumptions (CapStats.install). This script runs the
# FULL driver-contract Verify — all SparkEntry.queries — on
# local-cluster[2,C,M]: two separate executor JVMs with real
# serialization on every task and shuffle, then the same DuckDB
# oracle compare the driver uses. q38 additionally runs dupClusters in
# reliable-checkpoint mode (SPARK_GRAFT_CHECKPOINT_DIR), so the
# 1000-executor recovery path executes end-to-end.
#
# The cluster is sized from the box: C = half the cpus (1..8) per
# executor, M = an eighth of MemTotal (1..4 GiB) per executor and a
# quarter (2..8 GiB) for the driver — local-cluster[2,8,4096] and an 8g
# driver on a 32-cpu, 64 GiB box; [2,2,2048] and 4g on 4 cpus, 16 GiB.
#
# Usage: tools/local_cluster_check.sh [sfDir] [outDir]
# Passes iff every oracle query compares clean (exit 0).
set -euo pipefail
cd "$(dirname "$0")/.."

SF=${1:-/root/testdata/sf0.01}
OUT=${2:-target/vcluster}

sbt -batch package
# exclude the -tests jar: when Test/ compiled more recently the bare
# glob's newest match is the tests jar, which has no graft.Verify
JAR=$(ls -t target/scala-2.13/pigeonopticsspark_2.13-*.jar | grep -v -- -tests | head -1)

CPUS=$(env -u OMP_NUM_THREADS nproc)
MEM_MB=$(awk '/^MemTotal:/ {print int($2 / 1024)}' /proc/meminfo)
clamp() { local v=$1; (( v < $2 )) && v=$2; (( v > $3 )) && v=$3; echo "$v"; }
EXEC_CORES=$(clamp $(( CPUS / 2 )) 1 8)
EXEC_MB=$(clamp $(( MEM_MB / 8 )) 1024 4096)
DRIVER_GB=$(clamp $(( MEM_MB / 4096 )) 2 8)

export SPARK_GRAFT_MASTER="local-cluster[2,$EXEC_CORES,$EXEC_MB]"
# 2 executors: match shuffle partitions to total cores
export SPARK_GRAFT_CPUS=$(( 2 * EXEC_CORES ))
export SPARK_GRAFT_CHECKPOINT_DIR=target/ckpt-cluster
echo "local_cluster_check: $SPARK_GRAFT_MASTER, driver ${DRIVER_GB}g" >&2

rm -rf "$OUT" target/ckpt-cluster
/opt/spark/bin/spark-submit \
  --master "$SPARK_GRAFT_MASTER" \
  --driver-memory "${DRIVER_GB}g" \
  --conf spark.executor.memory="${EXEC_MB}m" \
  --conf spark.ui.enabled=false \
  --conf spark.sql.session.timeZone=UTC \
  --class graft.Verify "$JAR" "$SF" "$OUT"

python3 tools/compare.py "$SF" "$OUT"
