#!/usr/bin/env bash
# The submit path: package the engine (tools/package_pyfiles.sh), ship it
# to executors with --py-files, and run tools/submit_rollup.py, which
# applies the engine confs (session.ENGINE_CONFS) itself, on a
# multi-executor master.  When packaging built the local filesystem jar
# (it needs a JDK), the driver and executors get it with the two confs
# that make file:// writes set permissions without forking chmod.
#
#   tools/submit_example.sh [master] [workdir]
#
# Defaults exercise separate executor JVMs in the sandbox
# (local-cluster[2,2,2048]); on a real cluster pass yarn / k8s:// /
# spark://... and the same command works unchanged.  An empty store at
# <workdir>/store is first seeded with 300 demo conversations.
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${1:-local-cluster[2,2,2048]}"
WORK="${2:-$(mktemp -d /tmp/tsforge_submit_XXXX)}"
mkdir -p "$WORK"
ZIP="$REPO/$(bash "$REPO/tools/package_pyfiles.sh")"
JAR="$REPO/dist/tsforge_spark_localfs.jar"
FS_ARGS=()
if [ -f "$JAR" ]; then
  FS_ARGS=(--jars "$JAR" --driver-class-path "$JAR"
    --conf spark.hadoop.fs.file.impl=tsforge.NoForkLocalFileSystem  # session.LOCAL_FS_CONFS
    --conf 'spark.hadoop.fs.AbstractFileSystem.file.impl=tsforge.NoForkLocalFileSystem$Fs')
fi

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  ${FS_ARGS[@]+"${FS_ARGS[@]}"} \
  --conf spark.sql.shuffle.partitions=8 \
  "$REPO/tools/submit_rollup.py" \
  --store "$WORK/store" --out "$WORK/out" --demo-convs 300
