#!/usr/bin/env bash
# Build the spark-submit artifacts: the --py-files zip (printed) and, when
# a JDK is present, dist/tsforge_spark_localfs.jar (session.local_fs_jar:
# the local filesystem that sets permissions without forking chmod).
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/tsforge_spark.zip dist/tsforge_spark_localfs.jar
zip -qr dist/tsforge_spark.zip tsforge_spark -x '*__pycache__*' 'tsforge_spark/.jvm/*'
JAR="$(python3 -c 'from tsforge_spark.session import local_fs_jar; print(local_fs_jar() or "")')"
if [ -n "$JAR" ]; then cp "$JAR" dist/tsforge_spark_localfs.jar; fi
echo "dist/tsforge_spark.zip"
