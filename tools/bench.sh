#!/bin/bash
# Local dev harness: run graft.Bench on compiled classes without sbt startup.
# Usage: tools/bench.sh [sfDir] [cpus]
set -e
SF=${1:-/root/testdata/sf0.1}
CPUS=${2:-32}
. "$(dirname "$0")/jvm.sh"
exec env SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  java $GRAFT_JVM_OPTS -Xmx16g -cp "$GRAFT_CP" graft.Bench
