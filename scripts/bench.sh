#!/bin/bash
# Run graft.Bench directly (no sbt startup) with the same JVM flags
# build.sbt gives forked runs. Usage:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
#     scripts/bench.sh [extra JVM args...]
cd "$(dirname "$0")/.."
source scripts/_jvmflags.sh
exec java $ADD_OPENS $JVM_FLAGS "$@" -cp "$CP" graft.Bench
