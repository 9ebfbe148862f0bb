#!/bin/bash
# Standalone Bench runner (no sbt lock) on the compiled classes, through
# tools/run.sh. Usage:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 tools/bench.sh
cd "$(dirname "$0")/.." || exit 1
export GRAFT_JAVA_OPTS="${GRAFT_JAVA_OPTS:-} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"
exec tools/run.sh -mem "${SPARK_DRIVER_MEM:-8g}" graft.Bench "$@"
