#!/bin/bash
# Single/partial-query bench helper for optimization work: runs
# graft.Bench on the compiled classes for a comma-separated query list
# (passes default 2, adaptive off via MAX=passes). Usage:
#   tools/q.sh q_a,q_b [passes]
set -e
cd "$(dirname "$0")/.."
. tools/jvm_opens.sh
PASSES=${2:-2}
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
SPARK_GRAFT_BENCH_PASSES=$PASSES \
SPARK_GRAFT_BENCH_MAX_PASSES=${3:-$PASSES} \
SPARK_GRAFT_QUERIES="$1" \
java $ADD_OPENS -Xmx24g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench
