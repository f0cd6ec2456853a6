#!/bin/bash
# Run graft.Inspect (bench-shaped single-query runs with the Spark UI
# held open) — see Inspect.scala. SPARK_GRAFT_QUERIES selects queries.
set -e
cd "$(dirname "$0")/.."
. tools/jvm_opens.sh
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
java $ADD_OPENS -Xmx24g -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Inspect
