#!/bin/bash
# Dump .explain("formatted") for the named queries into per-query files.
# Usage: tools/explain_dump.sh OUT_DIR SUFFIX q_a q_b ...
# Run-dependent numbering is rewritten to fixed tokens, so a diff of two
# dumps shows only plan changes: expression ids (#12 → #N), exchange
# plan ids (plan_id=1518 → plan_id=N), RDD ids
# (MapPartitionsRDD[192] → MapPartitionsRDD[N]), call sites
# (at TextAnalysis.scala:1743 → at <callsite>), Column-API lambda
# variables (x_7 → x_N) and JVM identity hashes of arrays printed in
# plan arguments ([D@1fa7df1f → [D@N).
set -e
cd "$(dirname "$0")/.."
OUT=$1; SUF=$2; shift 2
. tools/jvm_opens.sh
mkdir -p "$OUT"
java $ADD_OPENS -Xmx8g -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Explain \
  "${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}" "$@" 2>/dev/null \
| sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/RDD\[[0-9]+\]/RDD[N]/g; s/ at [A-Za-z0-9_$]+\.scala:[0-9]+/ at <callsite>/g; s/(^|[^A-Za-z0-9_])([xyz])_[0-9]+/\1\2_N/g; s/\[(L[A-Za-z0-9_.$]+;|[ZBCSIJFD])@[0-9a-f]+/[\1@N/g' \
| awk -v out="$OUT" -v suf="$SUF" '
  /^========== / { if (f) close(f); q=$2; f=out "/" q "_" suf ".txt"; next }
  f { print > f }'
echo "wrote plans to $OUT (*_$SUF.txt)"
