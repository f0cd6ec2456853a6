#!/bin/bash
# Dump .explain("formatted") for the named queries into per-query files.
# Usage: tools/explain_dump.sh OUT_DIR SUFFIX q_a q_b ...
set -e
cd "$(dirname "$0")/.."
OUT=$1; SUF=$2; shift 2
. tools/jvm_opens.sh
mkdir -p "$OUT"
java $ADD_OPENS -Xmx8g -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Explain \
  "${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}" "$@" 2>/dev/null \
| awk -v out="$OUT" -v suf="$SUF" '
  /^========== / { if (f) close(f); q=$2; f=out "/" q "_" suf ".txt"; next }
  f { print > f }'
echo "wrote plans to $OUT (*_$SUF.txt)"
