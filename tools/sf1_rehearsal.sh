#!/bin/bash
# Standing sf1-shape round gate (VERDICT r16 next-round #5): build the
# 10x-row tables once, run the full query surface through graft.Bench
# in a single pass, and fail on a >2x shared-surface regression vs the
# committed tools/sf1_baseline.json (see sf1_gate.py). After a round's
# deliberate perf changes, refresh the baseline by deleting it and
# re-running, then commit the new file.
set -e
SF1_DIR=${1:-/tmp/graft_sf1full}
OUT_JSON=${2:-/tmp/graft_sf1_bench.json}
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
if [ ! -f "$SF1_DIR/documents.parquet" ]; then
  python3 "$(dirname "$0")/sf1_shape_build.py" /root/testdata/sf0.1 "$SF1_DIR"
fi
. "$(dirname "$0")/jvm_opens.sh"
SPARK_GRAFT_SF_DIR="$SF1_DIR" \
SPARK_GRAFT_BENCH_PASSES=1 \
SPARK_GRAFT_BENCH_OUT=/tmp/graft_sf1_bench_side.json \
java $ADD_OPENS -Xmx24g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench > "$OUT_JSON"
python3 "$(dirname "$0")/sf1_gate.py" "$OUT_JSON"
# Standing df-saturation probe (VERDICT r19 #8): the sf1-shape corpus
# is measured saturated (max shingle df 149 > cap 64) — every gate run
# must re-prove the declared q_dedup_near output carries the loud
# contract (sentinel row + df_saturated flag) on the REAL large-shape
# tables, not just DedupSpec's planted fixture.
java $ADD_OPENS -Xmx24g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.GuardProbe "$SF1_DIR" true
