#!/bin/bash
# One-off sf10-shape (100x sf0.1) cliff probe (VERDICT r17 #7): run
# the probe queries against the tools/sf10_probe_build.py tables and
# print per-query seconds with 10x->100x ratios vs the committed
# tools/sf1_baseline.json. NOT a gate — a single-pass probe whose
# table goes in the round notes, with a note on any superlinear mover.
#
# Isolation (VERDICT r19 #4): by default every query runs in its OWN
# JVM, so the dedup families' session memos cannot evict each other
# and the numbers are ORDER-INDEPENDENT (r19 measured q_containment at
# 413 s in a shared 16-query session vs 143.9 s isolated — same code).
# Isolated numbers are standalone/build-INCLUSIVE (a single-query
# Bench builds its own memos inside the timed query; Bench.scala
# documents this), which is the honest per-operator 100x cost.
# PROBE_JOINT=1 restores the old single-session mode for an
# amortized-memo reading.
set -e
cd "$(dirname "$0")/.."
DIR=${1:-/tmp/graft_sf10probe}
OUT_JSON=${2:-/tmp/graft_sf10_bench.json}
if [ ! -f "$DIR/documents.parquet" ]; then
  python3 tools/sf10_probe_build.py /root/testdata/sf0.1 "$DIR"
fi
# Default list lives in tools/probe_defaults.sh (shared with gate.sh
# --probe100; r19 ADVICE replaced the fragile source-text grep).
. tools/probe_defaults.sh
QUERIES=${SPARK_GRAFT_QUERIES:-$PROBE_BASE_QUERIES}
if [ -z "$QUERIES" ] || [ "${QUERIES#,}" != "$QUERIES" ]; then
  echo "SF10 PROBE FAIL: query list empty or malformed: '$QUERIES'" >&2
  exit 1
fi
. tools/jvm_opens.sh
run_bench() {  # $1 = query list for this JVM, $2 = output json path
  SPARK_GRAFT_SF_DIR="$DIR" \
  SPARK_GRAFT_BENCH_PASSES=1 SPARK_GRAFT_QUERIES="$1" \
  java $ADD_OPENS -Xmx64g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench > "$2"
}
if [ "${PROBE_JOINT:-0}" = 1 ]; then
  run_bench "$QUERIES" "$OUT_JSON"
else
  TMPD=$(mktemp -d /tmp/graft_sf10probe_parts.XXXX)
  i=0
  for q in ${QUERIES//,/ }; do
    i=$((i + 1))
    echo "--- probe [$i] $q (isolated JVM) ---" >&2
    run_bench "$q" "$TMPD/$q.json"
  done
  python3 - "$TMPD" "$OUT_JSON" <<'EOF'
import glob, json, sys
qs, errs = {}, 0
for f in sorted(glob.glob(sys.argv[1] + "/*.json")):
    part = json.load(open(f))
    qs.update(part["queries"])
    errs += part.get("errors", 0)
json.dump({"metric": "total", "value": sum(qs.values()), "unit": "sec",
           "queries": qs, "errors": errs, "passes": 1,
           "mode": "isolated"}, open(sys.argv[2], "w"))
EOF
  rm -rf "$TMPD"
fi
python3 - "$OUT_JSON" <<'EOF'
import json, os, sys
cur = json.load(open(sys.argv[1]))
base = json.load(open("tools/sf1_baseline.json"))
mode = cur.get("mode", "joint")
print(f"\nsf10-shape probe ({len(cur['queries'])} queries, {mode}, errors "
      f"{cur.get('errors', 0)}): total {cur['value']:.1f}s")
print(f"{'query':24s} {'10x s':>8s} {'100x s':>8s} {'ratio':>7s}")
for q, t in sorted(cur["queries"].items(), key=lambda kv: -kv[1]):
    b = base["queries"].get(q)
    r = f"{t / b:7.2f}" if b else "    n/a"
    print(f"{q:24s} {b if b else 0:8.2f} {t:8.2f} {r}")
print("(linear at 10x->100x data = ratio ~10; superlinear movers need a note;")
print(" isolated mode is build-inclusive per query, 10x baselines amortize memos)")
if cur.get("errors", 0):
    sys.exit(1)
EOF
