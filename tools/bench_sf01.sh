#!/bin/bash
# Committed idle-bench snapshot (VERDICT r17 next-round #4): the
# BENCH_rN.json the driver keeps truncates to a 2000-char tail, losing
# ~139 of 205 per-query timings — so round-over-round regression
# judgment was partial. This writes the FULL sf0.1 idle bench JSON to
# tools/bench_sf01.json (the sf0.1 analog of tools/sf1_baseline.json),
# to be committed each round by the gate run. Before overwriting, any
# >2x per-query regression vs the previously committed snapshot is
# PRINTED as a warning (attribution, not gating — the sf1-shape gate
# is the cliff detector; idle sf0.1 numbers carry cache noise).
set -e
cd "$(dirname "$0")/.."
OUT=tools/bench_sf01.json
TMP=$(mktemp /tmp/graft_bench_sf01.XXXX.json)
. tools/jvm_opens.sh
# Per-query MIN over 3 back-to-back idle passes (VERDICT r19 #1: the
# sf1 bank's own discipline, applied to the committed snapshot so
# round-over-round comparisons stop reading ambient machine haze as
# drift — r19's shared surface moved 1.13x on evidence of contention
# alone). Bench.scala keeps the per-query min across passes and still
# extends adaptively (up to SPARK_GRAFT_BENCH_MAX_PASSES) if a whole
# pass improves the summed best by >2%.
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
SPARK_GRAFT_BENCH_PASSES=${SPARK_GRAFT_BENCH_PASSES:-3} \
SPARK_GRAFT_BENCH_OUT=/tmp/graft_bench_sf01_side.json \
java $ADD_OPENS -Xmx24g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench > "$TMP"
python3 - "$TMP" "$OUT" <<'EOF'
import json, sys
cur = json.load(open(sys.argv[1]))
if cur.get("errors", 0):
    print(f"BENCH_SF01 FAIL: {cur['errors']} errored queries")
    sys.exit(1)
try:
    prev = json.load(open(sys.argv[2]))
    shared = set(cur["queries"]) & set(prev["queries"])
    warned = 0
    for q in sorted(shared):
        b, c = prev["queries"][q], cur["queries"][q]
        if b >= 0.2 and c > 2.0 * b:  # ignore sub-200ms noise floor
            print(f"BENCH_SF01 WARN: {q} {b:.2f}s -> {c:.2f}s (>2x idle regression)")
            warned += 1
    tot_b = sum(prev["queries"][q] for q in shared)
    tot_c = sum(cur["queries"][q] for q in shared)
    ratio = tot_c / tot_b if tot_b > 0 else float("inf")
    print(f"bench_sf01 shared surface ({len(shared)} queries): "
          f"{tot_b:.1f}s -> {tot_c:.1f}s ({ratio:.3f}x); {warned} per-query warnings")
except FileNotFoundError:
    print("bench_sf01: no previous snapshot — seeding")
json.dump(cur, open(sys.argv[2], "w"))
print(f"wrote {sys.argv[2]} (total {cur['value']:.1f}s over "
      f"{len(cur['queries'])} queries)")
EOF
rm -f "$TMP"
