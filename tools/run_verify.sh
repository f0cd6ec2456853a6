#!/bin/bash
# Local correctness loop: run graft.Verify on $1 (sf dir, default sf0.01)
# into $2 (out dir, default /tmp/graft_verify) using the classes sbt
# already compiled — no sbt startup cost. Then tools/check.py compares
# against DuckDB.
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/graft_verify}
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
. "$(dirname "$0")/jvm_opens.sh"
rm -rf "$OUT_DIR"
exec java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT_DIR" "${@:3}"
