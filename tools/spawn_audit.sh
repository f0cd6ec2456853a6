#!/usr/bin/env bash
# Count the processes each JVM of one benchmark run starts, per JVM and
# per command, from JFR jdk.ProcessStart events.
#
#   tools/spawn_audit.sh [workload] [seed]      # default: gateway 1
#
# Runs one `python3 perfbench/run.py --seconds 15` from the root of the
# checkout with a flight recording in every JVM it starts (a directory
# recording: one file per JVM, so the harness, the frame generator and
# an sbt build, if one is due, do not clash). Recordings and the run's
# result line stay in .bench_build/spawn-audit/<workload>-seed<seed>/.
set -euo pipefail
cd "$(dirname "$0")/.."
workload=${1:-gateway}
seed=${2:-1}
dir="$PWD/.bench_build/spawn-audit/$workload-seed$seed"
rm -rf "$dir"
mkdir -p "$dir"

# the recording's start-up note would land on the frame generator's
# stdout, which the harness reads, so it is turned off
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$dir,dumponexit=true -Xlog:jfr+startup=off" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" --seconds 15 \
  > "$dir/result.json" 2> "$dir/run.log" || { tail -20 "$dir/run.log"; exit 1; }
echo "result: $(cut -c1-60 "$dir/result.json")..."

for f in "$dir"/*.jfr; do
  main=$(jfr print --events jdk.JVMInformation "$f" \
    | sed -n 's/^ *javaArguments = "\([^ "]*\).*/\1/p' | head -1)
  cmds=$(jfr print --events jdk.ProcessStart "$f" \
    | sed -n 's/^ *command = "\([^ "]*\).*/\1/p')
  n=$(printf '%s' "$cmds" | grep -c . || true)
  echo "$(basename "$f")  ${main:-?}  $n process spawns"
  if [ "$n" -gt 0 ]; then
    printf '%s\n' "$cmds" | sort | uniq -c | sort -rn | sed 's/^/    /'
  fi
done
