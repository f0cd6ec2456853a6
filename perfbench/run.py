#!/usr/bin/env python3
"""Benchmark entry point; run it from the root of a checkout.

    python3 perfbench/run.py --workload gateway --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt (once per
source state, under .bench_build/), runs one workload in a fresh JVM
over the sf0.01 test fixture in perfbench/data/ and prints one JSON
result object as the last line of stdout. Everything else goes to
stderr.

--trace 1 runs the workload traced and reports its per-layer metrics
plus the tracing overhead: traced minus untraced, per end-to-end metric.
The untraced run is the one made in this checkout with the same seed,
seconds and program sources; when there is none, it is run first.

Self-test options: --small 1 (shorter phases, fewer lines) and
--plant count|frame (a planted defect the output checks must catch).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# byte copies of the engine's read-only sf0.01 test fixture (seed 42)
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def source_stamp(extra=()):
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             *extra]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "clean", "compile"],
        timeout=700, cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"perfbench: sbt build failed ({rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def harness(a, trace):
    work = os.path.join(BUILD, "runs", f"{a.workload}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--data", DATA, "--work", work,
            "--expected", os.path.join(HERE, "expected_counts.json"),
            "--plant", a.plant, "--small", str(a.small)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    rc, out = run_group(cmd, timeout=600 if a.record else RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                        stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if rc != 0 or not lines:
        sys.exit(f"perfbench: harness failed ({rc})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--plant", default="none", choices=["none", "count", "frame"])
    ap.add_argument("--small", type=int, default=0)
    ap.add_argument("--record", help="write the row count of every bench line here")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from the root of a full checkout")
    if not os.path.isdir(DATA):
        sys.exit("perfbench: test fixture perfbench/data/sf0.01 not found")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: SPARK_HOME does not point to a Spark installation")
    spec = json.load(open(spec_file))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    os.makedirs(BUILD, exist_ok=True)
    build()

    # the baseline of the tracing overhead: an untraced run of the same
    # program sources, data, workload, seed and seconds; a traced run
    # without one makes one
    stamp = source_stamp([DATA])
    last = os.path.join(BUILD, f"untraced-{a.workload}-seed{a.seed}-s{a.seconds:g}.json")
    saved = json.load(open(last)) if os.path.exists(last) else {}
    plain = a.plant == "none" and not a.small and not a.record
    if a.trace and plain and saved.get("stamp") == stamp:
        untraced = saved["result"]
    else:
        untraced = harness(a, 0)
        if a.record:
            log(f"row counts written to {a.record}")
            return
        if plain:
            with open(last, "w") as fh:
                json.dump({"stamp": stamp, "result": untraced}, fh)
    result = untraced
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        traced = harness(a, 1)
        m = dict(traced["metrics"])
        for e in spec["end_to_end"]:
            n = e["name"]
            t, u = traced["metrics"][n]["value"], untraced["metrics"][n]["value"]
            if t is not None and u is not None:
                m[f"overhead.{n}"] = {"value": t - u, "unit": e["unit"]}
        result = dict(traced, metrics=m)
    metrics = {}
    for d in declared:
        # per-layer metrics of a layer this workload never calls read 0
        got = result["metrics"].get(d["name"], {"value": 0} if a.trace else {})
        if not isinstance(got.get("value"), (int, float)):
            sys.exit(f"perfbench: metric {d['name']} missing or not a number")
        metrics[d["name"]] = {"value": got["value"], "unit": d["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
