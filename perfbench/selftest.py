#!/usr/bin/env python3
"""The benchmark's own tests; run from the root of a checkout:

    python3 perfbench/selftest.py

1. A small run of every workload (fewer lines, short gateway phases)
   reports every end-to-end metric of BENCHMARK.json with its unit and
   passes its output checks.
2. A small traced run reports every per-layer metric with its unit.
3. Planted defects turn the checks red: one expected row count off by
   one (batch), one frame withheld from the spool (gateway).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def bench(workload, trace=0, plant="none"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--trace", str(trace), "--small", "1",
           "--plant", plant]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res, declared, what):
    assert set(res["metrics"]) == {d["name"] for d in declared}, what
    for d in declared:
        m = res["metrics"][d["name"]]
        assert m["unit"] == d["unit"] and isinstance(m["value"], (int, float)), (what, d, m)


def main():
    failures = []

    def case(name, fn):
        try:
            fn()
            print(f"ok   {name}")
        except AssertionError as e:
            failures.append(name)
            print(f"FAIL {name}: {e}")

    def small(w):
        r = bench(w)
        check_metrics(r, SPEC["end_to_end"], w)
        assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, r

    def traced(w):
        r = bench(w, trace=1)
        check_metrics(r, SPEC["per_layer"], w)
        assert r["correct"], r

    def planted(w, plant):
        r = bench(w, plant=plant)
        assert not r["correct"] and r["failed"] >= 1, r

    for w in [x["name"] for x in SPEC["workloads"]]:
        case(f"small run reports every end-to-end metric: {w}", lambda w=w: small(w))
        case(f"traced run reports every per-layer metric: {w}", lambda w=w: traced(w))
    case("planted expected-count defect fails the batch check", lambda: planted("batch", "count"))
    case("planted withheld frame fails the gateway check", lambda: planted("gateway", "frame"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
