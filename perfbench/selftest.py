#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

Usage (from the root of a checkout): python3 perfbench/selftest.py

For every workload of BENCHMARK.json, an untraced and a traced run with two
operations on the sf0.001 tables must be correct and emit every metric that
BENCHMARK.json names, with its unit; every per-layer metric must be measured
by some workload, and the streaming host must have run its micro-batches.
Two planted faults must be caught: a store missing one ledger row, and a
query whose checksum differs from its pin. Exits non-zero on the first
failed assertion.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, trace, hook=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "2", "--trace", str(trace),
           "--tiny"]
    if hook:
        cmd += ["--plan-hook", hook]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # per-layer metrics the engine runs actually measured (a layer that a
    # workload bypasses is reported as 0 by run.py; every layer must be
    # measured by at least one workload)
    measured = {}
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            assert res["correct"], f"{w} trace={trace}: not correct"
            assert res["attempted"] >= 1 and res["failed"] == 0, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {got} != {want}"
            if trace:
                raw = os.path.join(ROOT, ".bench_build", "last",
                                   f"{w}-trace1", "result.json")
                with open(raw) as f:
                    for k, v in json.load(f)["metrics"].items():
                        measured[k] = v["unit"]
            print(f"ok {w} trace={trace}: {len(got)} metrics", flush=True)
    for m in spec["per_layer"]:
        assert measured.get(m["name"]) == m["unit"], \
            f"per-layer {m['name']} never measured in {m['unit']}"
    print("ok every per-layer metric measured by some workload")
    with open(os.path.join(ROOT, ".bench_build", "last",
                           "consolidate-trace1", "result.json")) as f:
        raw = json.load(f)["metrics"]
    assert raw["streaming.batches"]["value"] >= 1, raw["streaming.batches"]
    print("ok consolidate: the streaming host ran a micro-batch per pass")
    res = run("consolidate", 0, "store-missing-row")
    assert not res["correct"], "a store missing a ledger row went unnoticed"
    print("ok planted fault: store missing one ledger row is caught")
    res = run("query_mix", 0, "bad-checksum")
    assert not res["correct"], "a differing query checksum went unnoticed"
    print("ok planted fault: a differing query checksum is caught")
    print("selftest passed")


if __name__ == "__main__":
    main()
