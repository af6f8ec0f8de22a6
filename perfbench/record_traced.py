#!/usr/bin/env python3
"""Record the checked-in traced run of a workload. Run from the
repository root:

    python3 perfbench/record_traced.py --workload lake_cdc --seed 1

Runs the workload untraced and then traced with the same seed, for
BENCHMARK.json's run_seconds each, and writes
perfbench/results/<workload>.json. The file holds both runs' context and
metrics, the per-layer self times, and the tracing overhead: each traced
end-to-end number relative to the untraced one.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.strip().splitlines()
    ctx = next(json.loads(l[len("context "):]) for l in out if l.startswith("context "))
    return {"context": ctx, "result": json.loads(out[-1]),
            "lines": [l for l in out[:-1] if not l.startswith("context ")]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    plain = run(a.workload, a.seed, seconds, 0)
    traced = run(a.workload, a.seed, seconds, 1)
    e2e = {k: v["value"] for k, v in plain["result"]["metrics"].items()}
    layer = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
    overhead = {k: round(layer[f"traced.{k}"] / v - 1.0, 4)
                for k, v in e2e.items() if f"traced.{k}" in layer and v}
    doc = {
        "workload": a.workload, "seed": a.seed, "seconds": seconds,
        "untraced": plain, "traced": traced,
        "self_time_s": {k: v for k, v in layer.items() if k.startswith("self.")},
        "tracing_overhead": overhead,
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{a.workload}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(path)


if __name__ == "__main__":
    main()
