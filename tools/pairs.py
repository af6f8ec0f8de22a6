#!/usr/bin/env python3
"""Paired before/after runs of the repo benchmark.

Runs `perfbench/run.py` unchanged, alternating between a checkout of a
base revision (a `git worktree`, made and removed by this script) and the
working tree, once per seed on one workload. For each end-to-end metric
of BENCHMARK.json it prints the median and quartiles of each side, how
many pairs the working tree won, and the verdict of the gain rule: the
working tree wins at least 9 of 10 pairs AND its median beats the base's
by more than the base's interquartile range.

    python3 tools/pairs.py --workload nightly_pipeline --seeds 21-30
    python3 tools/pairs.py --workload lake_cdc --seeds 101,102,103 --base HEAD~1

Each side builds its own engine on its first run (in its own
perfbench/target). `--base-dir` points at an existing checkout instead
of making a worktree. `--out` keeps every run's metrics as JSON. `--ops`
also prints, per operation kind of the runs' `op_kinds` lines, the
median latency of each side and how many pairs the working tree won,
so a change in the workload's metrics can be put down to the operations
that moved. Pair i
runs the base first when i is even and the working tree first when it
is odd, so drift in the machine's state falls on both sides.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def run_once(tree, workload, seed, seconds):
    """One untraced run in `tree`: its metrics, plus each operation
    kind's median latency under the key "op_kinds", or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        print(f"  run failed in {tree} (exit {p.returncode}): {p.stderr.strip()[-300:]}",
              file=sys.stderr)
        return None
    res = {k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()}
    for l in lines:
        if l.startswith("op_kinds "):
            res["op_kinds"] = {k: v["p50_ms"] for k, v in json.loads(l[len("op_kinds "):]).items()}
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(base, change, better):
    """Summary of one metric over the complete pairs."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    gain = (wins >= math.ceil(0.9 * len(base)) and sign * (mb - mc) > q3 - q1)
    return {"base_median": mb, "base_q1": q1, "base_q3": q3,
            "change_median": mc, "change_q1": quartiles(change)[0],
            "change_q3": quartiles(change)[1], "wins": wins, "pairs": len(base),
            "delta_pct": 100.0 * (mc - mb) / mb if mb else float("nan"), "gain": gain}


def print_ops(done):
    """Per operation kind: the base and change medians of the runs'
    median latencies (ms), and the pairs in which the change was faster."""
    kinds = sorted({k for r in done for side in ("base", "change")
                    for k in r[side].get("op_kinds", {})})
    print(f"\n{'op kind':<15}{'base med ms':>14}{'change med ms':>16}{'delta':>9}{'wins':>7}")
    for k in kinds:
        pairs = [(r["base"]["op_kinds"][k], r["change"]["op_kinds"][k]) for r in done
                 if k in r["base"].get("op_kinds", {}) and k in r["change"].get("op_kinds", {})]
        if not pairs:
            continue
        mb = statistics.median(b for b, _ in pairs)
        mc = statistics.median(c for _, c in pairs)
        wins = sum(1 for b, c in pairs if c < b)
        print(f"{k:<15}{mb:>14.1f}{mc:>16.1f}{100.0 * (mc - mb) / mb:>8.1f}%"
              f"{wins:>4}/{len(pairs):<2}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--base", default="HEAD", help="base revision (default HEAD)")
    ap.add_argument("--base-dir", help="existing checkout of the base; no worktree is made")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    ap.add_argument("--ops", action="store_true",
                    help="also print base/change medians and wins per operation kind")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    made = None
    base_dir = args.base_dir
    if base_dir is None:
        made = tempfile.mkdtemp(prefix="pairs-base-")
        base_dir = os.path.join(made, "tree")
        subprocess.run(["git", "worktree", "add", "--detach", base_dir, args.base],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    runs = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = [("base", base_dir), ("change", ROOT)]
            if i % 2:
                order.reverse()
            pair = {"seed": seed}
            for side, tree in order:
                pair[side] = run_once(tree, args.workload, seed, args.seconds)
            runs.append(pair)
            if pair["base"] and pair["change"]:
                print(f"seed {seed}: round_s base {pair['base'].get('round_s'):.3f}"
                      f" change {pair['change'].get('round_s'):.3f}", flush=True)
    finally:
        if made:
            subprocess.run(["git", "worktree", "remove", "--force", base_dir], cwd=ROOT)
            shutil.rmtree(made, ignore_errors=True)

    done = [r for r in runs if r["base"] and r["change"]]
    report = {"workload": args.workload, "pairs": len(done),
              "failed_pairs": [r["seed"] for r in runs if r not in done],
              "metrics": {}, "runs": runs}
    print(f"\n{args.workload}: {len(done)} complete pairs"
          + (f", failed seeds {report['failed_pairs']}" if report["failed_pairs"] else ""))
    print(f"{'metric':<15}{'base med [q1, q3]':>30}{'change med [q1, q3]':>30}"
          f"{'delta':>9}{'wins':>7}  verdict")
    for m in e2e:
        name = m["name"]
        base = [r["base"][name] for r in done if name in r["base"]]
        change = [r["change"][name] for r in done if name in r["change"]]
        if not base or len(base) != len(change):
            continue
        v = verdict(base, change, m["better"])
        report["metrics"][name] = v
        spread = lambda side: (f"{v[side + '_median']:.4g} "
                               f"[{v[side + '_q1']:.4g}, {v[side + '_q3']:.4g}]")
        print(f"{name:<15}{spread('base'):>30}{spread('change'):>30}"
              f"{v['delta_pct']:>8.1f}%{v['wins']:>4}/{v['pairs']:<2}  "
              + ("gain" if v["gain"] else "no gain"))
    if args.ops:
        print_ops(done)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
