#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs: a parent checkout against a change.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N
        [--seed S] [--seconds T] [--metric call_s]

Pair i runs `perfbench/run.py --workload W --seed S+i --seconds T --trace 0`
in both checkouts, the parent first on even i and the change first on odd
i. Each run's end-to-end metrics come from its result line (the last stdout
line). Prints every pair's value of --metric, then for each end-to-end
metric both medians, the parent's interquartile range and the change's
wins (ties count for neither). A gain holds when the change wins at least
9 of 10 pairs and the medians differ by more than the parent's IQR.
"""
import argparse
import json
import statistics
import subprocess
import sys

LOWER_IS_BETTER = {"call_s": True, "transform_rows_per_s": False, "persist_s": True,
                   "setup_s": True, "heap_live_peak_mb": True}


def run(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run in {checkout} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    metrics["failed"] = result["failed"]
    return metrics


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--metric", default="call_s", choices=sorted(LOWER_IS_BETTER))
    args = ap.parse_args()
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run(getattr(args, side), args, args.seed + i))
        p, c = runs["parent"][-1][args.metric], runs["change"][-1][args.metric]
        print(f"pair {i + 1} seed {args.seed + i} ({order[0]} first): "
              f"{args.metric} parent {p:.4f} change {c:.4f}", flush=True)
    print(f"{args.workload}, {args.pairs} pairs; failed ops parent "
          f"{sum(r['failed'] for r in runs['parent'])} change {sum(r['failed'] for r in runs['change'])}")
    for m, lower in LOWER_IS_BETTER.items():
        ps = [r[m] for r in runs["parent"]]
        cs = [r[m] for r in runs["change"]]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
        q1, q3 = quartiles(ps)
        mp, mc = statistics.median(ps), statistics.median(cs)
        gain = wins * 10 >= 9 * len(ps) and ((mp - mc) if lower else (mc - mp)) > q3 - q1
        print(f"  {m}: median parent {mp:.4f} change {mc:.4f} ({(mc - mp) / mp:+.1%}), "
              f"parent IQR {q3 - q1:.4f}, change wins {wins}/{len(ps)}"
              + (" -> gain" if gain else ""))


if __name__ == "__main__":
    main()
