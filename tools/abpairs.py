#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload on two checkouts.

    python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload NAME --seeds 21-30
        [--seconds S] [--out pairs.json]

For each seed it runs `python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0` once in each checkout, one after the other,
alternating which side goes first (the parent first on even pair
indices). Each checkout builds itself on its first run (.bench_build/
inside it). Afterwards it prints, for every end-to-end metric of
BENCHMARK.json, each side's median and quartiles, the number of pairs
the change won (ties count for neither side), and whether the gain rule
for small sandboxes holds:

  - the change wins at least 9 of every 10 pairs run, over at least 10
    pairs; a pair whose run failed on either side is not a win;
  - the medians differ, in the better direction, by more than the
    parent's quartile spread (q3 - q1).

Each metric's line ends with the median over pairs of (second run -
first run), whichever side ran first: a metric that the run order moves
more than the code shows a large order effect there. It also prints
each side's failed-operation share. `--out` keeps every
run's metrics and its perfbench report (per-operation medians and
samples) as JSON. Quartiles use statistics.quantiles(method=
"inclusive").
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_side(checkout, workload, seed, seconds):
    """One untraced perfbench run; its result line (dict) or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"  {checkout}: seed {seed} failed (exit {p.returncode})", flush=True)
        return None
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    res["report"] = [ln for ln in p.stdout.splitlines() if not ln.startswith("{")]
    return res


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 21,23,40-42")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()

    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    bench = json.load(open(os.path.join(parent, "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    metrics = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seeds = parse_seeds(args.seeds)

    pairs = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(parent if side == "parent" else change,
                                  args.workload, seed, seconds)
        pairs.append(pair)
        cells = []
        for m in metrics:
            v = [pair[s]["metrics"][m]["value"] if pair[s] else float("nan")
                 for s in ("parent", "change")]
            cells.append(f"{m} {v[0]:.3f}->{v[1]:.3f}")
        print(f"pair {i + 1}/{len(seeds)} seed={seed} first={order[0]}: "
              + "  ".join(cells), flush=True)
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"workload": args.workload, "seconds": seconds,
                           "parent": parent, "change": change, "pairs": pairs}, f, indent=1)

    print(f"\n{args.workload}: {len(pairs)} pairs, {seconds} s runs, seeds {args.seeds}")
    for side in ("parent", "change"):
        runs = [p[side] for p in pairs if p[side]]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        share = failed / attempted if attempted else float("nan")
        print(f"  {side}: {len(runs)}/{len(pairs)} runs completed, "
              f"failed operations {failed}/{attempted} ({share:.3f})")
    for m, better in metrics.items():
        vals = {s: [p[s]["metrics"][m]["value"] for p in pairs if p[s]]
                for s in ("parent", "change")}
        if not vals["parent"] or not vals["change"]:
            print(f"  {m}: no completed runs on one side")
            continue
        sign = -1.0 if better == "lower" else 1.0
        wins = sum(1 for p in pairs if p["parent"] and p["change"]
                   and sign * (p["change"]["metrics"][m]["value"]
                               - p["parent"]["metrics"][m]["value"]) > 0)
        med = {s: statistics.median(v) for s, v in vals.items()}
        q = {s: quartiles(v) for s, v in vals.items()}
        spread = q["parent"][1] - q["parent"][0]
        gap = sign * (med["change"] - med["parent"])
        holds = len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gap > spread
        later = [p["change" if p["first"] == "parent" else "parent"]["metrics"][m]["value"]
                 - p[p["first"]]["metrics"][m]["value"]
                 for p in pairs if p["parent"] and p["change"]]
        order = statistics.median(later) if later else float("nan")
        print(f"  {m} ({better} is better): parent {med['parent']:.3f} "
              f"[q1 {q['parent'][0]:.3f} / q3 {q['parent'][1]:.3f}]  change {med['change']:.3f} "
              f"[q1 {q['change'][0]:.3f} / q3 {q['change'][1]:.3f}]  "
              f"({100 * (med['change'] / med['parent'] - 1):+.1f} %)  "
              f"change won {wins}/{len(pairs)}  gain rule {'HOLDS' if holds else 'does not hold'} "
              f"(gap {gap:.3f} vs parent spread {spread:.3f})  "
              f"second - first run {order:+.3f}")


if __name__ == "__main__":
    main()
