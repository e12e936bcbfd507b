#!/usr/bin/env python3
"""A/B of two revisions on one benchmark workload.

Usage (from inside the repository):
  tools/perf_ab.py REV_A REV_B --workload W --pairs N [--seed S0]

Checks out each revision in a `git worktree` under a temporary directory,
then runs `perfbench/run.py --workload W --seed S --trace 0` in each
checkout, with BENCHMARK.json's run length, N pairs in all. Pair i uses
seed S0 + i on both sides and alternates which side runs first, so a
drift in the box's load hits both sides alike. perfbench builds each
checkout on its first run.

Prints one line per run, then per end-to-end metric of BENCHMARK.json the
median and quartiles of each side, the pairs B won, and whether B's gain
holds under the rule: B better on at least 9 of 10 pairs (the same share
of N), and B's median better than A's by more than A's interquartile
distance. Exits 1 when a run failed or reported `correct: false`.

The script only reads perfbench's output; it changes nothing under
perfbench/. The temporary directory follows TMPDIR and is removed at exit.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def run_bench(tree, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        res = {"correct": False, "failed": None, "metrics": {}}
    res["exit"] = p.returncode
    return res


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 (quartiles need two runs a side)")

    top = Path(git("rev-parse", "--show-toplevel", cwd=Path.cwd()))
    shas = [git("rev-parse", "--verify", f"{r}^{{commit}}", cwd=top)
            for r in (args.rev_a, args.rev_b)]
    bench = json.loads(git("show", f"{shas[1]}:BENCHMARK.json", cwd=top))
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    runs = {"A": [], "B": []}
    with tempfile.TemporaryDirectory(prefix="perf_ab_") as tmp:
        trees = {}
        try:
            for side, sha in zip("AB", shas):
                trees[side] = Path(tmp) / side
                git("worktree", "add", "--detach", str(trees[side]), sha, cwd=top)
            for i in range(args.pairs):
                seed = args.seed + i
                for side in ("AB" if i % 2 == 0 else "BA"):
                    res = run_bench(trees[side], args.workload, seed, seconds)
                    runs[side].append(res)
                    vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.3f}"
                                    for m in metrics if m["name"] in res["metrics"])
                    print(f"pair {i + 1} seed {seed} {side}: correct={res['correct']} "
                          f"failed={res['failed']} {vals}", flush=True)
        finally:
            for t in trees.values():
                subprocess.run(["git", "worktree", "remove", "--force", str(t)],
                               cwd=top, capture_output=True)

    ok = all(r["exit"] == 0 and r["correct"] for side in runs.values() for r in side)
    need = math.ceil(0.9 * args.pairs)
    print(f"\n{args.workload}: A={args.rev_a} ({shas[0][:10]}) "
          f"B={args.rev_b} ({shas[1][:10]}), {args.pairs} pairs, --seconds {seconds}")
    print(f"{'metric':<18} {'A median':>9} {'A q1':>8} {'A q3':>8} "
          f"{'B median':>9} {'B q1':>8} {'B q3':>8} {'B wins':>7}  gain holds")
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                 for a, b in zip(runs["A"], runs["B"])
                 if name in a["metrics"] and name in b["metrics"]]
        if len(pairs) < 2:
            print(f"{name:<18} (fewer than two complete pairs)")
            continue
        xa, xb = [p[0] for p in pairs], [p[1] for p in pairs]
        (a1, a3), (b1, b3) = quartiles(xa), quartiles(xb)
        ma, mb = statistics.median(xa), statistics.median(xb)
        wins = sum((b < a) if lower else (b > a) for a, b in pairs)
        gain = (ma - mb) if lower else (mb - ma)
        holds = wins >= need and gain > a3 - a1
        print(f"{name:<18} {ma:>9.3f} {a1:>8.3f} {a3:>8.3f} {mb:>9.3f} {b1:>8.3f} "
              f"{b3:>8.3f} {wins:>3}/{len(pairs):<3}  {'yes' if holds else 'no'}")
    if not ok:
        print("some runs failed or reported correct: false", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
