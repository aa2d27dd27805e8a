#!/usr/bin/env python3
"""Paired benchmark: a git revision against the working tree, one workload.

    python3 scripts/bench_pairs.py REV --workload NAME --seeds 1 2 3 ... [--seconds S]

Checks REV out into a temporary `git worktree`, then runs
`python3 pipebench/run.py --workload NAME --seed N --seconds S` once in that
checkout and once in the working tree for every seed: one pair per seed, with
the side that runs first alternating from pair to pair. Each tree builds its
own program into its own `.bench_build`. For every end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, the distance
between the quartiles, and how many pairs the working tree won (ties count
for neither side); the relative change between the medians; and a verdict
against the metric's `bound` in BENCHMARK.json:

  within      the change is inside the bound (or an improvement);
  over        the change is worse than the bound;
  unresolved  REV's quartile distance over its median exceeds the bound, and
              not every working-tree run beats every REV run: the runs spread
              too widely to tell.

Then each side's `failed` and `correct` per run. A gain is claimed only when
the working tree wins at least nine tenths of the pairs and the medians differ
by more than REV's quartile distance.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(tree, workload, seed, seconds):
    """One pipebench run in `tree`: its final JSON line, or None if it failed."""
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(f"run failed in {tree} (seed {seed}):\n{r.stdout[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(bs, cs, bound, lower):
    """`within`, `over` or `unresolved` for base runs `bs`, change runs `cs`."""
    bq, cq = quartiles(bs), quartiles(cs)
    beats_all = max(cs) < min(bs) if lower else min(cs) > max(bs)
    if bq[1] and (bq[2] - bq[0]) / abs(bq[1]) > bound and not beats_all:
        return "unresolved"
    worse = (cq[1] - bq[1]) if lower else (bq[1] - cq[1])
    if worse > bound * abs(bq[1]):
        return "over"
    return "within"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev", help="git revision to compare against, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None,
                    help="pipebench --seconds (default: BENCHMARK.json run_seconds)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    metrics = spec["end_to_end"]

    base_tree = tempfile.mkdtemp(prefix="bench-pairs-")
    os.rmdir(base_tree)
    subprocess.run(["git", "worktree", "add", "--detach", base_tree, a.rev],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    runs = {"base": [], "change": []}
    try:
        for i, seed in enumerate(a.seeds):
            order = [("base", base_tree), ("change", ROOT)]
            if i % 2:
                order.reverse()
            for side, tree in order:
                res = run_bench(tree, a.workload, seed, seconds)
                runs[side].append(res)
                vals = ("failed" if res is None else
                        " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                                 for m in metrics))
                print(f"pair {i + 1} seed {seed} {side}: {vals}", flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", base_tree], cwd=ROOT)
        shutil.rmtree(base_tree, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT)

    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"])
             if b is not None and c is not None]
    print(f"\n{a.workload}: {a.rev} (base) vs working tree (change), "
          f"{len(pairs)} complete pairs of {len(a.seeds)}, seconds={seconds}")
    print(f"{'metric':<12} {'base q1/median/q3':>26} {'base iqr':>9} "
          f"{'change q1/median/q3':>26} {'change iqr':>10} {'wins':>7} "
          f"{'change':>8} {'bound':>6}  verdict")
    for m in metrics if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        bs = [b["metrics"][name]["value"] for b, _ in pairs]
        cs = [c["metrics"][name]["value"] for _, c in pairs]
        bq, cq = quartiles(bs), quartiles(cs)
        wins = sum(1 for b, c in zip(bs, cs) if (c < b if lower else c > b))
        rel = (cq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
        print(f"{name:<12} {bq[0]:>8.4g}/{bq[1]:>8.4g}/{bq[2]:>8.4g} {bq[2] - bq[0]:>9.4g} "
              f"{cq[0]:>8.4g}/{cq[1]:>8.4g}/{cq[2]:>8.4g} {cq[2] - cq[0]:>10.4g} "
              f"{wins:>3}/{len(pairs):<3} {rel:>+8.1%} {m['bound']:>6.2f}  "
              f"{verdict(bs, cs, m['bound'], lower)}")
    for side in ("base", "change"):
        cells = ["run failed" if r is None else
                 f"{r['failed']}/{r['attempted']}{'' if r['correct'] else ' INCORRECT'}"
                 for r in runs[side]]
        print(f"failed ({side}): {', '.join(cells)}")


if __name__ == "__main__":
    main()
