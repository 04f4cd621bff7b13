"""Alternating-pairs A/B of two git revisions on the repo's benchmark.

    python tools/ab_pairs.py REF_A REF_B --workload climate --pairs 10

REF_A is the parent, REF_B the change.  Each ref is checked out once into
``.scratch/ab/<commit>`` (a detached git worktree, reused by later runs).
Pair ``i`` runs ``BENCHMARK.json``'s ``command`` on seed ``i`` in both
trees, REF_B first in every other pair, so a contention window on a
shared host hits both sides alike (``perfbench/steadiness.py`` runs its
seeds the same way).  For each end-to-end metric it prints both medians,
the parent's quartiles, the pairs the change won and :func:`verdict`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.arith import median, ratio  # noqa: E402

AB_DIR = os.path.join(REPO, ".scratch", "ab")


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def iqr(xs: list[float]) -> float:
    q1, q3 = quartiles(xs)
    return q3 - q1


def pairs_won(a: list[float], b: list[float], better: str) -> int:
    """Pairs in which the change (``b``) beat the parent (``a``)."""
    sign = 1 if better == "lower" else -1
    return sum(sign * (x - y) > 0 for x, y in zip(a, b))


def verdict(a: list[float], b: list[float], bound: float,
            better: str = "lower") -> str:
    """The A/B verdict for one metric, ``a`` the parent's runs and ``b``
    the change's, paired by index:

    - ``regression``: the change's median is worse than the parent's by
      more than ``bound``, a fraction of the parent's median;
    - ``gain``: the change won at least 9 of 10 pairs and its median is
      better by more than the parent's interquartile range;
    - ``unresolved``: either side's quartile spread, IQR / median, is
      wider than ``bound``;
    - ``parity`` otherwise."""
    gap = (median(a) - median(b)) * (1 if better == "lower" else -1)
    if -gap > bound * median(a):
        return "regression"
    if 10 * pairs_won(a, b, better) >= 9 * len(a) and gap > iqr(a):
        return "gain"
    if max(ratio(iqr(a), median(a)), ratio(iqr(b), median(b))) > bound:
        return "unresolved"
    return "parity"


def worktree(ref: str) -> str:
    sha = subprocess.check_output(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=REPO, text=True).strip()
    path = os.path.join(AB_DIR, sha[:12])
    if not os.path.exists(os.path.join(path, "xclim_spark")):
        os.makedirs(AB_DIR, exist_ok=True)
        subprocess.check_call(
            ["git", "worktree", "add", "--detach", "-f", path, sha],
            cwd=REPO)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    trees = {"A": worktree(args.ref_a), "B": worktree(args.ref_b)}
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for seed in range(1, args.pairs + 1):
        for side in ("AB" if seed % 2 else "BA"):
            proc = subprocess.run(
                spec["command"] + ["--workload", args.workload, "--seed",
                                   str(seed), "--seconds",
                                   str(spec["run_seconds"]), "--trace", "0"],
                cwd=trees[side], capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{side} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                return 1
            result = json.loads(lines[-1])
            runs[side].append(result)
            print(f"pair {seed} {side}: correct={result['correct']} failed="
                  f"{result['failed']}/{result['attempted']}", flush=True)
    print(f"\n{'metric':14s} {'A median':>10s} {'B median':>10s} "
          f"{'A Q1..Q3':>17s} {'B won':>6s}  verdict")
    for m in spec["end_to_end"]:
        a, b = ([r["metrics"][m["name"]]["value"] for r in runs[s]]
                for s in "AB")
        q1, q3 = quartiles(a)
        won = pairs_won(a, b, m["better"])
        print(f"{m['name']:14s} {median(a):10.3f} {median(b):10.3f} "
              f"{q1:8.3f}..{q3:<7.3f} {won:>3d}/{len(a):<2d}  "
              f"{verdict(a, b, m['bound'], m['better'])}")
    for s in "AB":
        failed = sum(r["failed"] for r in runs[s])
        attempted = sum(r["attempted"] for r in runs[s])
        print(f"{s} ({trees[s]}): {failed}/{attempted} operations failed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
