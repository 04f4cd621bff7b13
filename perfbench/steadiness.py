#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the quartile spread ((Q3 - Q1) / median) against the
metric's bound in ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --workload climate --seeds 1-10

Runs are sequential; each run's result line is also appended to
``.perfbench/out/steadiness-<workload>.jsonl``."""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.arith import median, quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    out = ROOT / ".perfbench" / "out"
    out.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in metrics}
    for seed in args.seeds:
        t = time.time()
        proc = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed",
                               str(seed), "--seconds",
                               str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        with open(out / f"steadiness-{args.workload}.jsonl", "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **result})
                     + "\n")
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: {wall:.0f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
    for m in metrics:
        xs = values[m["name"]]
        spread = quartile_spread(xs) if len(xs) >= 2 else 0.0
        bound = m["bound"]
        verdict = f"bound {bound} {'ok' if spread <= bound / 3 else 'WIDE'}"
        print(f"{m['name']:32s} median {median(xs):12.4f} {m['unit']:6s} "
              f"spread {spread:.3f} {verdict}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
