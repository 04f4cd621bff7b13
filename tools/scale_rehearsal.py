"""Three-point scale rehearsal — the "would it survive 100x?" artifact.

Runs a representative set of scale-critical operators at sf0.1 (the
driver bench scale), sf1 (10x, ``tools/make_sf1.py``), and sf10 (100x,
``tools/make_sf1.py 100 sf10``) under bench.py's session, warm-up and
timed loop (``tools/harness.py``) and reports per-query best-rep
wall-clock plus the sf1 -> sf10 scaling ratio.  Data grows exactly 10x
between the upper points, so a ratio near (or below) 10 is
linear-or-better scaling; a ratio well above 10 exposes the
super-linear failure modes this engine is designed to avoid (all-pairs
joins, skewed keys, driver collects, plan-size blowups).

Ratios below 10 are common at these absolute sizes — fixed overheads
(JVM, planning, Python worker pools) amortize with scale — which is
exactly the property a 100 TB deployment relies on.

Writes ``SCALE_r{N}.json`` at the repo root (committed: it is the
evidence the per-round scale claims point at).

Usage:  python tools/scale_rehearsal.py [query ...]
Env:    the harness's SPARK_GRAFT_CPUS, SPARK_GRAFT_MEM,
        SPARK_GRAFT_BENCH_REPS and SPARK_GRAFT_ROUND
"""

from __future__ import annotations

import json
import os
import sys
import time

import harness
from harness import REPO

# one representative per scale-critical family: core resample agg,
# rolling window, run-length sessionization, stateful Arrow kernel,
# exact + MinHash dedup, Bloom probe, BPE training, BM25, LM
# perplexity, Gopher quality, IVF-PQ ANN
DEFAULT = [
    "tg_mean_ms", "rx7day_ms", "spell_days_ys", "fwi_max_ys",
    "dedup_exact", "dedup_fuzzy", "dedup_bloom_probe",
    "tokenizer_bpe_train", "search_bm25_docs", "text_lm_perplexity",
    "text_gopher_flags", "knn_ivfpq_docs",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv) -> int:
    cpus = harness.cpus()
    reps = harness.reps()
    queries = argv or DEFAULT
    dirs = {"sf0.1": harness.testdata("0.1"), "sf1": harness.built("sf1"),
            "sf10": harness.built("sf10")}

    spark = harness.session("xclim-spark-scale-rehearsal")
    from xclim_spark.queries import build_queries

    qs = build_queries()
    harness.warm(spark, qs, dirs["sf0.1"])
    results: dict[str, dict] = {}
    la0 = os.getloadavg()[0]
    for name in queries:
        row: dict = {}
        for label, sf_dir in dirs.items():
            try:
                samples = harness.timed(spark, qs[name], sf_dir)
            except Exception as exc:
                row[label] = f"ERROR {type(exc).__name__}"[:80]
                log(f"{name}@{label}: {row[label]}")
                continue
            row[label] = round(min(samples), 2)
        if isinstance(row.get("sf1"), float) \
                and isinstance(row.get("sf10"), float) and row["sf1"]:
            row["x10"] = round(row["sf10"] / row["sf1"], 2)
        results[name] = row
        log(f"{name}: " + "  ".join(
            f"{k}={v}" for k, v in row.items()))
    spark.stop()

    label = harness.round_label()
    out = os.path.join(REPO, f"SCALE_{label}.json")
    prior = {}
    if os.path.exists(out):
        with open(out) as fh:
            prior = json.load(fh).get("queries", {})
    prior.update(results)
    results = prior
    art = {
        "instrument": "tools/scale_rehearsal.py",
        "points": {k: "10x replicated keys per step" for k in dirs},
        "cpus": cpus, "reps": reps, "loadavg_start": round(la0, 2),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "note": ("x10 = sf10/sf1 wall ratio for a 10x data step; "
                 "<= ~10 is linear-or-better, >> 10 is the "
                 "super-linear red flag"),
        "queries": results,
    }
    with open(out, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    log(f"wrote {out}")
    print(json.dumps({"metric": "scale_rehearsal",
                      "round": label,
                      "n": len(results)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
