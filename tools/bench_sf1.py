"""Standing sf1 (10x scale-rehearsal) bench artifact — BENCH_SF1.json.

The binding per-round driver bench runs at sf0.1 on a contended host
(loadavg ~9), which has repeatedly mis-signaled Python-worker-bound
queries as regressions (conv_utci r7/r8, fwi_max/dedup_fuzzy r9).  This
tool is the instrument that ends that litigation:

* **idle-gated**: it refuses to RECORD timings when the 1-minute
  loadavg exceeds ``cpus / 8`` (2x the driver-bench noise criterion of
  cores/16) at start or end of the run — it notes the refusal in the
  artifact instead, so a round never silently carries contended
  numbers;
* **sf1**: the 10x dataset from ``tools/make_sf1.py`` (built on demand
  into ``.scratch/sf1``, gitignored), where constant factors are
  amortized and scale defects (interpreted folds, bucket occupancy,
  broadcast flips) actually show;
* **standing**: results MERGE into ``BENCH_SF1.json`` keyed by round
  (``rounds.r10.queries...``), so round-over-round comparison happens
  against the same instrument on the same box at the same scale.

Query set: the N most expensive queries by the latest
``bench_detail.json`` (default 20, ``SPARK_GRAFT_SF1_TOP``), plus any
names passed on the command line.

Session, warm-up, timed loop and round label are bench.py's, from
``tools/harness.py``.

Usage:  python tools/bench_sf1.py [extra_query ...]
Env:    SPARK_GRAFT_SF1_TOP (20), plus the harness's SPARK_GRAFT_CPUS,
        SPARK_GRAFT_MEM, SPARK_GRAFT_BENCH_REPS and SPARK_GRAFT_ROUND.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import harness
from harness import REPO

ARTIFACT = os.path.join(REPO, "BENCH_SF1.json")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _load_artifact() -> dict:
    if os.path.exists(ARTIFACT):
        with open(ARTIFACT) as fh:
            return json.load(fh)
    return {"sf": 1.0, "instrument": "tools/bench_sf1.py",
            "idle_gate": "loadavg1 <= cpus/8 at start; post-run "
                         "loadavg recorded after a 30 s cool-down",
            "rounds": {}}


def _save(art: dict) -> None:
    with open(ARTIFACT, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    log(f"wrote {ARTIFACT}")


def _pick_queries(extra) -> list[str]:
    top = int(os.environ.get("SPARK_GRAFT_SF1_TOP", "20"))
    detail = os.path.join(REPO, "bench_detail.json")
    names: list[str] = []
    if os.path.exists(detail):
        with open(detail) as fh:
            t = json.load(fh).get("queries", {})
        names = [n for n, _ in sorted(t.items(), key=lambda kv: -kv[1])]
    picked = names[:top]
    for n in extra:
        if n not in picked:
            picked.append(n)
    return picked


def main(argv) -> int:
    cpus = harness.cpus()
    reps = harness.reps()
    gate = cpus / 8.0
    label = harness.round_label()
    art = _load_artifact()

    la0 = os.getloadavg()[0]
    if la0 > gate:
        log(f"REFUSED: loadavg {la0:.1f} > idle gate {gate:.1f} — "
            "not recording contended numbers")
        # never clobber a round entry that already carries recorded
        # timings with a refusal stub
        if "queries" not in art["rounds"].get(label, {}):
            art["rounds"][label] = {
                "refused_loadavg": round(la0, 2), "gate": gate,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S")}
            _save(art)
        return 2

    sf1_dir = harness.built("sf1")
    queries = _pick_queries(argv)
    log(f"round {label}: {len(queries)} queries x {reps} reps at sf1 "
        f"(loadavg {la0:.2f}, gate {gate:.1f})")

    spark = harness.session("xclim-spark-bench-sf1")
    from xclim_spark.queries import build_queries

    qs = build_queries()
    missing = [n for n in queries if n not in qs]
    if missing:
        log(f"skipping unknown queries: {missing}")
        queries = [n for n in queries if n in qs]

    harness.warm(spark, qs, sf1_dir)
    t_all0 = time.time()
    timings: dict[str, float] = {}
    floors: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in queries:
        try:
            samples = harness.timed(spark, qs[name], sf1_dir)
        except Exception as exc:  # one query must not lose the run
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            log(f"{name}: ERROR {errors[name]}")
            spark.catalog.clearCache()
            continue
        timings[name] = round(statistics.median(samples), 2)
        # the MIN is the robust trend statistic on a shared box: real
        # regressions raise the floor, interference only raises the
        # median
        floors[name] = round(min(samples), 2)
        log(f"{name}: median {timings[name]}s / min {floors[name]}s "
            f"over {reps}")
    wall = round(time.time() - t_all0, 1)
    spark.stop()

    # the run itself drives loadavg to ~cpus; sample again after a
    # cool-down so the artifact records whether anything ELSE was
    # competing while we ran
    time.sleep(30)
    la1 = os.getloadavg()[0]

    # MERGE into any existing round entry (a partial or per-query
    # re-run in the same round must extend it, not clobber it)
    entry = art["rounds"].get(label, {})
    entry.pop("refused_loadavg", None)
    entry.pop("gate", None)
    entry.update({
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "loadavg_start": round(la0, 2),
        "loadavg_after_cooldown": round(la1, 2),
        "reps": reps,
        "cpus": cpus,
        "wall_total": round(entry.get("wall_total", 0.0) + wall, 1),
    })
    entry.setdefault("queries", {}).update(timings)
    # floor semantics: the MIN is the robust trend statistic, so a
    # noisier re-run in the same round must never RAISE a recorded
    # floor (interleaved A/B runs on this host have shown 2x swings
    # between consecutive idle-gated runs of identical code)
    qm = entry.setdefault("queries_min", {})
    for k, v in floors.items():
        qm[k] = min(qm[k], v) if k in qm else v
    errs = entry.get("errors", {})
    for n in timings:           # a query that now succeeds clears its
        errs.pop(n, None)       # earlier recorded error
    errs.update(errors)
    if errs:
        entry["errors"] = errs
    else:
        entry.pop("errors", None)
    art["rounds"][label] = entry
    _save(art)
    print(json.dumps({"metric": "sf1_median_query_seconds",
                      "round": label, "n": len(timings),
                      "wall": wall}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
