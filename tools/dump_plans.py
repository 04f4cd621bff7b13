"""Dump ``explain("formatted")`` for every registered query to
``plans/<tag>/<query>_<suffix>.txt`` and print a one-line plan-shape
summary (Exchange count, join strategies, Python-eval nodes) per query.

Usage::

    python tools/dump_plans.py [tag [suffix [query ...]]]

``tag`` defaults to the harness's round label (``$SPARK_GRAFT_ROUND``,
else one past the newest ``CORRECTNESS_r*.json``), ``suffix`` to
``before``.  Builds each query at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 tables of TESTDATA.md) in bench.py's session (``tools/harness.py``),
so the captured plans are the bench's plans.  Queries whose gate function
EXECUTES work during build (streaming sinks, iterative trainers) are still
captured — the file then holds the plan of the returned (materialized)
result plus a header noting that the compute happened inside the gate
body.
"""

from __future__ import annotations

import os
import re
import sys
import time

import harness

NODE_RE = re.compile(
    r"\b(Exchange|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct|BatchEvalPython|"
    r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|"
    r"FlatMapGroupsInPandasWithState|WholeStageCodegen)\b")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else harness.round_label()
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    sf_dir = harness.sf_dir()
    cpus = harness.cpus()
    outdir = os.path.join(harness.REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = harness.session("xclim-spark-plandump")

    from xclim_spark.queries import build_queries

    qs = build_queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark.sparkContext.setJobDescription(f"plandump: {name}")
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # capture the failure, keep sweeping
            plan = f"ERROR building {name}: {ex}\n"
        finally:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        counts: dict[str, int] = {}
        for m in NODE_RE.finditer(plan):
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        shape = " ".join(f"{k}={v}" for k, v in sorted(counts.items()))
        header = (f"# query: {name}\n# sf_dir: {sf_dir}  cpus: {cpus}\n"
                  f"# shape: {shape}\n\n")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(header + plan)
        print(f"{name}: {shape}  ({time.time()-t0:.1f}s)", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
