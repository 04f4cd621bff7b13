"""``util.local_frame``: driver rows become a DataFrame through Arrow.

The frame must equal ``createDataFrame(rows, schema)`` on every type the
package passes, start no Spark job and no Python worker, and be the only
way the package builds a DataFrame from driver-side rows.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import uuid
from pathlib import Path

import pytest
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from xclim_spark.util import local_frame

PKG = Path(__file__).resolve().parent.parent / "xclim_spark"

CASES = {
    "int_bigint": ([(1, 2**40), (-3, None)], "a INT, b BIGINT"),
    "double": ([(0.1,), (float("nan"),), (None,), (-1e300,)], "x DOUBLE"),
    "string": ([("a",), ("",), (None,), ("é☃",)], "s STRING"),
    "date": ([(dt.date(2000, 2, 29),), (None,)], "d DATE"),
    "array_double": ([(1, [1.0, 2.5]), (2, []), (3, None), (4, [None, 0.0])],
                     "vec_id LONG, embedding ARRAY<DOUBLE>"),
    "mixed": ([(0, dt.date(2000, 7, 1), 1.5, "x"),
               (None, None, None, None)],
              "cell INT, time DATE, v DOUBLE, tag STRING"),
    "zero_rows": ([], "idx INT, weight DOUBLE"),
    "struct_schema": ([("m1", 3), ("m2", None)],
                      StructType([StructField("model", StringType(), False),
                                  StructField("member", LongType(), True)])),
    "struct_zero_rows": ([], StructType([StructField("s", StringType())])),
}


def _rows(df):
    # NaN != NaN: compare through repr so a NaN round-trip counts as equal
    return [repr(tuple(r)) for r in df.collect()]


@pytest.mark.parametrize("case", sorted(CASES))
def test_round_trip_equals_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert _rows(got) == _rows(want)


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _daemon_pids() -> set[int]:
    pids = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if b"pyspark.daemon" in argv:
            pids.add(int(d))
    return pids


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs procfs")
def test_build_and_collect_start_no_job_and_no_worker(spark):
    rows, schema = CASES["array_double"]
    before = _daemon_pids()
    assert _jobs(spark, lambda: local_frame(spark, rows, schema).collect()) == 0
    assert _daemon_pids() <= before
    # the probe is live: the pickled-rows path it replaces runs a job
    assert _jobs(spark,
                 lambda: spark.createDataFrame(rows, schema).collect()) >= 1


def test_no_other_create_dataframe_in_package():
    """Every ``createDataFrame`` call in the package is the one inside
    ``local_frame``."""
    found = []

    class Calls(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.scope = path, []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "createDataFrame":
                found.append((self.path, ".".join(self.scope)))
            self.generic_visit(node)

    for p in sorted(PKG.rglob("*.py")):
        Calls(str(p.relative_to(PKG))).visit(ast.parse(p.read_text()))
    assert found == [("util.py", "local_frame")]
