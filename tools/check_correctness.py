"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row counts, column names, and order-insensitive
values.  Usage:  python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# check THIS checkout (a worktree or copy included), not whichever one
# sits on a hard-coded path; the driver JVM, and through it the Python
# workers, inherit the PYTHONPATH
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
              if p])

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def oracle_db():
    """A DuckDB connection with every table of ``SF_DIR`` as a view."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def mismatches(spark_rows, spark_cols, duck_rows, duck_cols) -> list[str]:
    """How a collected Spark result differs from a DuckDB one as a row
    set: row count, column names in any order, or the sorted ``norm``
    values.  ``duck_rows`` are tuples in ``duck_cols`` order.  Empty when
    the two match."""
    msgs = []
    if len(spark_rows) != len(duck_rows):
        msgs.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    cols = sorted(spark_cols)
    if cols != sorted(duck_cols):
        msgs.append(f"schema spark={cols} duck={sorted(duck_cols)}")
    if msgs:
        return msgs
    sset = sorted(tuple(norm(r[c]) for c in cols) for r in spark_rows)
    dmap = {c: i for i, c in enumerate(duck_cols)}
    dset = sorted(tuple(norm(r[dmap[c]]) for c in cols) for r in duck_rows)
    if sset != dset:
        diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
        msgs.append(f"values differ, first diffs: {diff}")
    return msgs


def main(names):
    # imported here, not at module level: perfbench loads this file by
    # path for ``norm`` alone, where ``tools/`` is not on sys.path
    import harness

    import __spark_entry__ as e

    # bench.py's session, on the 8 cores the correctness gate runs with
    spark = harness.session("check", 8)
    con = oracle_db()

    qs = e.queries()
    os_ = e.oracle_sql()
    sel = names or list(qs)
    n_pass = n_fail = 0
    for name in sel:
        t0 = time.time()
        spark.catalog.clearCache()
        try:
            sdf = qs[name](spark, SF_DIR)
            spark_rows = sdf.collect()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"OK?  {name}: rows-only ({len(spark_rows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(os_[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        msgs = mismatches(spark_rows, sdf.columns, duck_rows, duck_cols)
        if not msgs:
            print(f"PASS {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {'; '.join(msgs)}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {len(sel)} run")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
