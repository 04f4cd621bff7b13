"""Synthetic-series fixtures (reference ``src/xclim/testing/helpers.py:163-218``).

``timeseries`` builds a deterministic daily series as a Spark DataFrame —
the engine's equivalent of the reference's ``test_timeseries`` fixture used
throughout its unit tests (tests/conftest.py:70-120).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from .util import local_frame


def timeseries(
    spark: SparkSession,
    values: Sequence[float],
    *,
    start: str = "2000-07-01",
    var: str = "value",
    cell: int = 0,
    freq_days: int = 1,
) -> DataFrame:
    """Daily series with known values: one row per day, columns
    (cell, time, <var>).  None entries become NULLs."""
    y, m, d = map(int, start.split("-"))
    t0 = date(y, m, d)
    rows = [
        (cell, t0 + timedelta(days=i * freq_days),
         float(v) if v is not None else None)
        for i, v in enumerate(values)
    ]
    return local_frame(spark, rows, f"cell INT, time DATE, {var} DOUBLE")
