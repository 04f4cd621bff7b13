"""Missing-value masks (reference ``src/xclim/core/missing.py:64-523``).

Each mask answers "is this (cell, period) aggregate invalid because of
missing source data?".  The denominator — how many values a complete period
*should* contain — is computed from the calendar itself
(``expected_count``, reference missing.py:64-160): for daily data that is
``datediff(next_period_start, period_start)``, a pure expression, no
calendar table materialization, no driver loop.

The count-based methods (``any``, ``pct``, ``at_least_n``,
``some_but_not_all``) are each one flag expression over the period's valid
count and ``expected_count`` (:func:`count_flag`).  The standalone
``missing_*`` functions group the source by (cells, period) to evaluate it
and return a DataFrame keyed by (cells, period) with a boolean
``is_missing`` column.  Indicator post-processing evaluates the same flag
as one more column of the indicator's own period aggregation when the
indicator is a single aggregate, and otherwise left-joins the mask
DataFrame on null-safe keys (:func:`mask_missing`); either way flagged
periods are nulled out — the two-step the reference applies in
``CheckMissingIndicator._postprocess`` (indicator.py:1522-1549).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..calendar import parse_offset, period_start

__all__ = [
    "expected_count",
    "missing_any",
    "missing_pct",
    "missing_at_least_n",
    "missing_wmo",
    "missing_some_but_not_all",
    "mask_missing",
    "count_flag",
    "register_missing_method",
    "MISSING_METHODS",
    "missing_from_context",
]


def expected_count(period_col: str, freq: str, src_freq: str = "D"):
    """Expression: number of ``src_freq`` steps in the ``freq`` period
    starting at ``period_col`` (reference missing.py:64-160).

    Calendar-exact for daily and sub-daily sources: the day count comes
    from the actual period bounds (``datediff(next_period_start,
    period_start)``, leap-aware) and sub-daily sources multiply by the
    steps-per-day (requires the step to divide a day evenly, which covers
    the reference's hourly paths, e.g. ``make_hourly_temperature``).
    Weekly sources are supported for weekly targets; aligning a weekly
    grid inside month-anchored periods is ambiguous without the grid's
    phase, so it raises (same restriction surfaces as a resample error
    in the reference)."""
    off = parse_offset(freq)
    src = parse_offset(src_freq)
    p = F.col(period_col)
    if src.base == "W":
        if off.base == "W":
            if off.mult % src.mult:
                raise NotImplementedError(
                    f"weekly source {src_freq!r} does not divide {freq!r}")
            return F.lit(off.mult // src.mult)
        raise NotImplementedError(
            "weekly sources need a phase-aligned weekly target frequency")
    if src.base == "D" and src.mult != 1:
        raise NotImplementedError(
            "multi-day sources are not phase-alignable with calendar "
            "periods")
    if src.base == "H":
        if 24 % src.mult:
            raise NotImplementedError(
                f"{src_freq!r} does not divide a day evenly")
        steps_per_day = 24 // src.mult
    elif src.base == "T":
        if 1440 % src.mult:
            raise NotImplementedError(
                f"{src_freq!r} does not divide a day evenly")
        steps_per_day = 1440 // src.mult
    elif src.base == "D":
        steps_per_day = 1
    else:
        raise NotImplementedError(f"source frequency {src_freq!r}")
    if off.base == "D":
        days = F.lit(off.mult)
    elif off.base == "W":
        days = F.lit(7 * off.mult)
    elif off.base == "M":
        days = F.datediff(F.add_months(p, off.mult), F.to_date(p))
    elif off.base == "Q":
        days = F.datediff(F.add_months(p, 3 * off.mult), F.to_date(p))
    elif off.base == "Y":
        days = F.datediff(F.add_months(p, 12 * off.mult), F.to_date(p))
    elif off.base == "H":
        # sub-daily target: steps = target span / source step (minutes)
        if src.base not in ("H", "T"):
            raise NotImplementedError(
                f"source {src_freq!r} coarser than target {freq!r}")
        mins_t = off.mult * 60
        mins_s = src.mult * 60 if src.base == "H" else src.mult
        if mins_t % mins_s:
            raise NotImplementedError(f"{src_freq!r} does not divide {freq!r}")
        return F.lit(mins_t // mins_s)
    else:
        raise NotImplementedError(freq)
    return days * F.lit(steps_per_day) if steps_per_day != 1 else days


# Count-based flags: ``flag(valid, expected, **options) -> Column``, TRUE
# where the period is invalid; ``valid`` is the period's non-null count of
# the variable, ``expected`` the calendar count of ``expected_count``.

def _any_flag(valid: Column, expected: Column) -> Column:
    return valid < expected


def _pct_flag(valid: Column, expected: Column, tolerance: float) -> Column:
    return (expected - valid) / expected >= F.lit(tolerance)


def _at_least_n_flag(valid: Column, expected: Column, n: int) -> Column:
    return valid < F.lit(n)


def _some_but_not_all_flag(valid: Column, expected: Column) -> Column:
    return ~((valid == expected) | (valid == 0))


def _count_mask(df, var, freq, flag, *, time, cells, src_freq, **options):
    g = (
        df.withColumn("period", period_start(time, freq))
        .groupBy(*cells, "period")
        .agg(F.count(var).alias("_valid"))
    )
    exp = expected_count("period", freq, src_freq)
    return g.select(*cells, "period",
                    flag(F.col("_valid"), exp, **options).alias("is_missing"))


def missing_any(
    df: DataFrame, var: str, freq: str, *, time: str = "time",
    cells: Sequence[str] = (), src_freq: str = "D",
) -> DataFrame:
    """Period invalid if ANY expected value is missing (missing.py:163-220).

    Counts both explicit NULLs and absent rows (the reference sees absent
    timesteps after reindexing; we compare against the calendar count).
    """
    return _count_mask(df, var, freq, _any_flag, time=time, cells=cells,
                       src_freq=src_freq)


def missing_pct(
    df: DataFrame, var: str, freq: str, tolerance: float, *,
    time: str = "time", cells: Sequence[str] = (), src_freq: str = "D",
) -> DataFrame:
    """Invalid if more than ``tolerance`` fraction missing (missing.py:221-280)."""
    return _count_mask(df, var, freq, _pct_flag, time=time, cells=cells,
                       src_freq=src_freq, tolerance=tolerance)


def missing_at_least_n(
    df: DataFrame, var: str, freq: str, n: int, *,
    time: str = "time", cells: Sequence[str] = (), src_freq: str = "D",
) -> DataFrame:
    """Invalid unless at least n valid values (missing.py:281-337)."""
    return _count_mask(df, var, freq, _at_least_n_flag, time=time,
                       cells=cells, src_freq=src_freq, n=n)


def missing_some_but_not_all(
    df: DataFrame, var: str, freq: str, *, time: str = "time",
    cells: Sequence[str] = (), src_freq: str = "D",
) -> DataFrame:
    """Invalid when a period is PARTIALLY missing: some expected values
    absent but not all of them (reference ``MissingSomeButNotAll``,
    missing.py:325-336).  All-present and all-missing periods are both
    valid."""
    return _count_mask(df, var, freq, _some_but_not_all_flag, time=time,
                       cells=cells, src_freq=src_freq)


_MONTHS_PER = {"M": 1, "Q": 3, "Y": 12}


def missing_two_steps(
    mask_sub: DataFrame, freq: str, subfreq: str, *,
    cells: Sequence[str] = (),
) -> DataFrame:
    """Roll a subfreq mask up to ``freq`` with the 'any' rule
    (reference ``MissingTwoSteps``, missing.py:338-391): a coarse period is
    invalid if any sub-period within it is invalid *or absent entirely*.

    ``mask_sub`` is any mask DataFrame ``cells..., period, is_missing`` at
    ``subfreq``.  The absent-subperiod case is handled by comparing the
    count of valid sub-periods to the calendar-expected count.
    """
    off = parse_offset(freq)
    sub = parse_offset(subfreq)
    if off.base not in _MONTHS_PER or sub.base not in _MONTHS_PER:
        raise NotImplementedError(
            f"two-step rollup supports monthly-based freqs, got {freq}/{subfreq}"
        )
    n_sub = _MONTHS_PER[off.base] // _MONTHS_PER[sub.base]
    g = (
        mask_sub.withColumn("_p", period_start("period", freq))
        .groupBy(*cells, "_p")
        .agg(F.sum((~F.col("is_missing")).cast("long")).alias("_valid_sub"))
    )
    return (
        g.withColumn("is_missing", F.col("_valid_sub") < F.lit(n_sub))
        .withColumnRenamed("_p", "period")
        .drop("_valid_sub")
    )


def missing_wmo(
    df: DataFrame, var: str, freq: str, *, nm: int = 11, nc: int = 5,
    time: str = "time", cells: Sequence[str] = (), src_freq: str = "D",
) -> DataFrame:
    """WMO rule (missing.py:395-450): a *month* is invalid if >= nm values
    are missing OR any run of >= nc consecutive values is missing.  The rule
    is always evaluated at monthly frequency (reference forces
    ``subfreq='MS'``) then rolled up to ``freq`` with the 'any' rule.

    The consecutive-missing run is a sessionization window over the
    *present* rows: a gap of k missing days between consecutive present rows
    shows up as ``datediff - 1 == k`` — so runs are detected without
    materializing absent rows (scales: no calendar explode of the fact
    table)."""
    if parse_offset(src_freq).base != "D":
        raise NotImplementedError(
            "the WMO rule is defined on daily observations")
    w = Window.partitionBy(*cells, "period").orderBy(time)
    df = df.withColumn("period", period_start(time, "MS"))
    # gap before this row (within month), in src steps; NULL-valued rows
    # count as missing too, so treat them as absent for gap purposes.
    present = df.filter(F.col(var).isNotNull())
    present = present.withColumn(
        "_gap",
        F.datediff(F.col(time), F.lag(time).over(w)) - 1,
    )
    exp = expected_count("period", "MS", src_freq)
    lead_gap = F.datediff(F.col(time), F.col("period"))  # missing at month head
    per = present.groupBy(*cells, "period").agg(
        F.count(F.lit(1)).alias("_valid"),
        F.max(F.coalesce("_gap", F.lit(0))).alias("_max_gap"),
        F.min(lead_gap).alias("_head_gap"),
        F.max(F.col(time)).alias("_last"),
    )
    tail_gap = exp - 1 - F.datediff(F.col("_last"), F.col("period"))
    missing_total = exp - F.col("_valid")
    max_run = F.greatest("_max_gap", "_head_gap", tail_gap)
    monthly = per.withColumn(
        "is_missing", (missing_total >= nm) | (max_run >= nc)
    ).select(*cells, "period", "is_missing")
    off = parse_offset(freq)
    if off.base == "M":
        return monthly
    return missing_two_steps(monthly, freq, "MS", cells=cells)


def mask_missing(
    result: DataFrame, missing: DataFrame, value_cols: Sequence[str], *,
    keys: Sequence[str],
) -> DataFrame:
    """Null out flagged periods (the reference's ``where(~mask)`` step).

    The keys match null-safely, so a series whose cell is NULL meets its
    own mask row instead of escaping the mask."""
    m = missing.select(*[F.col(k).alias(f"_mk{i}") for i, k in enumerate(keys)],
                       "is_missing")
    on = reduce(lambda a, b: a & b, [
        result[k].eqNullSafe(m[f"_mk{i}"]) for i, k in enumerate(keys)])
    flagged = F.coalesce("is_missing", F.lit(False))
    return result.join(m, on, "left").select(*[
        F.when(flagged, None).otherwise(result[c]).alias(c)
        if c in value_cols else result[c]
        for c in result.columns])


MISSING_METHODS = {
    "any": missing_any,
    "pct": missing_pct,
    "at_least_n": missing_at_least_n,
    "wmo": missing_wmo,
    "some_but_not_all": missing_some_but_not_all,
}

_COUNT_FLAGS = {
    missing_any: _any_flag,
    missing_pct: _pct_flag,
    missing_at_least_n: _at_least_n_flag,
    missing_some_but_not_all: _some_but_not_all_flag,
}


def count_flag(method: str):
    """The flag expression builder ``flag(valid, expected, **options)`` of
    a count-based method, or None when ``method`` is not one: ``wmo``
    (run-based) and methods added or replaced through
    :func:`register_missing_method` only exist as mask DataFrames."""
    return _COUNT_FLAGS.get(MISSING_METHODS.get(method))


def register_missing_method(name: str):
    """Extension point mirroring ``register_missing_method``
    (reference src/xclim/core/options.py:88)."""

    def deco(fn):
        MISSING_METHODS[name] = fn
        return fn

    return deco


def missing_from_context(
    df: DataFrame, var: str, freq: str, *, time: str = "time",
    cells: Sequence[str] = (), src_freq: str = "D",
) -> DataFrame:
    """Mask periods using the method and kwargs from the global options
    (reference ``missing_from_context``, missing.py:572-601):
    ``set_options(check_missing=..., missing_options=...)`` chooses the
    algorithm at plan-build time."""
    from ..options import CHECK_MISSING, MISSING_OPTIONS, OPTIONS

    method = OPTIONS[CHECK_MISSING]
    fn = MISSING_METHODS[method]
    opts = OPTIONS[MISSING_OPTIONS].get(method, {})
    return fn(df, var, freq, time=time, cells=cells, src_freq=src_freq,
              **opts)
