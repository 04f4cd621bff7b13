"""Generic operator algebra: compare / threshold / resample-reduce.

Spark-first re-expression of the reference's generic kernel layer
(``src/xclim/indices/generic.py``).  Everything here is pure Column
expressions + ``groupBy`` — no UDFs, fully whole-stage-codegen'd, map-side
partial aggregation, shuffle only on (cell, period) keys.  That plan holds
at 100 TB: the shuffle key cardinality is cells x periods, values are
pre-combined per map task.

Conventions
-----------
Operators take a long-format DataFrame plus column names:

* ``time`` — TIMESTAMP/DATE column (the privileged axis),
* ``cells`` — list of key columns identifying a series (lat/lon, station id…),
* ``var`` — the value column.

They return a DataFrame grouped by ``cells + [period]`` with aliased result
columns, so results compose and compare cleanly against SQL oracles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..calendar import period_start, select_time

__all__ = [
    "get_op",
    "compare",
    "get_daily_events",
    "threshold_count",
    "domain_count",
    "get_zones",
    "resample_agg",
    "reduce_agg",
    "threshold_count_agg",
    "domain_count_agg",
    "thresholded_statistics_agg",
    "temperature_sum_agg",
    "select_resample_op",
    "select_rolling_resample_op",
    "statistics",
    "thresholded_statistics",
    "temperature_sum",
    "cumulative_difference",
    "detrend",
    "aggregate_between_dates",
    "first_day_threshold_reached",
    "REDUCERS",
]

# ---------------------------------------------------------------------------
# compare / get_op  (reference generic.py:255-326)
# ---------------------------------------------------------------------------

_OP_ALIASES = {
    "gt": ">", "lt": "<", "ge": ">=", "le": "<=", "eq": "==", "ne": "!=",
    ">": ">", "<": "<", ">=": ">=", "<=": "<=", "==": "==", "!=": "!=",
}


def get_op(op: str):
    """Validate an op string and return a Column->Column comparator.

    Mirrors ``get_op`` (reference generic.py:255-299) including the alias
    set; returns a function of (left, right) -> BooleanType Column.
    """
    sym = _OP_ALIASES.get(op)
    if sym is None:
        raise ValueError(f"Operation {op!r} not recognized.")
    import operator as _o

    return {
        ">": _o.gt, "<": _o.lt, ">=": _o.ge, "<=": _o.le,
        "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
    }[sym]


def compare(left: Column | str, op: str, right) -> Column:
    """Boolean mask ``left op right`` (reference generic.py:301-326).

    ``right`` may be a scalar, a Column (threshold-as-array: spatially or
    temporally varying threshold joined onto the row), or a literal.
    """
    lc = F.col(left) if isinstance(left, str) else left
    return get_op(op)(lc, right if isinstance(right, Column) else F.lit(right))


def get_daily_events(var: Column | str, op: str, thresh) -> Column:
    """0/1 event column with NULL propagation (reference generic.py:395-431)."""
    v = F.col(var) if isinstance(var, str) else var
    return F.when(v.isNull(), F.lit(None).cast("int")).otherwise(
        compare(v, op, thresh).cast("int")
    )


# ---------------------------------------------------------------------------
# Reducer registry for resample-reduce
# ---------------------------------------------------------------------------

def _doy_extreme(time, var: Column | str, best: str) -> Column:
    """day-of-year of the max/min value, ties broken by earliest time.

    Implements ``doymax``/``doymin`` (reference generic.py:177-196) as
    ``max_by(doy, struct(value, -epoch))`` — a single aggregate, no window.
    """
    v = F.col(var) if isinstance(var, str) else var
    t = F.col(time)
    # order key: (value, descending time) so earliest timestamp wins ties
    key = F.struct((v if best == "max" else -v).alias("v"),
                   (-F.unix_timestamp(t)).alias("tneg"))
    return F.max_by(F.dayofyear(t), key)


REDUCERS = {
    "min": lambda time, var: F.min(var),
    "max": lambda time, var: F.max(var),
    "mean": lambda time, var: F.avg(var),
    "sum": lambda time, var: F.sum(var),
    "count": lambda time, var: F.count(var),
    "std": lambda time, var: F.stddev_pop(var),   # ddof=0, as numpy/xarray default
    "var": lambda time, var: F.var_pop(var),
    "median": lambda time, var: F.median(var),
    "doymax": lambda time, var: _doy_extreme(time, var, "max"),
    "doymin": lambda time, var: _doy_extreme(time, var, "min"),
}

# DuckDB twins for the oracle harness.
REDUCERS_SQL = {
    "min": "min({v})",
    "max": "max({v})",
    "mean": "avg({v})",
    "sum": "sum({v})",
    "count": "count({v})",
    "std": "stddev_pop({v})",
    "var": "var_pop({v})",
    "median": "median({v})",
    "doymax": "arg_max(dayofyear({t}), ({v}, -epoch({t})))",
    "doymin": "arg_max(dayofyear({t}), (-{v}, -epoch({t})))",
}


def _grouped(df: DataFrame, cells: Sequence[str], time: str, freq: str):
    return df.withColumn("period", period_start(time, freq)).groupBy(
        *cells, "period"
    )


def resample_agg(
    df: DataFrame, freq: str, *aggs: Column, time: str = "time",
    cells: Sequence[str] = (), **indexer,
) -> DataFrame:
    """Optional time filter -> resample(freq) -> ``aggs``: the one plan
    shape every single-aggregate kernel below shares, and the one
    ``groupBy`` several fused indicators share.  ``indexer`` kwargs are
    ``select_time`` args (season=/month=/doy_bounds=/date_bounds=)."""
    if indexer:
        df = df.filter(select_time(time, **indexer))
    return _grouped(df, cells, time, freq).agg(*aggs)


# ---------------------------------------------------------------------------
# The central aggregate: select_resample_op (reference generic.py:83-125)
# ---------------------------------------------------------------------------

def reduce_agg(var: str, op, time: str = "time") -> Column:
    """The period reducer of :func:`select_resample_op`: a ``REDUCERS``
    name or a callable Column reducer."""
    return op(F.col(var)) if callable(op) else REDUCERS[op](time, var)


def select_resample_op(
    df: DataFrame,
    var: str,
    op: str,
    freq: str,
    *,
    time: str = "time",
    cells: Sequence[str] = (),
    alias: str | None = None,
    **indexer,
) -> DataFrame:
    """Optional time filter -> resample(freq) -> reducer.

    The reference's single most-used kernel.  ``indexer`` kwargs are
    ``select_time`` args (season=/month=/doy_bounds=/date_bounds=).
    ``op`` may also be a callable (Column reducer), matching the reference's
    callable-reducer extension point (generic.py:111-118).
    """
    agg = reduce_agg(var, op, time).alias(
        alias or ("value" if callable(op) else op))
    return resample_agg(df, freq, agg, time=time, cells=cells, **indexer)


def select_rolling_resample_op(
    df: DataFrame,
    var: str,
    op: str,
    freq: str,
    *,
    window: int,
    window_op: str = "mean",
    window_center: bool = False,
    time: str = "time",
    cells: Sequence[str] = (),
    order_extra: Sequence[str] = (),
    min_periods: int | None = None,
    alias: str | None = None,
    **indexer,
) -> DataFrame:
    """Rolling reducer along time, then resample-reduce.

    (reference generic.py:128-174).  Rolling = row-based window partitioned
    by cell, ordered by time — one shuffle on the cell key that the
    subsequent groupBy reuses when cells are a prefix of the group key.

    ``min_periods`` mirrors xarray's rolling minimum-count semantics: with
    fewer than ``min_periods`` rows in the window the result is NULL
    (xarray default = window size).
    """
    w = (
        Window.partitionBy(*cells)
        .orderBy(*( [time] + list(order_extra) ))
    )
    if window_center:
        w = w.rowsBetween(-(window // 2), window - window // 2 - 1)
    else:
        w = w.rowsBetween(-(window - 1), 0)
    roll = {
        "mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
        "std": F.stddev_pop, "var": F.var_pop,
    }[window_op](F.col(var)).over(w)
    need = window if min_periods is None else min_periods
    cnt = F.count(F.col(var)).over(w)
    df = df.withColumn("_roll", F.when(cnt >= need, roll))
    return select_resample_op(
        df, "_roll", op, freq, time=time, cells=cells,
        alias=alias or f"{op}_{window_op}{window}", **indexer,
    )


# ---------------------------------------------------------------------------
# Threshold family (reference generic.py:329-392, 1255-1357)
# ---------------------------------------------------------------------------

def threshold_count_agg(var: str, op: str, thresh) -> Column:
    """Count of days where ``var op thresh`` (generic.py:329-361)."""
    return F.sum(compare(var, op, thresh).cast("long"))


def threshold_count(
    df: DataFrame, var: str, op: str, thresh, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str = "count",
    constrain: Sequence[str] | None = None, **indexer,
) -> DataFrame:
    """Count of days where ``var op thresh`` per period (generic.py:329-361)."""
    if constrain and _OP_ALIASES[op] not in constrain:
        raise ValueError(f"Operator {op!r} not permitted here")
    return resample_agg(
        df, freq, threshold_count_agg(var, op, thresh).alias(alias),
        time=time, cells=cells, **indexer)


def domain_count_agg(var: str, low, high) -> Column:
    """Count of days where ``low < var <= high`` (generic.py:364-392)."""
    cond = compare(var, ">", low) & compare(var, "<=", high)
    return F.sum(cond.cast("long"))


def domain_count(
    df: DataFrame, var: str, low, high, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str = "count",
    **indexer,
) -> DataFrame:
    """Count of days where ``low < var <= high`` per period (generic.py:364-392)."""
    return resample_agg(
        df, freq, domain_count_agg(var, low, high).alias(alias),
        time=time, cells=cells, **indexer)


def first_occurrence(
    df: DataFrame, var: str, op: str, thresh, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str = "doy",
    constrain: Sequence[str] | None = None, **indexer,
) -> DataFrame:
    """Day-of-year of the first day ``var op thresh`` per period (ref
    generic.py:1109-1154 — first_run with window=1, coord=dayofyear).
    One aggregation, no window pass: min over the conditional doy."""
    if constrain and _OP_ALIASES[op] not in constrain:
        raise ValueError(f"Operator {op!r} not permitted here")
    if indexer:
        df = df.filter(select_time(time, **indexer))
    cond = compare(var, op, thresh)
    # reduce on the timestamp, project its doy: min(doy) is only the
    # chronological first event when the period is calendar-year-aligned;
    # for anchored freqs (YS-JUL, QS-DEC) a period spans the year boundary
    # and e.g. Dec 15 (doy 350) precedes Jan 5 (doy 5)
    return _grouped(df, cells, time, freq).agg(
        F.min_by(F.dayofyear(time), F.when(cond, F.col(time))).alias(alias)
    )


def last_occurrence(
    df: DataFrame, var: str, op: str, thresh, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str = "doy",
    constrain: Sequence[str] | None = None, **indexer,
) -> DataFrame:
    """Day-of-year of the last day ``var op thresh`` per period (ref
    generic.py:1157-1202 — last_run with window=1, coord=dayofyear)."""
    if constrain and _OP_ALIASES[op] not in constrain:
        raise ValueError(f"Operator {op!r} not permitted here")
    if indexer:
        df = df.filter(select_time(time, **indexer))
    cond = compare(var, op, thresh)
    return _grouped(df, cells, time, freq).agg(
        F.max_by(F.dayofyear(time), F.when(cond, F.col(time))).alias(alias)
    )


def count_level_crossings(
    df: DataFrame, low_var: str, high_var: str, thresh, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str = "count",
    op_low: str = "<", op_high: str = ">=", **indexer,
) -> DataFrame:
    """Count of days where ``low_var op_low thresh`` AND ``high_var
    op_high thresh`` per period (ref generic.py:914-963 — e.g. days the
    daily min dips below a level the daily max still exceeds).

    The reference restricts ``op_low`` to {<, <=} and ``op_high`` to
    {>, >=} (constrain= in its wrapped compare calls) — a swapped-argument
    call would otherwise return plausible but meaningless counts."""
    if _OP_ALIASES.get(op_low) not in ("<", "<="):
        raise ValueError(f"op_low must be one of '<', '<='; got {op_low!r}")
    if _OP_ALIASES.get(op_high) not in (">", ">="):
        raise ValueError(
            f"op_high must be one of '>', '>='; got {op_high!r}")
    if indexer:
        df = df.filter(select_time(time, **indexer))
    cond = compare(low_var, op_low, thresh) & compare(high_var, op_high,
                                                      thresh)
    return _grouped(df, cells, time, freq).agg(
        F.sum(cond.cast("long")).alias(alias)
    )


def default_freq(**indexer) -> str:
    """Default resampling frequency implied by a temporal indexer
    (reference ``default_freq``, generic.py:224-253): plain ``YS-JAN``,
    or a year anchored at the selection's first month so every selected
    window falls inside one period (seasons anchor at December)."""
    from ..calendar import _ABBR_MONTH

    if not indexer:
        return "YS-JAN"
    group, value = indexer.popitem()
    if group == "season":
        month = 12
    elif group == "month":
        month = value[0] if isinstance(value, (list, tuple)) else value
    elif group == "doy_bounds":
        import datetime as _dt

        # 2004 is a leap year, so doy 1-366 all resolve
        month = (_dt.date(2004, 1, 1)
                 + _dt.timedelta(days=int(value[0]) - 1)).month
    elif group == "date_bounds":
        month = int(str(value[0])[:2])
    else:
        raise ValueError(f"Unknown group `{group}`.")
    return "YS-" + _ABBR_MONTH[int(month)]


def season_length_from_boundaries(
    start_df: DataFrame, end_df: DataFrame, *,
    keys: Sequence[str] = ("cell", "period"),
    start_col: str = "season_start", end_col: str = "season_end",
    alias: str = "season_length",
) -> DataFrame:
    """Season length from pre-computed start/end boundaries (reference
    ``season_length_from_boundaries``, generic.py:856-906): join the two
    per-period tables on ``keys`` and difference the boundaries — dates
    difference directly; day-of-year boundaries wrap across the year
    end (``end < start`` reads as next year's doy).  NULL boundaries
    (no season) yield NULL length, like the reference's NaN."""
    j = start_df.select(*keys, start_col).join(
        end_df.select(*keys, end_col), on=list(keys))
    s, e = F.col(start_col), F.col(end_col)
    fields = {f.name: f.dataType.simpleString()
              for f in j.schema.fields}
    if fields[start_col] in ("date", "timestamp"):
        length = F.datediff(e, s)
    else:
        length = F.when(e >= s, e - s).otherwise(e + 365 - s)
    return j.withColumn(alias, length.cast("int"))


def first_day_threshold_reached(
    df: DataFrame, var: str, op: str, thresh, after_date: str, *,
    window: int = 1, freq: str = "YS",
    time: str = "time", cells: Sequence[str] = (),
    constrain: Sequence[str] | None = None, alias: str = "doy",
) -> DataFrame:
    """Day-of-year the condition first holds for ``window`` days at or
    after ``after_date`` ('MM-DD') in each period (reference
    ``first_day_threshold_reached``, generic.py:1556-1612) — compare +
    first_run_after_date, sharing the run-length family's single
    (cell) sort."""
    from .run_length import first_run_after_date

    if constrain and _OP_ALIASES[op] not in constrain:
        raise ValueError(f"Operator {op!r} not permitted here")
    cond = compare(var, op, thresh)
    return first_run_after_date(df, cond, window, date=after_date,
                                freq=freq, time=time, cells=cells,
                                coord="doy", alias=alias)


def get_zones(
    var: Column | str,
    zone_min: float,
    zone_max: float,
    zone_step: float,
) -> Column:
    """Bucketize values into equal-width zones (generic.py:1642-1708).

    Returns the zone index (0-based below min .. n+1 above max), matching
    ``width_bucket`` semantics on both Spark and DuckDB.
    """
    v = F.col(var) if isinstance(var, str) else var
    n = int(round((zone_max - zone_min) / zone_step))
    return F.width_bucket(v, F.lit(float(zone_min)), F.lit(float(zone_max)), F.lit(n))


def statistics(
    df: DataFrame, var: str, op: str, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str | None = None,
    **indexer,
) -> DataFrame:
    """Plain period reducer (reference generic.py:1255-1278)."""
    return select_resample_op(df, var, op, freq, time=time, cells=cells,
                              alias=alias, **indexer)


def thresholded_statistics_agg(
    var: str, op: str, thresh_op: str, thresh, time: str = "time",
) -> Column:
    """``REDUCERS[op]`` over the rows where ``var thresh_op thresh``."""
    return REDUCERS[op](time, F.when(compare(var, thresh_op, thresh),
                                     F.col(var)))


def thresholded_statistics(
    df: DataFrame, var: str, op: str, thresh_op: str, thresh, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str | None = None,
    **indexer,
) -> DataFrame:
    """Reducer over only the rows satisfying the threshold condition
    (reference generic.py:1279-1323): ``agg(op(when(cond, var)))``."""
    agg = thresholded_statistics_agg(var, op, thresh_op, thresh, time)
    return resample_agg(df, freq, agg.alias(alias or op), time=time,
                        cells=cells, **indexer)


def temperature_sum_agg(var: str, op: str, thresh) -> Column:
    """Signed ``sum(var - thresh)`` where ``var op thresh``
    (reference generic.py:1324-1357).  Sign is negative for ``<`` ops."""
    cond = compare(var, op, thresh)
    direction = -1.0 if _OP_ALIASES[op] in ("<", "<=") else 1.0
    term = F.when(cond, (F.col(var) - F.lit(thresh)) * direction).otherwise(0.0)
    return F.sum(term)


def temperature_sum(
    df: DataFrame, var: str, op: str, thresh, freq: str, *,
    time: str = "time", cells: Sequence[str] = (), alias: str = "degree_days",
    **indexer,
) -> DataFrame:
    """Degree-day sum: signed ``sum(var - thresh)`` where ``var op thresh``
    per period (reference generic.py:1324-1357)."""
    return resample_agg(
        df, freq, temperature_sum_agg(var, op, thresh).alias(alias),
        time=time, cells=cells, **indexer)


def cumulative_difference(
    df: DataFrame, var: str, op: str, thresh, *,
    freq: str | None = None, time: str = "time", cells: Sequence[str] = (),
    alias: str = "cumulative_difference",
) -> DataFrame:
    """Degree-days with optional freq=None passthrough
    (reference generic.py:1515-1555).  With ``freq=None`` returns the
    running cumulative sum per cell (window), else a period sum."""
    cond = compare(var, op, thresh)
    direction = -1.0 if _OP_ALIASES[op] in ("<", "<=") else 1.0
    term = F.when(cond, (F.col(var) - F.lit(thresh)) * direction).otherwise(0.0)
    if freq is None:
        w = (Window.partitionBy(*cells).orderBy(time)
             .rowsBetween(Window.unboundedPreceding, 0))
        return df.withColumn(alias, F.sum(term).over(w))
    return _grouped(df, cells, time, freq).agg(F.sum(term).alias(alias))


def degree_days_exceedance_date(
    df: DataFrame, var: str, op: str, thresh, sum_thresh, *,
    freq: str = "YS", after_date: str | None = None,
    time: str = "time", cells: Sequence[str] = (),
    alias: str = "dded",
) -> DataFrame:
    """Day of year when cumulative degree days cross ``sum_thresh``
    (reference _threshold.py:3215-3313): a running-sum window per
    (cell, period) + one min-aggregate over qualifying days.
    ``after_date`` ('MM-DD') restarts the accumulation at that date."""
    sym = _OP_ALIASES[op]
    term = (F.col(var) - F.lit(thresh)) if sym in (">", ">=") else \
        (F.lit(thresh) - F.col(var))
    term = F.greatest(term, F.lit(0.0))
    df = df.withColumn("period", period_start(time, freq))
    if after_date is not None:
        mm, dd = (int(x) for x in after_date.split("-"))
        cand = F.make_date(F.year("period"), F.lit(mm), F.lit(dd))
        start = F.when(cand < F.col("period"), F.add_months(cand, 12)) \
            .otherwise(cand)
        term = F.when(F.to_date(time) >= start, term).otherwise(0.0)
    w = Window.partitionBy(*cells, "period").orderBy(time) \
        .rowsBetween(Window.unboundedPreceding, 0)
    df = df.withColumn("_cdd", F.sum(term).over(w))
    return df.groupBy(*cells, "period").agg(
        F.min(F.when(F.col("_cdd") > sum_thresh,
                     F.dayofyear(time))).alias(alias)
    )


def detrend(
    df: DataFrame, var: str, *, time: str = "time",
    cells: Sequence[str] = (), alias: str | None = None,
) -> DataFrame:
    """Remove a per-cell linear trend (reference ``detrend``,
    generic.py:1711-1737, deg=1).

    Closed form: the OLS slope/intercept come from covariance aggregates
    evaluated as unordered window functions over the cell partition —
    one shuffle on the cell key, no iteration, no UDF.  (Higher degrees
    would use the applyInPandas polyfit path.)
    """
    w = Window.partitionBy(*cells)
    x = F.col(var).cast("double")
    t = F.unix_date(F.to_date(time)).cast("double")
    mx = F.avg(x).over(w)
    mt = F.avg(t).over(w)
    cov = F.avg(x * t).over(w) - mx * mt
    vart = F.avg(t * t).over(w) - mt * mt
    slope = cov / vart
    trend = mx + slope * (t - mt)
    return df.withColumn(alias or f"{var}_detrended", x - trend)


def aggregate_between_dates(
    df: DataFrame, var: str, op: str, *,
    start_doy: int, end_doy: int, freq: str = "YS",
    time: str = "time", cells: Sequence[str] = (), alias: str | None = None,
) -> DataFrame:
    """Reduce ``var`` between two day-of-year bounds per year
    (reference generic.py:1417-1512; scalar-bounds form).

    Array-valued bounds (per-cell start/end tables) are supported by joining
    the bounds DataFrame beforehand and filtering — see
    ``aggregate_between_date_cols``.
    """
    d = F.dayofyear(time)
    df = df.filter((d >= start_doy) & (d <= end_doy))
    return select_resample_op(df, var, op, freq, time=time, cells=cells,
                              alias=alias)


def aggregate_between_date_cols(
    df: DataFrame, var: str, op: str, bounds: DataFrame, *,
    freq: str = "YS", time: str = "time", cells: Sequence[str] = (),
    alias: str | None = None,
) -> DataFrame:
    """Array-bounds variant of :func:`aggregate_between_dates`.

    ``bounds`` has columns ``cells... , period, start_doy, end_doy`` (one row
    per cell-year, e.g. from ``first_run``/``season_start``).  The join is a
    broadcast when the bounds table is small (one row per cell-year), which
    Spark chooses automatically under AQE; the fact table is filtered by the
    joined bounds then aggregated.
    """
    df = df.withColumn("period", period_start(time, freq))
    j = df.join(F.broadcast(bounds), on=[*cells, "period"], how="inner")
    d = F.dayofyear(time)
    j = j.filter((d >= F.col("start_doy")) & (d <= F.col("end_doy")))
    agg = REDUCERS[op](time, var).alias(alias or op)
    return j.groupBy(*cells, "period").agg(agg)
