"""Percentile climatologies: percentile_doy + resample_doy lookup.

Re-expresses the reference's day-of-year percentile machinery
(``percentile_doy``, ``src/xclim/core/calendar.py:396-494``; ``resample_doy``,
``calendar.py:763-792``; Hyndman-Fan quantiles, ``src/xclim/core/utils.py:279-558``)
in Spark:

* the climatology is a **small dimension table** (<=365 rows per cell per
  percentile) produced by one groupBy over an exploded doy-window;
* applying it back to the fact table is an equi-join on the 365-day axis —
  broadcast when the climatology is small (few cells), shuffle-hash on
  ``(cells, dayofyear)`` otherwise (the fact side is usually already
  partitioned on the cell key for downstream run-length/resample ops, so
  the extra exchange is shared).

The doy window (each day's sample pool includes +-window//2 neighbouring
days across all years) is built by exploding each row into the (window)
doy-buckets it contributes to — a map-side explode followed by one
aggregation, instead of a self-join.  At 100 TB this multiplies the
aggregation input by `window` but keeps a single shuffle whose key space is
(cells x 365), which partial aggregation collapses early.

Leap years: both sides map onto a 365-day axis via :func:`~xclim_spark.calendar.doy365`
(Feb 29 pools with Feb 28; post-Feb days align across leap/non-leap years),
matching the reference's calendar conversion before bucketing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..calendar import doy365, doy365_sql

__all__ = [
    "hf_quantile",
    "hf_quantile_sql",
    "percentile_doy",
    "percentile_doy_sql",
    "resample_doy",
    "bootstrap_days_over_percentile",
    "bootstrap_spell_duration",
    "bootstrap_fraction_over_precip",
    "hyndman_fan_quantile_sql",
]


def hf_interp_sorted(
    arr: Column, p: float, *, alpha: float = 1 / 3, beta: float = 1 / 3
) -> Column:
    """Hyndman-Fan interpolation over an already-sorted array Column
    (the shared kernel of :func:`hf_quantile` and the bootstrap's
    merged-pool path)."""
    n = F.size(arr)
    h = (n.cast("double") - alpha - beta + 1.0) * p + alpha
    h = F.greatest(F.lit(1.0), F.least(h, n.cast("double")))
    j = F.floor(h).cast("int")
    gamma = h - j
    lo = F.element_at(arr, j)
    hi = F.element_at(arr, F.least(j + 1, n))
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(
        lo + gamma * (hi - lo)
    )


def hf_quantile(
    var: Column | str, p: float, *, alpha: float = 1 / 3, beta: float = 1 / 3
) -> Column:
    """Exact Hyndman-Fan quantile aggregate with arbitrary plotting
    positions (reference ``_nan_quantile``, src/xclim/core/utils.py:279-558;
    default alpha=beta=1/3 is HF type 8, 'median_unbiased' — the reference's
    ``percentile_doy`` default).

    Implemented as pure Column expressions — ``sort_array(collect_list(x))``
    then linear interpolation at virtual index ``(n - alpha - beta + 1) * p
    + alpha`` — so it stays JVM-side with no Python UDF.  NULLs are skipped
    by ``collect_list`` (NaN-aware like the reference).  Intended for
    *per-group* quantiles where groups are bounded (years x window samples
    per (cell, doy) — hundreds of values), not whole-table quantiles.
    """
    v = F.col(var) if isinstance(var, str) else var
    return hf_interp_sorted(
        F.sort_array(F.collect_list(v)), p, alpha=alpha, beta=beta
    )


def hf_quantile_sql(
    var: str, p: float, *, alpha: float = 1 / 3, beta: float = 1 / 3
) -> str:
    """DuckDB oracle twin of :func:`hf_quantile` (list aggregate +
    interpolation; DuckDB's ``quantile_cont`` is fixed at type 7 so the
    interpolation is spelled out)."""
    xs = f"list_sort(list({var}))"
    n = f"len({xs})"
    h = f"GREATEST(1.0, LEAST(({n} - {alpha} - {beta} + 1.0) * {p} + {alpha}, {n}))"
    return (
        f"(list_extract({xs}, CAST(floor({h}) AS INT))"
        f" + (({h}) - floor({h}))"
        f" * (list_extract({xs}, LEAST(CAST(floor({h}) AS INT) + 1, {n}))"
        f"    - list_extract({xs}, CAST(floor({h}) AS INT))))"
    )


def percentile_doy(
    df: DataFrame,
    var: str,
    per: float | Sequence[float],
    *,
    window: int = 5,
    time: str = "time",
    cells: Sequence[str] = (),
    alias: str = "per",
    alpha: float = 1 / 3,
    beta: float = 1 / 3,
) -> DataFrame:
    """Climatological day-of-year percentile (reference calendar.py:396-494).

    Returns a dim table ``cells... , dayofyear, <alias>`` (one column per
    requested percentile when a list is given: ``<alias>_p90`` etc.) on the
    365-day axis (join fact rows via :func:`~xclim_spark.calendar.doy365`).

    ``alpha``/``beta`` select the Hyndman-Fan plotting positions; the
    default 1/3,1/3 (type 8, 'median_unbiased') matches the reference's
    ``percentile_doy``.  ``alpha=beta=1`` (type 7 'linear', numpy/DuckDB
    default) uses Spark's built-in exact ``percentile``.
    """
    pers = [per] if isinstance(per, (int, float)) else list(per)
    half = window // 2
    # Each row contributes to doy buckets [doy-half, doy+half] on the
    # 365-day axis, wrapping at the year boundary.
    offsets = F.sequence(F.lit(-half), F.lit(half))
    df = df.withColumn("_doy0", doy365(time)).withColumn(
        "_off", F.explode(offsets)
    )
    bucket = ((F.col("_doy0") - 1 + F.col("_off") + 365) % 365) + 1
    df = df.withColumn("dayofyear", bucket)

    def name(p):
        return alias if len(pers) == 1 else f"{alias}_p{int(round(p * 100))}"

    if (alpha, beta) == (1, 1):
        aggs = [F.expr(f"percentile({var}, {p})").alias(name(p)) for p in pers]
        return df.groupBy(*cells, "dayofyear").agg(*aggs)
    # HF path: materialize the sorted sample array once per group, then
    # interpolate in a separate projection — ``hf_interp_sorted``
    # references its array five times, and an inlined
    # sort_array(collect_list(...)) would be re-sorted per reference in
    # the aggregate's result projection.
    grouped = df.groupBy(*cells, "dayofyear").agg(
        F.sort_array(F.collect_list(var)).alias("_sarr")
    )
    return grouped.select(
        *cells, "dayofyear",
        *[hf_interp_sorted(F.col("_sarr"), p, alpha=alpha, beta=beta)
          .alias(name(p)) for p in pers],
    )


def percentile_doy_sql(
    daily: str,
    var: str,
    p: float,
    *,
    window: int = 5,
    time: str = "day",
    cells: str = "cell",
    alias: str = "per",
    alpha: float = 1 / 3,
    beta: float = 1 / 3,
) -> str:
    """DuckDB CTE body mirroring :func:`percentile_doy` for oracles.

    Produces ``per AS (SELECT <cells>, dayofyear, <alias> FROM ...)``-shaped
    SQL (caller wraps in WITH).  Uses the same doy365 bucketing + HF
    interpolation.
    """
    half = window // 2
    d365 = doy365_sql(time)
    q = hf_quantile_sql(var, p, alpha=alpha, beta=beta)
    return f"""
pooled AS (
  SELECT {cells}, {var},
         (({d365} - 1 + off.o + 365) % 365) + 1 AS dayofyear
  FROM {daily}, (SELECT unnest(range(-{half}, {half + 1})) AS o) off
),
per AS (
  SELECT {cells}, dayofyear, {q} AS {alias}
  FROM pooled GROUP BY {cells}, dayofyear
)
""".strip()


def resample_doy(
    df: DataFrame,
    per_df: DataFrame,
    *,
    time: str = "time",
    cells: Sequence[str] = (),
    on_cells: bool = True,
    broadcast: bool | None = None,
) -> DataFrame:
    """Join the doy-indexed climatology onto the fact table (reference
    calendar.py:763-792), matching fact rows on the 365-day doy axis.

    ``broadcast`` controls the join strategy: ``True`` forces a broadcast
    (right only when the climatology is genuinely small — few cells;
    at 365 x n_cells rows a 1M-cell grid would broadcast ~365M rows to
    every executor).  ``False`` hints a shuffle-hash join on
    ``(cells, dayofyear)``.  The default ``None`` leaves the choice to
    Catalyst/AQE, which sizes the dim side at runtime — the safe default
    for the 100 TB target.
    """
    keys = ([*cells] if on_cells else []) + ["dayofyear"]
    fact = df.withColumn("dayofyear", doy365(time))
    if broadcast is True:
        per_df = F.broadcast(per_df)
    elif broadcast is False:
        per_df = per_df.hint("shuffle_hash")
    return fact.join(per_df, on=keys, how="left")


def bootstrap_days_over_percentile(
    df: DataFrame,
    var: str,
    p: float = 0.9,
    *,
    base_years: Sequence[int],
    window: int = 5,
    op: str = ">",
    time: str = "time",
    cells: Sequence[str] = (),
    alpha: float = 1 / 3,
    beta: float = 1 / 3,
    alias: str = "days_over",
) -> DataFrame:
    """Zhang-2005 bootstrapped percentile exceedance for in-base years
    (reference ``bootstrap_func``, src/xclim/core/bootstrapping.py:22-211).

    For each in-base year ``y``, the doy-percentile climatology is
    recomputed on the base period with year ``y``'s values replaced by
    each other base year ``r`` (so ``r`` counts twice); the exceedance
    count for year ``y`` is the average over all such replacements —
    removing the artificial discontinuity at the reference-period edges.

    Plan shape: the known O(n_years^2) bootstrap never copies the data
    per pair.  Rows explode only by the doy window (x``window``), are
    collected ONCE into per-(cell, doy, year) sorted arrays, and every
    (y, r) replacement pool is then a JVM-side array merge of those
    per-year arrays (years != y, with r's array concatenated twice) —
    the shuffle carries the window-exploded rows once, and the n_years^2
    factor lives entirely in map-side higher-order expressions over
    arrays of ~window values per year.  Returns ``cells..., year,
    <alias>`` for the in-base years only (out-of-base years use the
    plain climatology path).
    """
    per = _bootstrap_doy_thresholds(
        df, var, p, base_years=base_years, window=window, time=time,
        cells=cells, alpha=alpha, beta=beta)

    from .generic import get_op

    fact = df.filter(F.year(time).isin(sorted(base_years))) \
        .withColumn("year", F.year(time)) \
        .withColumn("dayofyear", doy365(time))
    j = fact.join(per, on=[*cells, "year", "dayofyear"])
    exceed = get_op(op)(F.col(var), F.col("_thresh"))
    per_rep = j.groupBy(*cells, "year", "_r").agg(
        F.sum(exceed.cast("long")).alias("_n")
    )
    return per_rep.groupBy(*cells, "year").agg(
        F.avg("_n").alias(alias)
    )


def _bootstrap_doy_thresholds(
    df: DataFrame,
    var: str,
    p: float,
    *,
    base_years: Sequence[int],
    window: int = 5,
    time: str = "time",
    cells: Sequence[str] = (),
    alpha: float = 1 / 3,
    beta: float = 1 / 3,
) -> DataFrame:
    """The Zhang-2005 replacement-pool threshold table shared by the
    days-over and spell-duration bootstraps: one row per ``(cells,
    dayofyear, year, _r)`` with ``_thresh`` the Hyndman-Fan p-quantile
    of the base period where in-base year ``year``'s values are
    replaced by year ``_r``'s (so ``_r`` counts twice).  See
    :func:`bootstrap_days_over_percentile` for the plan-shape
    rationale (single shuffle; the n_years^2 factor lives in map-side
    array expressions)."""
    years = sorted(base_years)
    pairs = [(y, r) for y in years for r in years if r != y]
    base = df.filter(F.year(time).isin(years))
    half = window // 2
    offsets = F.sequence(F.lit(-half), F.lit(half))

    # One groupBy pivots each base year's (window-pooled) samples into its
    # own sorted-array column — the base-year list is a plan-time literal,
    # so no second aggregation and no interpreted filter/transform lambdas
    # are needed downstream: every replacement pool is a codegen'd
    # concat+array_sort of 2-3 array columns.
    year_arrays = (
        base.withColumn("_doy0", doy365(time))
        .withColumn("_off", F.explode(offsets))
        .withColumn(
            "dayofyear",
            ((F.col("_doy0") - 1 + F.col("_off") + 365) % 365) + 1,
        )
        .groupBy(*cells, "dayofyear")
        .agg(*[
            F.sort_array(F.collect_list(
                F.when(F.year(time) == y, F.col(var)))).alias(f"_a{y}")
            for y in years
        ])
    )

    # Explode the (y, r) pair lattice as TINY int structs and build each
    # replacement pool AFTER the explode, one row at a time, from a
    # single array-of-arrays column: per-row memory is O(B*window)
    # (one pool + the year stack), not the O(B^2*window) of
    # materializing every pool as its own column — a 30-year base
    # period stays ~1 KB/row instead of ~1 MB/row, with identical
    # results and the same single shuffle (the pool never leaves the
    # map side; only the scalar threshold survives the projection).
    # ``hf_interp_sorted`` references its array five times and
    # CollapseProject keeps multiply-referenced non-trivial expressions
    # separate, so each pool is still built exactly once per row.
    idx = {y: i for i, y in enumerate(years)}
    pair_structs = F.array(*[
        F.struct(F.lit(y).alias("year"), F.lit(r).alias("_r"),
                 F.lit(idx[y]).alias("_yi"), F.lit(idx[r]).alias("_ri"))
        for y, r in pairs
    ])
    return (
        year_arrays
        .withColumn("_yrs", F.array(*[F.col(f"_a{y}") for y in years]))
        .drop(*[f"_a{y}" for y in years])
        .withColumn("_pt", F.explode(pair_structs))
        .withColumn("_pool", F.array_sort(F.concat(
            F.flatten(F.filter(
                "_yrs", lambda x, i: i != F.col("_pt._yi"))),
            F.element_at("_yrs", F.col("_pt._ri") + 1))))
        .select(*cells, "dayofyear", "_pt.year", "_pt._r",
                hf_interp_sorted(F.col("_pool"), p, alpha=alpha,
                                 beta=beta).alias("_thresh"))
    )


def bootstrap_spell_duration(
    df: DataFrame,
    var: str,
    p: float = 0.1,
    *,
    base_years: Sequence[int],
    window: int = 5,
    spell_window: int = 6,
    op: str = "<",
    time: str = "time",
    cells: Sequence[str] = (),
    alpha: float = 1 / 3,
    beta: float = 1 / 3,
    alias: str = "spell_days",
) -> DataFrame:
    """Zhang-2005 bootstrapped CSDI/WSDI for in-base years (reference
    ``percentile_bootstrap`` applied to the spell-duration indices,
    src/xclim/core/bootstrapping.py:22-211 at
    src/xclim/indices/_multivariate.py:69,1719).

    Same replacement-pool thresholds as
    :func:`bootstrap_days_over_percentile`, but the per-replacement
    statistic is days inside >= ``spell_window`` consecutive-day runs
    beyond the threshold (the run-length family), not a plain
    exceedance count: for each in-base year ``y`` and replacement
    ``r``, the year's daily flags are re-evaluated against the (y, r)
    climatology and sessionized per ``(cells, _r, year)`` — ordering
    by real date, so leap-day pooling on the 365-day threshold axis
    never perturbs run contiguity — then the counts are averaged over
    replacements.

    Plan shape: one threshold shuffle (shared builder), one fact join
    that replicates in-base rows x(n_years-1) — the inherent Zhang
    factor, carried as rows not plan copies — and one windowed pass
    per (cells, _r, year) partition of ~365 rows.  Returns ``cells...,
    year, <alias>`` for the in-base years only."""
    from . import run_length as rl
    from .generic import get_op

    per = _bootstrap_doy_thresholds(
        df, var, p, base_years=base_years, window=window, time=time,
        cells=cells, alpha=alpha, beta=beta)
    fact = df.filter(F.year(time).isin(sorted(base_years))) \
        .withColumn("year", F.year(time)) \
        .withColumn("dayofyear", doy365(time))
    j = fact.join(per, on=[*cells, "year", "dayofyear"])
    cond = get_op(op)(F.col(var), F.col("_thresh"))
    counts = rl.windowed_run_count(
        j, cond, int(spell_window), freq="YS", time=time,
        cells=[*cells, "_r"], alias="_n")
    return counts.groupBy(
        *cells, F.year("period").cast("int").alias("year")
    ).agg(F.avg("_n").alias(alias))


def bootstrap_fraction_over_precip(
    df: DataFrame,
    var: str,
    p: float = 0.75,
    *,
    base_years: Sequence[int],
    window: int = 5,
    wet_thresh: float = 1.0,
    op: str = ">",
    time: str = "time",
    cells: Sequence[str] = (),
    alpha: float = 1 / 3,
    beta: float = 1 / 3,
    alias: str = "frac",
    thresh_digits: int | None = None,
) -> DataFrame:
    """Zhang-2005 bootstrap for the FRACTION family
    (``fraction_over_precip_thresh``/``rprctot``-style ratios; reference
    ``percentile_bootstrap`` applied at
    src/xclim/indices/_multivariate.py:1238-1295): for each in-base year
    ``y`` and replacement ``r``, the WET-DAY doy-percentile climatology
    is recomputed with year ``y`` replaced by ``r``, each day's
    effective threshold is ``tp = per if per > wet_thresh else
    wet_thresh`` (the reference's ``per.where(per > thresh, thresh)`` —
    an empty replacement pool degrades to the wet threshold, it never
    drops the day), and the per-replacement statistic is::

        sum(pr over days where pr OP tp) / sum(pr over wet days)

    per year, averaged over replacements.  Days that are not wet can
    never exceed ``tp >= wet_thresh`` under the constrained ops
    (>, >=), so both sums run over the wet-day subset only.

    Plan shape: thresholds share :func:`_bootstrap_doy_thresholds` (one
    shuffle, n_years^2 factor in map-side array expressions); the fact
    side replicates wet in-base rows x(n_years-1) through a literal
    replacement-array explode — the inherent Zhang factor carried as
    rows, never as plan copies — then one aggregation.  Returns
    ``cells..., year, <alias>`` for the in-base years only.

    ``thresh_digits`` rounds the interpolated threshold before the
    exceedance comparison.  The HF interpolation can land within 1e-14
    of an actual sample value (gamma ~ 0 or ~ 1), where two correct
    evaluation orders disagree on ``pr > tp`` — unlike a count-only
    statistic this flips the SUM by a whole day's precipitation.  A
    9-digit snap makes the comparison order-independent (used by the
    cross-engine validation gate; leave None for raw floats).
    """
    from .generic import get_op

    if op not in (">", ">=", "gt", "ge"):
        raise ValueError("fraction family constrains op to > / >=")
    years = sorted(base_years)
    wet = get_op(op)(F.col(var), F.lit(float(wet_thresh)))
    per = _bootstrap_doy_thresholds(
        df.filter(wet), var, p, base_years=years, window=window,
        time=time, cells=cells, alpha=alpha, beta=beta)
    fact = (df.filter(F.year(time).isin(years)).filter(wet)
            .withColumn("year", F.year(time))
            .withColumn("dayofyear", doy365(time)))
    # replacement lattice: a plan-time literal year -> [other years] map
    rep_arr = F.array().cast("array<int>")
    for y in years:
        rep_arr = F.when(
            F.col("year") == y,
            F.array(*[F.lit(r) for r in years if r != y]),
        ).otherwise(rep_arr)
    fact = fact.withColumn("_r", F.explode(rep_arr))
    # LEFT join: a (doy, y, r) slot with an empty wet-day pool has no
    # threshold row; tp falls back to the wet threshold (see above)
    j = fact.join(per, on=[*cells, "year", "_r", "dayofyear"],
                  how="left")
    tp = F.when(F.col("_thresh") > float(wet_thresh), F.col("_thresh")) \
          .otherwise(F.lit(float(wet_thresh)))
    if thresh_digits is not None:
        tp = F.round(tp, thresh_digits)
    over = F.when(get_op(op)(F.col(var), tp), F.col(var)) \
            .otherwise(F.lit(0.0))
    per_rep = j.groupBy(*cells, "year", "_r").agg(
        (F.sum(over) / F.sum(var)).alias("_frac"))
    return per_rep.groupBy(*cells, "year").agg(
        F.avg("_frac").alias(alias))


def hyndman_fan_quantile_sql(var: str, p: float) -> str:
    """DuckDB oracle twin for the exact linear-interpolation percentile:
    ``quantile_cont`` is Hyndman-Fan type 7 (alpha=beta=1), matching Spark's
    ``percentile``."""
    return f"quantile_cont({var}, {p})"
