"""Generic compute functions bound by indicator specs.

Each compute is a named bridge from a declarative spec to the kernel layer
— the Spark equivalents of the reference's generic indices used by its
YAML virtual modules (``count_occurrences``, ``spell_length``, … ;
``src/xclim/data/cf.yml`` backed by ``src/xclim/indices/generic.py``).

Signature contract: ``compute(df, cols, params, *, time, cells, alias)``
returns a DataFrame ``cells..., period, <alias>``.  ``cols`` maps input
roles (``data``, ``low_data``, ``high_data``…) to DataFrame column names;
``params`` are already unit-converted scalars.

A compute that is one aggregate over each period's rows is written once,
as ``build(cols, params, *, time) -> Column`` under
:func:`~.core.register_aggregate`, which derives its DataFrame form (time
indexer filter, ``groupBy(cells, period)``, the aggregate) and lets the
indicator layer share one aggregation between several indicators and
their count-based missing masks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import generic as g
from ..operators import run_length as rl
from .core import register_aggregate, register_compute, time_indexer


def _thr(params: dict):
    """Threshold under either spelling: ``thresh`` (atmos specs) or
    ``threshold`` (clix-meta cf.yml naming)."""
    v = params.get("thresh")
    return v if v is not None else params.get("threshold")


@register_aggregate("resample_op")
def resample_op(cols, params, *, time):
    """select_resample_op (reference generic.py:83-125)."""
    return g.reduce_agg(cols["data"], params["op"], time)


@register_compute("rolling_resample_op")
def rolling_resample_op(df, cols, params, *, time, cells, alias):
    """select_rolling_resample_op (reference generic.py:128-174)."""
    return g.select_rolling_resample_op(
        df, cols["data"], params["op"], params["freq"],
        window=int(params["window"]),
        window_op=params.get("window_op", "mean"),
        time=time, cells=cells, alias=alias, **time_indexer(params),
    )


@register_aggregate("count_occurrences")
def count_occurrences(cols, params, *, time):
    """threshold_count (reference generic.py:329-361; cf.yml
    count_occurrences)."""
    return g.threshold_count_agg(cols["data"], params["op"], _thr(params))


@register_aggregate("domain_count")
def domain_count(cols, params, *, time):
    """domain_count (reference generic.py:364-392)."""
    return g.domain_count_agg(cols["data"], params["low"], params["high"])


@register_aggregate("temperature_sum")
def temperature_sum(cols, params, *, time):
    """Signed degree-day sum (reference generic.py:1324-1357)."""
    return g.temperature_sum_agg(cols["data"], params["op"], _thr(params))


@register_aggregate("thresholded_statistics")
def thresholded_statistics(cols, params, *, time):
    """Reducer over rows meeting a condition (reference generic.py:1279)."""
    return g.thresholded_statistics_agg(
        cols["data"], params["reducer"], params["op"], _thr(params), time)


@register_compute("longest_run")
def longest_run(df, cols, params, *, time, cells, alias):
    """Longest run of ``data op thresh`` (reference run_length.py:338;
    maximum_consecutive_* family)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.longest_run(
        df, cond, freq=params["freq"], time=time, cells=cells, alias=alias,
        resample_before_rl=params.get("resample_before_rl", True),
    )


@register_compute("windowed_run_count")
def windowed_run_count(df, cols, params, *, time, cells, alias):
    """Days inside >=window runs (reference run_length.py:437; spell_length
    total form)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.windowed_run_count(
        df, cond, int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_compute("windowed_run_events")
def windowed_run_events(df, cols, params, *, time, cells, alias):
    """Number of >=window runs (reference run_length.py:381; *_frequency
    spells)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.windowed_run_events(
        df, cond, int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_compute("spell_length_max")
def spell_length_max(df, cols, params, *, time, cells, alias):
    """Longest >=window spell (reference rle_statistics max,
    run_length.py:275; *_max_length spells)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.rle_statistics(
        df, cond, "max", int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_compute("first_run_doy")
def first_run_doy(df, cols, params, *, time, cells, alias):
    """Day-of-year of the first >=window run (reference run_length.py:643;
    growing_season_start shape)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.first_run(
        df, cond, int(params["window"]), freq=params["freq"],
        time=time, cells=cells, coord="doy", alias=alias,
    )


@register_aggregate("bivariate_count_occurrences")
def bivariate_count_occurrences(cols, params, *, time):
    """Count of days meeting two conditions at once (heat_wave shape,
    reference _multivariate.py:646 uses both tasmin+tasmax)."""
    cond = g.compare(
        cols["low_data"], params["op_low"], params["thresh_low"]
    ) & g.compare(cols["high_data"], params["op_high"], params["thresh_high"])
    return F.sum(cond.cast("long"))


@register_compute("bivariate_spell_events")
def bivariate_spell_events(df, cols, params, *, time, cells, alias):
    """Number of >=window bivariate spells (heat_wave_frequency,
    reference _multivariate.py:646)."""
    cond = g.compare(
        cols["low_data"], params["op_low"], params["thresh_low"]
    ) & g.compare(cols["high_data"], params["op_high"], params["thresh_high"])
    return rl.windowed_run_events(
        df, cond, int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_aggregate("range_statistics")
def range_statistics(cols, params, *, time):
    """Reducer over (high - low), e.g. daily_temperature_range
    (reference _multivariate.py:482-560)."""
    rng = F.col(cols["high_data"]) - F.col(cols["low_data"])
    return g.REDUCERS[params.get("reducer", "mean")](time, rng)


@register_compute("interday_range_variability")
def interday_range_variability(df, cols, params, *, time, cells, alias):
    """Mean absolute day-to-day difference of (high - low)
    (daily_temperature_range_variability, reference _multivariate.py:561)."""
    from pyspark.sql import Window

    rng = F.col(cols["high_data"]) - F.col(cols["low_data"])
    w = Window.partitionBy(*cells).orderBy(time)
    df = df.withColumn("_rng", rng)
    df = df.withColumn("_vdtr", F.abs(F.col("_rng") - F.lag("_rng").over(w)))
    return g.select_resample_op(
        df, "_vdtr", "mean", params["freq"], time=time, cells=cells,
        alias=alias,
    )


@register_compute("days_over_doy_percentile")
def days_over_doy_percentile(df, cols, params, *, time, cells, alias):
    """tg90p family: count days beyond the day-of-year percentile
    climatology (reference _multivariate.py:1300; resample_doy
    calendar.py:763).  ``params['per']`` is the climatology DataFrame
    (cells..., dayofyear, per) built by ``percentile_doy``."""
    from ..operators import percentile as pc

    per_df = params["per"]
    j = pc.resample_doy(df, per_df, time=time, cells=cells,
                        broadcast=params.get("broadcast"))
    cond = g.compare(cols["data"], params.get("op", ">"), F.col("per"))
    return g.select_resample_op(
        j.withColumn("_over", cond.cast("long")), "_over", "sum",
        params["freq"], time=time, cells=cells, alias=alias,
    )


@register_compute("spell_stats")
def spell_stats(df, cols, params, *, time, cells, alias):
    """Windowed-aggregate spells — dry/wet_spell_* family (reference
    _threshold.py:3314-3742 via generic.py:543-769): days are in a spell
    when the rolling ``window`` ``win_reducer`` of the data meets ``op
    thresh``; ``spell_reducer`` in {count, sum, max} maps to
    frequency / total length / max length."""
    return rl.spell_length_statistics(
        df, cols["data"], int(params["window"]),
        params.get("win_reducer", "sum"), params["op"], params["thresh"],
        params["spell_reducer"], params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_compute("season_field")
def season_field(df, cols, params, *, time, cells, alias):
    """One field of the season automaton — growing/frost-free season
    start/end/length (reference run_length.py:891-1147,
    _threshold.py:975-1475).  ``params['field']`` in {start, end,
    length}; start/end are emitted as day-of-year."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    out = rl.season_bounds(
        df, cond, int(params["window"]),
        mid_date=params.get("mid_date", "07-01"),
        freq=params["freq"], time=time, cells=cells,
    )
    field = params["field"]
    keys = [*[F.col(c) for c in cells], F.col("period")]
    if field == "length":
        col = F.col("season_length")
    else:
        col = F.dayofyear(F.col(f"season_{field}"))
    return out.select(*keys, col.alias(alias))


@register_compute("first_run_after_date_doy")
def first_run_after_date_doy(df, cols, params, *, time, cells, alias):
    """Day-of-year of the first >=window run after a calendar date —
    growing_season_end / first_fall_frost shape (reference
    run_length.py:1204-1242)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.first_run_after_date(
        df, cond, int(params["window"]), date=params.get("date", "07-01"),
        freq=params["freq"], time=time, cells=cells, coord="doy",
        alias=alias,
    )


@register_compute("last_run_before_date_doy")
def last_run_before_date_doy(df, cols, params, *, time, cells, alias):
    """Day-of-year of the last >=window run before a calendar date —
    last_spring_frost (reference _threshold.py:1526,
    run_length.py:1245-1287)."""
    cond = g.compare(cols["data"], params["op"], params["thresh"])
    return rl.last_run_before_date(
        df, cond, int(params["window"]), date=params.get("date", "07-01"),
        freq=params["freq"], time=time, cells=cells, coord="doy",
        alias=alias,
    )


@register_compute("spell_duration_index")
def spell_duration_index(df, cols, params, *, time, cells, alias):
    """WSDI/CSDI (reference _multivariate.py:69,1719): days inside
    >=window runs beyond the day-of-year percentile climatology
    (``params['per']`` DataFrame from ``percentile_doy``)."""
    from ..operators import percentile as pc

    j = pc.resample_doy(df, params["per"], time=time, cells=cells,
                        broadcast=params.get("broadcast"))
    cond = g.compare(cols["data"], params.get("op", ">"), F.col("per"))
    return rl.windowed_run_count(
        j, cond, int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_compute("bivariate_spell_max_length")
def bivariate_spell_max_length(df, cols, params, *, time, cells, alias):
    """Longest >=window bivariate spell (heat_wave_max_length,
    reference _multivariate.py:724)."""
    cond = g.compare(
        cols["low_data"], params["op_low"], params["thresh_low"]
    ) & g.compare(cols["high_data"], params["op_high"], params["thresh_high"])
    return rl.rle_statistics(
        df, cond, "max", int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_compute("bivariate_spell_total_length")
def bivariate_spell_total_length(df, cols, params, *, time, cells, alias):
    """Days inside >=window bivariate spells (heat_wave_total_length,
    reference _multivariate.py:803)."""
    cond = g.compare(
        cols["low_data"], params["op_low"], params["thresh_low"]
    ) & g.compare(cols["high_data"], params["op_high"], params["thresh_high"])
    return rl.windowed_run_count(
        df, cond, int(params["window"]), freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_aggregate("thresholded_ratio")
def thresholded_ratio(cols, params, *, time):
    """Ratio of the thresholded sum over the total sum per period —
    liquid_precip_ratio / rprctot shape (reference
    _multivariate.py:871, _threshold.py:3170).  The condition applies to
    ``cond_data`` (defaults to the summed data itself)."""
    cond_col = cols.get("cond_data", cols["data"])
    cond = g.compare(cond_col, params["op"], params["thresh"])
    num = F.when(cond, F.col(cols["data"])).otherwise(F.lit(0.0))
    return F.sum(num) / F.sum(cols["data"])


@register_compute("winter_rain_ratio")
def winter_rain_ratio(df, cols, params, *, time, cells, alias):
    """Ratio of liquid to total precipitation over winter (DJF) — the
    reference computes liquid_precip_ratio at QS-DEC and keeps the
    December-anchored quarters (ref _multivariate.py:904-937).
    ``cond_data`` (temperature) decides liquid vs solid when no prsn is
    given, exactly the reference's fallback."""
    p = dict(params)
    p.setdefault("freq", "QS-DEC")
    p.setdefault("op", ">=")
    out = g.resample_agg(df, p["freq"],
                         thresholded_ratio(cols, p, time=time).alias(alias),
                         time=time, cells=cells)
    return out.filter(F.month("period") == 12)


@register_compute("degree_days_exceedance_date")
def degree_days_exceedance_date(df, cols, params, *, time, cells, alias):
    """First day-of-year where cumulative degree days cross a sum
    (reference _threshold.py:3215)."""
    return g.degree_days_exceedance_date(
        df, cols["data"], params.get("op", ">"), params["thresh"],
        params["sum_thresh"], freq=params.get("freq", "YS"),
        after_date=params.get("after_date"), time=time, cells=cells,
        alias=alias,
    )


@register_compute("weighted_domain_sum")
def weighted_domain_sum(df, cols, params, *, time, cells, alias):
    """Spatially aggregated thresholded weighted sum per timestep —
    sea_ice_area/extent (reference _threshold.py:3058-3134): sum of
    ``weight`` (times ``data`` unless ``extent``) over cells where
    ``data op thresh``; grouped by the period key only (``cells``
    intentionally NOT in the output grain)."""
    from ..calendar import period_start

    cond = g.compare(cols["data"], params["op"], params["thresh"])
    val = F.col(cols["weight"]) if params.get("extent") \
        else F.col(cols["weight"]) * F.col(cols["data"])
    d = df.withColumn("_v", F.when(cond, val).otherwise(F.lit(0.0)))
    per = period_start(time, params.get("freq", "D"))
    return d.groupBy(per.alias("period")).agg(F.sum("_v").alias(alias))


@register_compute("melt_rolling_max")
def melt_rolling_max(df, cols, params, *, time, cells, alias):
    """Max over period of the rolling ``window``-day sum of snow melt
    (positive day-over-day SWE decrease) — snow_melt_we_max (reference
    _hydrology.py:371-405)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*cells).orderBy(time)
    melt = -(F.col(cols["data"]) - F.lag(cols["data"]).over(w))
    d = df.withColumn("_melt", melt)
    return g.select_rolling_resample_op(
        d, "_melt", "max", params["freq"], window=int(params["window"]),
        window_op="sum", time=time, cells=cells, alias=alias,
    )


@register_compute("base_flow_index")
def base_flow_index(df, cols, params, *, time, cells, alias):
    """min(7-day mean flow) / mean flow (reference _hydrology.py:50)."""
    from ..operators import hydrology as hy

    return hy.base_flow_index(df, cols["data"], params["freq"],
                              time=time, cells=cells, alias=alias)


@register_aggregate("statistics")
def statistics(cols, params, *, time):
    """clix-meta ``statistics`` (cf.yml; reference generic.py:83-125):
    plain reducer over the period — same kernel as ``resample_op`` but
    parameterized by ``reducer`` as in the YAML."""
    return g.reduce_agg(cols["data"], params["reducer"], time)


@register_compute("spell_length")
def spell_length(df, cols, params, *, time, cells, alias):
    """clix-meta ``spell_length`` (cf.yml cdd/cwd/ct**TT family): reducer
    over lengths of runs where ``data op threshold`` (reference
    run_length.py:275 rle_statistics)."""
    cond = g.compare(cols["data"], params["op"], params["threshold"])
    return rl.rle_statistics(
        df, cond, params.get("reducer", "max"), 1, freq=params["freq"],
        time=time, cells=cells, alias=alias,
    )


@register_aggregate("diurnal_temperature_range")
def diurnal_temperature_range(cols, params, *, time):
    """clix-meta ``diurnal_temperature_range`` (cf.yml dtr/maxdtr):
    reducer over (high - low) — same kernel as ``range_statistics``."""
    return range_statistics(cols, params, time=time)


@register_aggregate("extreme_temperature_range")
def extreme_temperature_range(cols, params, *, time):
    """clix-meta ``extreme_temperature_range`` (cf.yml etr): per-period
    max(high) - min(low) (reference _multivariate.py:615)."""
    return F.max(cols["high_data"]) - F.min(cols["low_data"])


@register_compute("interday_diurnal_temperature_range")
def interday_diurnal_temperature_range(df, cols, params, *, time, cells,
                                       alias):
    """clix-meta ``interday_diurnal_temperature_range`` (cf.yml vdtr) —
    same kernel as ``interday_range_variability``."""
    return interday_range_variability(df, cols, params, time=time,
                                      cells=cells, alias=alias)


@register_compute("rb_flashiness_index")
def rb_flashiness_index(df, cols, params, *, time, cells, alias):
    """Richards-Baker flashiness (reference _hydrology.py:94)."""
    from ..operators import hydrology as hy

    return hy.rb_flashiness_index(df, cols["data"], params["freq"],
                                  time=time, cells=cells, alias=alias)


@register_compute("temperature_seasonality")
def temperature_seasonality(df, cols, params, *, time, cells, alias):
    """ANUCLIM BIO4 (anuclim.yml P4; reference _anuclim.py:105)."""
    from ..operators import anuclim as an

    return an.temperature_seasonality(
        df, cols["data"], params["freq"], time=time, cells=cells,
        alias=alias)


@register_compute("precip_seasonality")
def precip_seasonality(df, cols, params, *, time, cells, alias):
    """ANUCLIM BIO15 (anuclim.yml P15; reference _anuclim.py:161)."""
    from ..operators import anuclim as an

    return an.precip_seasonality(
        df, cols["data"], params["freq"], time=time, cells=cells,
        alias=alias)


@register_compute("isothermality")
def isothermality(df, cols, params, *, time, cells, alias):
    """ANUCLIM BIO3 (anuclim.yml P3; reference _anuclim.py:66)."""
    from ..operators import anuclim as an

    return an.isothermality(
        df, cols["low_data"], cols["high_data"], params["freq"],
        time=time, cells=cells, alias=alias)


@register_compute("quarter_stat")
def quarter_stat(df, cols, params, *, time, cells, alias):
    """Rolling 3-month quarter stat selected by another variable —
    ANUCLIM BIO8-11/16-19 (reference _anuclim.py:215-526 via
    _to_quarter/_from_other_arg :527-620).  ``cols['data']`` is reduced
    (``op``), ``cols['sel_data']`` (default data) drives the warmest/
    coldest/wettest/driest selection (``sel_op`` + ``select``)."""
    from ..operators import anuclim as an

    return an.quarter_stat(
        df, cols["data"], op=params.get("op", "mean"),
        sel_var=cols.get("sel_data"), sel_op=params.get("sel_op", "mean"),
        select=params.get("select", "max"), freq=params["freq"],
        time=time, cells=cells, alias=alias)


@register_compute("period_extreme")
def period_extreme(df, cols, params, *, time, cells, alias):
    """Extreme of the per-subperiod reduction within each period —
    ANUCLIM P13/P14 PrecipWettest/DriestPeriod (reference
    _anuclim.py:330-420 with monthly src periods): monthly ``sub_op``
    then ``select`` over months of the year."""
    from ..calendar import period_start

    sub = {"sum": F.sum, "mean": F.avg, "max": F.max, "min": F.min}[
        params.get("sub_op", "sum")]
    outer = F.max if params.get("select", "max") == "max" else F.min
    monthly = (
        df.withColumn("_m", period_start(time, params.get("subfreq", "MS")))
        .groupBy(*cells, "_m")
        .agg(sub(cols["data"]).alias("_v"))
    )
    return (
        monthly.withColumn("period", period_start("_m", params["freq"]))
        .groupBy(*cells, "period")
        .agg(outer("_v").alias(alias))
    )


@register_aggregate("occurrence_fraction")
def occurrence_fraction(cols, params, *, time):
    """Fraction (or %) of days meeting ``data op thresh`` per period —
    wetdays_prop / snowfall_frequency (reference _threshold.py:2793,
    :528).  ``params['percent']`` scales to 0-100."""
    cond = g.compare(cols["data"], params["op"], _thr(params))
    scale = 100.0 if params.get("percent") else 1.0
    return F.avg(cond.cast("double")) * scale


@register_compute("last_run_doy")
def last_run_doy(df, cols, params, *, time, cells, alias):
    """Day-of-year of the last >=window run (reference run_length.py:693;
    last_snowfall shape)."""
    cond = g.compare(cols["data"], params["op"], _thr(params))
    return rl.last_run(
        df, cond, int(params.get("window", 1)), freq=params["freq"],
        time=time, cells=cells, coord="doy", alias=alias,
    )


@register_compute("bivariate_spell_mean_length")
def bivariate_spell_mean_length(df, cols, params, *, time, cells, alias):
    """Mean length of >=window bivariate spells (freezethaw_spell_mean_length,
    reference _multivariate.py multiday_temperature_swing op=mean)."""
    cond = g.compare(
        cols["low_data"], params["op_low"], params["thresh_low"]
    ) & g.compare(cols["high_data"], params["op_high"], params["thresh_high"])
    return rl.rle_statistics(
        df, cond, "mean", int(params.get("window", 1)),
        freq=params["freq"], time=time, cells=cells, alias=alias,
    )


@register_compute("increase_count")
def increase_count(df, cols, params, *, time, cells, alias):
    """Days where ``data`` increases by >= thresh versus the previous day
    — snd/snw_storm_days (reference _threshold.py:2471-2535)."""
    from pyspark.sql import Window

    from ..calendar import period_start

    w = Window.partitionBy(*cells).orderBy(time)
    inc = F.col(cols["data"]) - F.lag(cols["data"]).over(w)
    per = period_start(time, params["freq"])
    return (
        df.withColumn("_inc", inc)
        .groupBy(*cells, per.alias("period"))
        .agg(F.sum((F.col("_inc") >= F.lit(_thr(params)))
                   .cast("long")).alias(alias))
    )


@register_compute("converter")
def converter(df, cols, params, *, time, cells, alias):
    """Per-timestep physical converter (reference indicators/convert realm,
    src/xclim/indicators/convert/_conversion.py): applies a Column-builder
    from :mod:`xclim_spark.functions.converters` row-wise, preserving the
    time grain.  ``params['fn']`` names the function; ``params['args']``
    lists input roles / parameter names in positional order;
    ``params['outputs']`` names the columns for tuple-returning
    converters."""
    from ..functions import converters as cv
    from ..functions import solar as sol

    fn = getattr(cv, params["fn"], None) or getattr(sol, params["fn"])
    args = []
    for a in params.get("args", []):
        if a == "_time":
            args.append(time)
        elif a in cols:
            args.append(cols[a])
        else:
            args.append(params[a])
    out = fn(*args)
    keys = [*cells, time]
    if isinstance(out, tuple):
        names = params["outputs"]
        return df.select(*keys, *[c.alias(n) for c, n in zip(out, names)])
    return df.select(*keys, out.alias(alias))


@register_compute("utci")
def utci(df, cols, params, *, time, cells, alias):
    """UTCI (reference converters.py:2389; staged multi-column build)."""
    from ..functions import converters as cv

    staged = cv.universal_thermal_climate_index(
        df, cols["tas"], cols["hurs"], cols["sfcWind"], cols["mrt"],
        out=alias, mask_invalid=params.get("mask_invalid", True),
    )
    return staged.select(*cells, time, alias)


@register_compute("mean_radiant_temperature")
def mean_radiant_temperature(df, cols, params, *, time, cells, alias):
    """Mean radiant temperature (reference converters.py:2538)."""
    from ..functions import converters as cv

    out = cv.mean_radiant_temperature(
        time, cols["lat"], cols["rsds"], cols["rsus"], cols["rlds"],
        cols["rlus"], stat=params.get("stat", "sunlit"))
    return df.select(*cells, time, out.alias(alias))


@register_compute("potential_evapotranspiration")
def potential_evapotranspiration_c(df, cols, params, *, time, cells, alias):
    """PET converter indicator (reference converters.py:1890)."""
    from ..functions import converters as cv

    out = cv.potential_evapotranspiration(
        time, cols["lat"],
        tasmin_c=cols.get("tasmin"), tasmax_c=cols.get("tasmax"),
        tas_c=cols.get("tas"), hurs_pct=cols.get("hurs"),
        sfcwind_10m_ms=cols.get("sfcWind"), rsds_wm2=cols.get("rsds"),
        rsus_wm2=cols.get("rsus"), rlds_wm2=cols.get("rlds"),
        rlus_wm2=cols.get("rlus"),
        method=params.get("method", "hargreaves85"))
    return df.select(*cells, time, out.alias(alias))


@register_compute("water_budget")
def water_budget_c(df, cols, params, *, time, cells, alias):
    """pr minus PET, from given PET or from temperature (reference
    converters.py water_budget / water_budget_from_tas)."""
    from ..functions import converters as cv

    if cols.get("evspsblpot"):
        pet = F.col(cols["evspsblpot"])
    else:
        pet = cv.potential_evapotranspiration(
            time, cols["lat"], tasmin_c=cols.get("tasmin"),
            tasmax_c=cols.get("tasmax"), tas_c=cols.get("tas"),
            method=params.get("method") or "baierrobertson65")
    out = F.col(cols["pr"]) - pet
    return df.select(*cells, time, out.alias(alias))


@register_compute("fit")
def fit_c(df, cols, params, *, time, cells, alias):
    """Distribution fit per cell (reference stats.py:115; generic
    indicator `fit`)."""
    from .. import stats as st

    return st.fit(df, cols["data"], params.get("dist", "norm"),
                  params.get("method", "ML"), time=time, cells=cells)


@register_compute("return_level")
def return_level(df, cols, params, *, time, cells, alias):
    """Frequency analysis / return levels (reference stats.py:429;
    generic indicator `return_level`)."""
    from .. import stats as st

    return st.fa(
        df, cols["data"], params.get("t", 20),
        dist=params.get("dist", "gumbel_r"), mode=params.get("mode", "max"),
        method=params.get("method", "PWM"), freq=params.get("freq", "YS"),
        time=time, cells=cells, alias=alias)


@register_compute("standardized_index")
def standardized_index_c(df, cols, params, *, time, cells, alias):
    """SPI/SPEI/SSI/SGI (reference stats.py:770-1050, _agro.py:987,
    _hydrology.py:136,447)."""
    from .. import stats as st

    d = df
    offset = params.get("offset")
    if offset:
        d = d.withColumn(cols["data"], F.col(cols["data"]) + float(offset))
    return st.standardized_index(
        d, cols["data"], window=int(params.get("window", 1)),
        dist=params.get("dist", "gamma"), freq=params.get("freq", "MS"),
        cal_start=params.get("cal_start"), cal_end=params.get("cal_end"),
        method=params.get("method", "ML"), time=time, cells=cells,
        alias=alias)


@register_compute("sen_slope")
def sen_slope_c(df, cols, params, *, time, cells, alias):
    """Theil-Sen slope + Mann-Kendall p (reference _hydrology.py:893)."""
    from ..operators import hydrology as hy

    return hy.sen_slope(df, cols["data"],
                        freq=params.get("freq", "YS"), time=time,
                        cells=cells, alias=alias)


@register_compute("sen_slope_ratio")
def sen_slope_ratio_c(df, cols, params, *, time, cells, alias):
    """Observed/simulated Sen-slope ratio (reference _hydrology.py:949)."""
    from ..operators import hydrology as hy

    return hy.sen_slope_ratio(df, cols["q"], cols["qsim"],
                              freq=params.get("freq", "YS"), time=time,
                              cells=cells)


@register_compute("flow_index")
def flow_index_c(df, cols, params, *, time, cells, alias):
    """Qp/Q50 flow index (reference _hydrology.py:577)."""
    from ..operators import hydrology as hy

    return hy.flow_index(df, cols["data"], float(params.get("p", 0.95)),
                         cells=cells, alias=alias)


@register_compute("high_flow_frequency")
def high_flow_frequency_c(df, cols, params, *, time, cells, alias):
    """Days with flow above factor x median (reference _hydrology.py:607)."""
    from ..operators import hydrology as hy

    return hy.high_flow_frequency(
        df, cols["data"], float(params.get("threshold_factor", 9.0)),
        params.get("freq", "YS"), time=time, cells=cells, alias=alias)


@register_compute("low_flow_frequency")
def low_flow_frequency_c(df, cols, params, *, time, cells, alias):
    """Days with flow below factor x mean (reference _hydrology.py:640)."""
    from ..operators import hydrology as hy

    return hy.low_flow_frequency(
        df, cols["data"], float(params.get("threshold_factor", 0.2)),
        params.get("freq", "YS"), time=time, cells=cells, alias=alias)


@register_compute("cffwis_field")
def cffwis_field(df, cols, params, *, time, cells, alias):
    """One (or all) of the six CFFWIS codes at daily grain (reference
    _cffwis.py:1278 cffwis_indices).  ``params['field']`` selects a
    single output column renamed to the indicator identifier; 'all'
    keeps the full ffmc/dmc/dc/isi/bui/fwi set."""
    from ..operators import fire as fr

    out = fr.cffwis_indices(
        df, tas=cols["tas"], pr=cols["pr"], hurs=cols["hurs"],
        sfcWind=cols["sfcWind"], lat=params.get("lat", 45.0),
        time=time, cells=cells,
        ffmc0=float(params.get("ffmc0", 85.0)),
        dmc0=float(params.get("dmc0", 6.0)),
        dc0=float(params.get("dc0", 15.0)))
    field = params.get("field", "all")
    if field == "all":
        return out
    return out.select(*cells, time, F.col(field).alias(alias))


@register_compute("ffdi_field")
def ffdi_field(df, cols, params, *, time, cells, alias):
    """KBDI / Griffiths drought factor / McArthur FFDI at daily grain
    (reference fire/_ffdi.py)."""
    from ..operators import fire as fr

    out = fr.ffdi_indices(
        df, pr=cols["pr"], tasmax=cols["tasmax"], hurs=cols["hurs"],
        sfcWind=cols["sfcWind"],
        pr_annual=float(params["pr_annual"]),
        time=time, cells=cells, kbdi0=float(params.get("kbdi0", 0.0)),
        limiting=params.get("limiting", "xlim"))
    field = params.get("field", "ffdi")
    name = {"kbdi": "kbdi", "drought_factor": "drought_factor",
            "ffdi": "ffdi"}[field]
    return out.select(*cells, time, F.col(name).alias(alias))


@register_compute("bivariate_windowed_spell_stats")
def bivariate_windowed_spell_stats(df, cols, params, *, time, cells, alias):
    """heat_spell_* family (reference indicators/atmos/_temperature.py
    heat_spell_frequency): spells where the ``window``-day ``win_reducer``
    of BOTH variables exceeds its threshold."""
    return rl.spell_length_statistics(
        df, [cols["low_data"], cols["high_data"]], int(params["window"]),
        params.get("win_reducer", "mean"), params.get("op", ">"),
        [params["thresh_low"], params["thresh_high"]],
        params["spell_reducer"], params["freq"],
        time=time, cells=cells, alias=alias)


@register_compute("spell_max_magnitude")
def spell_max_magnitude(df, cols, params, *, time, cells, alias):
    """hot_spell_max_magnitude (reference _threshold.py:2253): max over
    spells of the cumulative exceedance above thresh."""
    t = _thr(params)
    d = df.withColumn("_exc", F.col(cols["data"]) - F.lit(float(t)))
    cond = g.compare(cols["data"], ">", t)
    ev = rl.find_events(d, cond, int(params["window"]), data_var="_exc",
                        freq=params["freq"], time=time, cells=cells)
    ev = ev.filter(F.col("event_length") >= int(params["window"]))
    agg = ev.groupBy(*cells, "period").agg(F.max("event_sum").alias(alias))
    return rl._on_scaffold(d, agg, cells, time, params["freq"],
                           fills={alias: 0.0})


@register_compute("conditional_stat")
def conditional_stat(df, cols, params, *, time, cells, alias):
    """Reducer over ``data`` on days where ``cond_data op thresh`` —
    liquid/solid precip accumulation (reference _multivariate.py:930
    precip_accumulation with phase filtering)."""
    from ..calendar import period_start

    cond = g.compare(cols.get("cond_data", cols["data"]), params["op"],
                     _thr(params))
    reducer = params.get("reducer", "sum")
    red = {"sum": F.sum, "mean": F.avg, "max": F.max, "min": F.min}[reducer]
    fill = F.lit(0.0) if reducer == "sum" else F.lit(None)
    d = df.withColumn("_v", F.when(cond, F.col(cols["data"])).otherwise(fill))
    per = period_start(time, params["freq"])
    return d.groupBy(*cells, per.alias("period")).agg(red("_v").alias(alias))


@register_compute("ratio_of_sums")
def ratio_of_sums(df, cols, params, *, time, cells, alias):
    """sum(num)/sum(den) per period — runoff_ratio / aridity_index shape
    (reference _hydrology.py runoff_ratio, _agro.py aridity gauges)."""
    from ..calendar import period_start

    per = period_start(time, params["freq"])
    return (
        df.groupBy(*cells, per.alias("period"))
        .agg((F.sum(cols["num"]) / F.sum(cols["den"])).alias(alias))
    )


@register_compute("sum_of_two")
def sum_of_two(df, cols, params, *, time, cells, alias):
    """sum(a + b) per period — water_cycle_intensity (reference
    _hydrology.py water_cycle_intensity: pr + evapotranspiration)."""
    from ..calendar import period_start

    per = period_start(time, params["freq"])
    return (
        df.groupBy(*cells, per.alias("period"))
        .agg(F.sum(F.col(cols["a"]) + F.col(cols["b"])).alias(alias))
    )


@register_compute("peak_lag")
def peak_lag(df, cols, params, *, time, cells, alias):
    """doy(max of a) - doy(max of b) per period — lag_snowpack_flow_peaks
    (reference land/_streamflow.py)."""
    from ..calendar import period_start

    per = period_start(time, params["freq"])
    doy = F.dayofyear(time)
    return (
        df.groupBy(*cells, per.alias("period"))
        .agg((F.max_by(doy, F.struct(F.col(cols["a"]), doy)) -
              F.max_by(doy, F.struct(F.col(cols["b"]), doy))).alias(alias))
    )


@register_compute("melt_and_precip_max")
def melt_and_precip_max(df, cols, params, *, time, cells, alias):
    """Max over period of the rolling ``window``-day sum of snow melt plus
    precipitation (reference _hydrology.py:406-440)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*cells).orderBy(time)
    melt = -(F.col(cols["snw"]) - F.lag(cols["snw"]).over(w))
    d = df.withColumn("_mp", F.greatest(melt, F.lit(0.0)) +
                      F.col(cols["pr"]))
    return g.select_rolling_resample_op(
        d, "_mp", "max", params["freq"], window=int(params["window"]),
        window_op="sum", time=time, cells=cells, alias=alias,
    )


@register_compute("antecedent_precipitation_index")
def antecedent_precipitation_index(df, cols, params, *, time, cells, alias):
    """API_t = sum_{i<window} pr_{t-i} * p_exp^i at daily grain (reference
    _hydrology.py antecedent_precipitation_index).  The window unrolls to
    ``window`` lag expressions — pure codegen, no UDF."""
    from pyspark.sql import Window

    w = Window.partitionBy(*cells).orderBy(time)
    p = float(params.get("p_exp", 0.935))
    n = int(params.get("window", 7))
    terms = [F.coalesce(F.lag(cols["data"], i).over(w), F.lit(0.0)) *
             F.lit(p ** i) for i in range(n)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return df.select(*cells, time, out.alias(alias))


@register_compute("degree_days_approximation")
def degree_days_approximation(df, cols, params, *, time, cells, alias):
    """UK-Met-style CDD/HDD approximation from tasmax/tasmin/tas
    (reference _threshold.py:844 cooling_degree_days_approximation,
    :2070 heating_degree_days_approximation)."""
    from ..calendar import period_start

    t = float(_thr(params))
    tx, tn, tg = (F.col(cols["tasmax"]), F.col(cols["tasmin"]),
                  F.col(cols["tas"]))
    if params.get("mode", "cooling") == "cooling":
        dd = (
            F.when(tx < t, F.lit(0.0))
            .when(tn >= t, tg - t)
            .when(tg <= t, (tx - tn) / 4.0)
            .otherwise((tx - t) / 2.0 - (t - tn) / 4.0)
        )
    else:
        dd = (
            F.when(tx <= t, t - tg)
            .when(tn >= t, F.lit(0.0))
            .when(tg <= t, (t - tn) / 2.0 - (tx - t) / 4.0)
            .otherwise((t - tn) / 4.0)
        )
    per = period_start(time, params["freq"])
    return df.groupBy(*cells, per.alias("period")) \
        .agg(F.sum(dd).alias(alias))


@register_compute("chill_units")
def chill_units_c(df, cols, params, *, time, cells, alias):
    """Sum of Utah-model chill units per period (reference _agro.py
    chill_units; kernel operators/agro.py)."""
    from ..calendar import period_start
    from ..operators import agro as ag

    cu = ag.chill_units(cols["data"],
                        positive_only=bool(params.get("positive_only")))
    per = period_start(time, params["freq"])
    return df.groupBy(*cells, per.alias("period")) \
        .agg(F.sum(cu).alias(alias))


@register_compute("chill_portions")
def chill_portions_c(df, cols, params, *, time, cells, alias):
    """Dynamic-Model chill portions (reference _agro.py:1436)."""
    from ..operators import agro as ag

    return ag.chill_portions(df, cols["data"],
                             params.get("freq", "YS"), time=time,
                             cells=cells, alias=alias)


@register_compute("hardiness_zones")
def hardiness_zones(df, cols, params, *, time, cells, alias):
    """USDA/ANBG hardiness zones (reference _agro.py hardiness_zones):
    annual tasmin minimum -> rolling ``window``-year mean -> zone bands
    via get_zones."""
    from pyspark.sql import Window

    from ..operators.generic import get_zones, select_resample_op

    method = params.get("method", "usda")
    if method == "usda":
        # bands in degF (reference: -60..70 degF step 5): convert the
        # rolling-mean degC value to degF at plan time
        zmin, zmax, zstep = -60.0, 70.0, 5.0
        conv = lambda c: c * 1.8 + 32.0  # noqa: E731
    else:  # anbg
        zmin, zmax, zstep = -15.0, 20.0, 5.0
        conv = lambda c: c  # noqa: E731
    tnn = select_resample_op(df, cols["data"], "min",
                             params.get("freq", "YS"), time=time,
                             cells=cells, alias="_tnn")
    w = Window.partitionBy(*cells).orderBy("period") \
        .rowsBetween(-(int(params.get("window", 30)) - 1), 0)
    roll = tnn.withColumn("_m", F.avg("_tnn").over(w))
    return roll.select(
        *cells, "period",
        get_zones(conv(F.col("_m")), zmin, zmax, zstep).alias(alias))


@register_compute("days_over_percentile")
def days_over_percentile(df, cols, params, *, time, cells, alias):
    """days_over_precip_thresh (reference _multivariate.py:1176): count
    days over a per-cell percentile threshold table
    (``params['per']``: cells..., per)."""
    from ..calendar import period_start

    j = df.join(params["per"], on=list(cells), how="left")
    cond = g.compare(cols["data"], params.get("op", ">"), F.col("per"))
    per_col = period_start(time, params["freq"])
    return j.groupBy(*cells, per_col.alias("period")) \
        .agg(F.sum(cond.cast("long")).alias(alias))


@register_compute("fraction_over_percentile")
def fraction_over_percentile(df, cols, params, *, time, cells, alias):
    """fraction_over_precip_thresh / *_doy_thresh (reference
    _multivariate.py:1238): fraction of the total accumulation falling on
    days over the percentile threshold.  ``params['doy']`` joins the
    climatology on (cells, dayofyear) instead of cells alone."""
    from ..calendar import period_start

    if params.get("doy"):
        from ..operators import percentile as pc

        j = pc.resample_doy(df, params["per"], time=time, cells=cells,
                            broadcast=params.get("broadcast"))
    else:
        j = df.join(params["per"], on=list(cells), how="left")
    cond = g.compare(cols["data"], params.get("op", ">"), F.col("per"))
    num = F.sum(F.when(cond, F.col(cols["data"])).otherwise(F.lit(0.0)))
    per_col = period_start(time, params["freq"])
    return j.groupBy(*cells, per_col.alias("period")) \
        .agg((num / F.sum(cols["data"])).alias(alias))


@register_compute("days_over_doy_percentile_pair")
def days_over_doy_percentile_pair(df, cols, params, *, time, cells, alias):
    """cold_and_dry/warm_and_wet_days family (reference
    _multivariate.py:250-481): days where variable A is beyond its doy
    percentile AND variable B is beyond its doy percentile.  Two
    climatology tables ``per_a``/``per_b`` (cells..., dayofyear, per)."""
    from ..calendar import period_start
    from ..operators import percentile as pc

    a = pc.resample_doy(df, params["per_a"].withColumnRenamed("per", "_pa"),
                        time=time, cells=cells)
    b = pc.resample_doy(a, params["per_b"].withColumnRenamed("per", "_pb"),
                        time=time, cells=cells)
    cond = g.compare(cols["data_a"], params["op_a"], F.col("_pa")) & \
        g.compare(cols["data_b"], params["op_b"], F.col("_pb"))
    per_col = period_start(time, params["freq"])
    return b.groupBy(*cells, per_col.alias("period")) \
        .agg(F.sum(cond.cast("long")).alias(alias))


@register_compute("holiday_count")
def holiday_count(df, cols, params, *, time, cells, alias):
    """holiday_snow_days / holiday_snow_and_snowfall_days (reference
    _threshold.py:3743): qualifying days within a calendar-date window."""
    from ..calendar import period_start

    mmdd = F.date_format(F.col(time), "MM-dd")
    start = params.get("date_start", "12-25")
    end = params.get("date_end") or start
    sel = (mmdd >= start) & (mmdd <= end) if start <= end else \
        (mmdd >= start) | (mmdd <= end)
    cond = g.compare(cols["data"], params.get("op", ">="), _thr(params)) & sel
    if cols.get("data2") is not None and params.get("thresh2") is not None:
        cond = cond & g.compare(cols["data2"], params.get("op2", ">="),
                                params["thresh2"])
    per = period_start(time, params["freq"])
    return df.groupBy(*cells, per.alias("period")) \
        .agg(F.sum(cond.cast("long")).alias(alias))


@register_compute("rain_on_frozen_ground")
def rain_on_frozen_ground(df, cols, params, *, time, cells, alias):
    """rain_on_frozen_ground_days (reference _multivariate.py:1059): rain
    above thresh on a day above freezing preceded by ``window`` frozen
    days."""
    from pyspark.sql import Window

    from ..calendar import period_start

    w = Window.partitionBy(*cells).orderBy(time)
    n = int(params.get("window", 7))
    above = (F.col(cols["tas"]) > 0.0).cast("int")
    d = df.withColumn("_above", above)
    d = d.withColumn(
        "_frozen_prior",
        (F.sum("_above").over(w.rowsBetween(-n, -1)) == 0) &
        (F.count("_above").over(w.rowsBetween(-n, -1)) == n))
    cond = (F.col(cols["pr"]) > F.lit(float(_thr(params)))) & \
        (F.col("_above") == 1) & F.col("_frozen_prior")
    per = period_start(time, params["freq"])
    return d.groupBy(*cells, per.alias("period")) \
        .agg(F.sum(cond.cast("long")).alias(alias))


@register_compute("blowing_snow")
def blowing_snow(df, cols, params, *, time, cells, alias):
    """blowing_snow (reference _multivariate.py:1833): net snow
    accumulation over the last ``window`` days above thresh AND wind
    above thresh."""
    from pyspark.sql import Window

    from ..calendar import period_start

    w = Window.partitionBy(*cells).orderBy(time)
    diff = F.col(cols["snd"]) - F.lag(cols["snd"]).over(w)
    d = df.withColumn("_d", diff)
    d = d.withColumn(
        "_acc",
        F.sum("_d").over(w.rowsBetween(-(int(params["window"]) - 1), 0)))
    cond = (F.col("_acc") >= F.lit(float(params["snd_thresh"]))) & \
        (F.col(cols["sfcWind"]) >= F.lit(float(params["sfcWind_thresh"])))
    per = period_start(time, params["freq"])
    return d.groupBy(*cells, per.alias("period")) \
        .agg(F.sum(cond.cast("long")).alias(alias))


@register_compute("latitude_temperature_index")
def latitude_temperature_index(df, cols, params, *, time, cells, alias):
    """LTI (reference _agro.py latitude_temperature_index): max monthly
    mean temperature x (lat_factor - |lat|)."""
    from ..calendar import period_start

    monthly = (
        df.withColumn("_m", period_start(time, "MS"))
        .groupBy(*cells, "_m", cols["lat"])
        .agg(F.avg(cols["data"]).alias("_v"))
    )
    lf = float(params.get("lat_factor", 75.0))
    coeff = F.when(F.abs(F.col(cols["lat"])) <= lf,
                   lf - F.abs(F.col(cols["lat"]))).otherwise(F.lit(0.0))
    return (
        monthly.withColumn("period", period_start("_m", params["freq"]))
        .groupBy(*cells, "period")
        .agg((F.max("_v") * F.first(coeff)).alias(alias))
    )


@register_compute("corn_heat_units")
def corn_heat_units_c(df, cols, params, *, time, cells, alias):
    """Daily corn heat units (reference _agro.py corn_heat_units)."""
    tn, tx = F.col(cols["tasmin"]), F.col(cols["tasmax"])
    t_tn = float(params.get("thresh_tasmin", 4.44))
    t_tx = float(params.get("thresh_tasmax", 10.0))
    chu = (
        F.when(tn > t_tn, 1.8 * (tn - t_tn)).otherwise(F.lit(0.0))
        + F.when(tx > t_tx, 3.33 * (tx - t_tx)
                 - 0.084 * (tx - t_tx) * (tx - t_tx)).otherwise(F.lit(0.0))
    ) / 2.0
    return df.select(*cells, time, chu.alias(alias))


def _huglin_k(lat_col, method: str = "huglin", cap_value: float = 1.0):
    """Day-length latitude coefficient (reference helpers.py:528-616).

    ``cap_value`` is the value used poleward of 50 deg latitude; the
    raw helper defaults it to NaN, but the huglin_index/bedd
    INDICATORS default it to 1.0 (reference _agro.py:157,281) so
    grids reaching beyond +-50 deg still produce finite sums."""
    from ..functions.solar import huglin_day_length_latitude_coefficient

    return huglin_day_length_latitude_coefficient(
        lat_col, method=method, cap_value=cap_value)


def _annual_k_times_sum(df, val, dl, params, *, time, cells, alias,
                        jones_method: str = "jones"):
    """Fused jones-coefficient aggregation (reference helpers.py:688-790
    composed into the index): the growing-season day-length sum rides
    the SAME groupBy as the index sum, so the annual k needs no second
    scan or join — then ``k = 2.8311e-4 sum(dl) + 0.30834`` (times the
    Gladstones linear transform if asked) with the all-cells-below-1
    NULL guard as one window over the year-sized aggregate."""
    from pyspark.sql import Window

    from ..calendar import period_start

    per = period_start(time, params["freq"])
    agg = (
        df.groupBy(*cells, per.alias("period"))
        .agg(F.sum(val).alias("_s"), F.sum(dl).alias("_sdl"))
    )
    k = 2.8311e-4 * F.col("_sdl") + 0.30834
    if jones_method == "gladstones":
        k = 1.1135 * k - 0.1352
    agg = agg.withColumn("_k", k)
    all_below = F.max("_k").over(Window.partitionBy("period")) < 1.0
    return agg.select(
        *cells, "period",
        F.when(all_below, F.lit(None))
        .otherwise(F.col("_s") * F.col("_k")).alias(alias))


@register_compute("huglin_index")
def huglin_index(df, cols, params, *, time, cells, alias):
    """Huglin heliothermal index (reference _agro.py:151-273): sum of
    k * max(((tas+tasmax)/2 - thresh), 0) over [start_date, end_date);
    k is the stepwise ('huglin'/'icclim'), smoothed ('interpolated'),
    or season-aggregated Hall-Jones ('jones') latitude coefficient."""
    from ..calendar import period_start
    from ..functions.solar import day_lengths

    t = float(_thr(params) if _thr(params) is not None else 10.0)
    method = params.get("method", "huglin")
    mmdd = F.date_format(F.col(time), "MM-dd")
    sel = (mmdd >= params.get("start_date", "04-01")) & \
        (mmdd < params.get("end_date", "10-01"))
    base = F.greatest(
        (F.col(cols["tas"]) + F.col(cols["tasmax"])) / 2.0 - t, F.lit(0.0))
    if method == "jones":
        dl = day_lengths(time, F.col(cols["lat"]), method="spencer")
        return _annual_k_times_sum(
            df.filter(sel), base, dl, params, time=time, cells=cells,
            alias=alias)
    hi = base * _huglin_k(F.col(cols["lat"]), method,
                          float(params.get("cap_value", 1.0)))
    per = period_start(time, params["freq"])
    return (
        df.filter(sel).groupBy(*cells, per.alias("period"))
        .agg(F.sum(hi).alias(alias))
    )


@register_compute("bedd")
def bedd(df, cols, params, *, time, cells, alias):
    """Biologically effective degree days (reference _agro.py:275-446):
    'icclim' (k=1, tr_adj=0), 'huglin'/'interpolated' (static latitude
    k + temperature-range adjustment), 'gladstones' (daily day-length
    ratio k), or 'jones' (k=1 daily; season-aggregated Hall-Jones k
    multiplies the capped sum afterwards, fused into the same
    aggregation)."""
    from ..calendar import period_start
    from ..functions.solar import (
        day_lengths,
        gladstones_day_length_latitude_coefficient,
    )

    t = float(params.get("thresh_tasmin", 10.0))
    cap = float(params.get("max_daily_degree_days", 9.0))
    tn, tx = F.col(cols["tasmin"]), F.col(cols["tasmax"])
    method = params.get("method", "icclim")
    jones = method == "jones"
    if method == "icclim":
        k, tr_adj = F.lit(1.0), F.lit(0.0)
    else:
        low, high = (float(params.get("low_dtr", 10.0)),
                     float(params.get("high_dtr", 13.0)))
        dtr = tx - tn
        tr_adj = 0.25 * (
            F.when(dtr > high, dtr - high)
            .when(dtr < low, dtr - low)
            .otherwise(F.lit(0.0))
        )
        if method in ("huglin", "interpolated"):
            k = _huglin_k(F.col(cols["lat"]), method,
                          float(params.get("cap_value", 1.0)))
        elif method == "gladstones":
            k = gladstones_day_length_latitude_coefficient(
                time, F.col(cols["lat"]))
        elif jones:
            k = F.lit(1.0)  # annual k multiplies the sum below
        else:
            raise NotImplementedError(f"bedd method {method!r}")
    val = F.least(F.greatest((tn + tx) / 2.0 - t, F.lit(0.0)) * k + tr_adj,
                  F.lit(cap))
    mmdd = F.date_format(F.col(time), "MM-dd")
    sel = (mmdd >= params.get("start_date", "04-01")) & \
        (mmdd < params.get("end_date", "11-01"))
    if jones:
        dl = day_lengths(time, F.col(cols["lat"]), method="spencer")
        return _annual_k_times_sum(
            df.filter(sel), val, dl, params, time=time, cells=cells,
            alias=alias)
    per = period_start(time, params["freq"])
    return (
        df.filter(sel).groupBy(*cells, per.alias("period"))
        .agg(F.sum(val).alias(alias))
    )


@register_compute("cool_night_index")
def cool_night_index(df, cols, params, *, time, cells, alias):
    """Mean tasmin of September (NH) / March (SH) (reference _agro.py
    cool_night_index)."""
    month = 3 if params.get("hemisphere", "north") == "south" else 9
    return g.select_resample_op(
        df, cols["data"], "mean", params["freq"], time=time, cells=cells,
        alias=alias, month=[month])


@register_compute("effective_growing_degree_days")
def effective_growing_degree_days(df, cols, params, *, time, cells, alias):
    """EGDD, method 'bootsma' (reference _agro.py:1292): GDD over
    (tasmin+tasmax)/2 summed from 10 days after the first day above
    thresh until the first day below thresh after ``after_date``."""
    from pyspark.sql import Window

    from ..calendar import period_start

    t = float(_thr(params) if _thr(params) is not None else 5.0)
    tg = (F.col(cols["tasmin"]) + F.col(cols["tasmax"])) / 2.0
    d = df.withColumn("_tg", tg).withColumn("period",
                                            period_start(time,
                                                         params["freq"]))
    w = Window.partitionBy(*cells, "period").orderBy(time)
    doy = F.dayofyear(time)
    start_doy = F.min(F.when(F.col("_tg") > t, doy)).over(
        Window.partitionBy(*cells, "period")) + 10
    after = params.get("after_date", "07-01")
    mmdd = F.date_format(F.col(time), "MM-dd")
    end_doy = F.min(F.when((F.col("_tg") < t) & (mmdd >= after), doy)).over(
        Window.partitionBy(*cells, "period"))
    dd = F.when((doy >= start_doy) &
                (end_doy.isNull() | (doy < end_doy)) &
                (F.col("_tg") > t), F.col("_tg") - t).otherwise(F.lit(0.0))
    d = d.withColumn("_dd", dd)
    return d.groupBy(*cells, "period").agg(F.sum("_dd").alias(alias))


@register_compute("fire_season")
def fire_season(df, cols, params, *, time, cells, alias):
    """WF93 fire-season mask (reference fire/_cffwis.py fire_season,
    method WF93): ON after ``window`` days with tasmax > temp_start, OFF
    after ``window`` days with tasmax < temp_end — the runs_with_holes
    start/stop automaton at daily grain."""
    hot = g.compare(cols["data"], ">", params.get("temp_start", 12.0))
    cold = g.compare(cols["data"], "<", params.get("temp_end", 5.0))
    out = rl.runs_with_holes(
        df, hot, int(params.get("window", 3)), cold,
        int(params.get("window", 3)), time=time, cells=cells)
    return out.select(*cells, time, F.col("in_event").alias(alias))


@register_compute("bfi_seasonal_ratio")
def bfi_seasonal_ratio(df, cols, params, *, time, cells, alias):
    """base_flow_index_seasonal_ratio (reference land/_streamflow.py):
    summer BFI over winter BFI per year."""
    from ..operators import hydrology as hy

    m = F.month(time)
    summer = df.filter(m.isin(*params.get("summer_months", [6, 7, 8])))
    winter = df.filter(m.isin(*params.get("winter_months", [12, 1, 2])))
    bs = hy.base_flow_index(summer, cols["data"], params["freq"],
                            time=time, cells=cells, alias="_s")
    bw = hy.base_flow_index(winter, cols["data"], params["freq"],
                            time=time, cells=cells, alias="_w")
    j = bs.join(bw, on=[*cells, "period"], how="inner")
    return j.select(*cells, "period",
                    (F.col("_s") / F.col("_w")).alias(alias))


@register_compute("dryness_index")
def dryness_index(df, cols, params, *, time, cells, alias):
    """Viticulture dryness index (reference _agro.py:532-724)."""
    from ..operators import agro as ag

    return ag.dryness_index(
        df, cols["pr"], cols["evspsblpot"],
        lat=params.get("lat", "north"), wo=float(_thr(params)),
        time=time, cells=cells, alias=alias,
    )


@register_compute("rain_season_field")
def rain_season_field(df, cols, params, *, time, cells, alias):
    """Rain-season start/end/length (reference _agro.py:796-981).
    ``params['field']`` picks one of start/end/length, or 'all' keeps
    the full triple."""
    from ..operators import agro as ag

    out = ag.rain_season(
        df, cols["data"],
        thresh_wet_start=params["thresh_wet_start"],
        window_wet_start=int(params["window_wet_start"]),
        window_not_dry_start=int(params["window_not_dry_start"]),
        thresh_dry_start=params["thresh_dry_start"],
        window_dry_start=int(params["window_dry_start"]),
        method_dry_start=params["method_dry_start"],
        date_min_start=params["date_min_start"],
        date_max_start=params["date_max_start"],
        thresh_dry_end=params["thresh_dry_end"],
        window_dry_end=int(params["window_dry_end"]),
        method_dry_end=params["method_dry_end"],
        date_min_end=params["date_min_end"],
        date_max_end=params["date_max_end"],
        freq=params["freq"], time=time, cells=cells,
        prefix="rain_season",
    )
    field = params.get("field", "all")
    if field == "all":
        return out
    return out.select(*cells, "period",
                      F.col(f"rain_season_{field}").alias(alias))


@register_compute("jetstream_field")
def jetstream_field(df, cols, params, *, time, cells, alias):
    """Woollings jetstream latitude/strength (reference
    _synoptic.py:24-104).  Daily output; ``field`` in {jetlat, jetstr,
    all}.  ``cells`` must include the latitude column named by
    params['lat_name'] (default 'lat')."""
    from ..operators import synoptic as syn

    out = syn.jetstream_metric_woollings(
        df, cols["ua"], time=time,
        lat=params.get("lat_name", "lat"),
        window_size=int(params.get("window_size", 61)),
        filter_freq=int(params.get("filter_freq", 10)),
    )
    field = params.get("field", "all")
    if field == "all":
        return out
    return out.select(time, F.col(field).alias(alias))
