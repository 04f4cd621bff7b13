"""Ensemble tier: creation, statistics, percentiles, robustness.

Spark re-expression of ``src/xclim/ensembles/_base.py`` and
``_robustness.py``: an ensemble is a long DataFrame with a
``realization`` key column (the reference's extra dimension,
_base.py:31-140); every statistic is one hash-aggregate over
``(cells..., time-ish keys)`` — realizations for one point always land in
the same group, so the plan is a single shuffle with map-side partial
aggregation regardless of member count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators.percentile import hf_quantile
from .util import local_frame, repartition_for_apply

__all__ = [
    "create_ensemble",
    "ensemble_mean_std_max_min",
    "ensemble_percentiles",
    "hawkins_sutton",
    "lafferty_sriver",
    "general_partition",
    "fractional_uncertainty",
    "make_criteria",
    "kkz_reduce_ensemble",
    "kmeans_reduce_ensemble",
    "robustness_fractions",
    "robustness_categories",
    "robustness_coefficient",
    "member_change_significance",
    "SIGNIFICANCE_TESTS",
    "significance_test",
    "hawkins_sutton_09_weighting",
    "PERCENTILE_METHODS",
]

# numpy interpolation-method names -> Hyndman-Fan (alpha, beta)
# (reference ensemble_percentiles ``method`` param, _base.py:214-375)
PERCENTILE_METHODS = {
    "linear": (1.0, 1.0),
    "interpolated_inverted_cdf": (0.0, 1.0),
    "hazen": (0.5, 0.5),
    "weibull": (0.0, 0.0),
    "median_unbiased": (1 / 3, 1 / 3),
    "normal_unbiased": (3 / 8, 3 / 8),
}


def create_ensemble(
    members: Sequence[DataFrame] | dict[str, DataFrame],
    *,
    realization: str = "realization",
    calendars: Sequence[str] | None = None,
    target_calendar: str | None = None,
    join: str = "outer",
    time: str = "time",
    year_col: str = "year",
    doy_col: str = "doy",
) -> DataFrame:
    """Union members by name with a ``realization`` key (reference
    create_ensemble / _ens_align_datasets, _base.py:31-140).  Members may
    have differing column order; missing columns error (align first).

    ``calendars``: one CF calendar name per member (positional).  When
    given, every member is converted to ``target_calendar`` (default:
    :func:`~xclim_spark.calendar360.common_calendar` of the members under
    ``join``) before the union — the reference's ``calendar=`` /
    ``cal_kwargs`` path for heterogeneous model calendars.  Conversion is
    a map-side projection per member; the union stays shuffle-free."""
    if isinstance(members, dict):
        items = list(members.items())
    else:
        items = list(enumerate(members))
    if calendars is not None:
        from .calendar360 import common_calendar, convert_calendar

        if len(calendars) != len(items):
            raise ValueError("need one calendar per member")
        tgt = target_calendar or common_calendar(calendars, join)
        items = [
            (key, convert_calendar(
                df, tgt, source=cal, time=time, year_col=year_col,
                doy_col=doy_col))
            for (key, df), cal in zip(items, calendars)
        ]
    out = None
    for key, df in items:
        tagged = df.withColumn(realization, F.lit(key))
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _with_need(out: DataFrame, ens: DataFrame, realization: str,
               min_members: int | None) -> DataFrame:
    """Attach the min-valid-members threshold as a ``_need`` column.

    ``min_members=None`` means "require every member": the total member
    count stays IN the plan — a one-row ``countDistinct`` aggregate
    cross-joined as a broadcast — instead of an eager
    ``distinct().count()`` driver action, so building an ensemble
    statistic never triggers a full scan by itself (and the count scan
    that does run at execution prunes to the realization column)."""
    if min_members is not None:
        return out.withColumn("_need", F.lit(int(min_members)))
    tot = ens.agg(F.countDistinct(realization).alias("_need"))
    return out.crossJoin(F.broadcast(tot))


def ensemble_mean_std_max_min(
    ens: DataFrame,
    var: str,
    *,
    keys: Sequence[str],
    min_members: int | None = 1,
    weights: dict | None = None,
    realization: str = "realization",
) -> DataFrame:
    """Fused mean/stdev/max/min/count across realizations (reference
    _base.py:141-213).  ``keys`` are the non-realization coordinates
    (cells + period).  ``min_members`` masks groups with fewer valid
    members (None = require all members).  ``weights`` maps realization
    key -> weight (plan-time dict, compiled to a CASE expression)."""
    v = F.col(var)
    if weights is None:
        mean = F.avg(v)
        std = F.stddev_pop(v)
    else:
        w = F.coalesce(*[
            F.when(F.col(realization) == k, F.lit(float(wt)))
            for k, wt in weights.items()
        ], F.lit(0.0))
        w = F.when(v.isNotNull(), w)
        mean = F.sum(v * w) / F.sum(w)
        std = F.sqrt(F.sum(w * v * v) / F.sum(w) -
                     (F.sum(v * w) / F.sum(w)) ** 2)
    out = ens.groupBy(*keys).agg(
        mean.alias(f"{var}_mean"),
        std.alias(f"{var}_stdev"),
        F.max(v).alias(f"{var}_max"),
        F.min(v).alias(f"{var}_min"),
        F.count(v).alias("_nvalid"),
    )
    if min_members != 1:
        out = _with_need(out, ens, realization, min_members)
        for stat in ("mean", "stdev", "max", "min"):
            c = f"{var}_{stat}"
            out = out.withColumn(
                c, F.when(F.col("_nvalid") >= F.col("_need"), F.col(c))
            )
        out = out.drop("_need")
    return out.drop("_nvalid")


def ensemble_percentiles(
    ens: DataFrame,
    var: str,
    values: Sequence[int] = (10, 50, 90),
    *,
    keys: Sequence[str],
    method: str = "linear",
    min_members: int | None = 1,
    weights: dict | None = None,
    realization: str = "realization",
) -> DataFrame:
    """Percentiles across realizations (reference _base.py:214-375), one
    column per requested percentile (``split=True`` form:
    ``<var>_p10``…).  ``method`` selects the Hyndman-Fan plotting
    positions (same six as numpy's interpolation methods).

    ``weights`` maps realization key -> weight.  The weighted path (like
    the reference's, which delegates to xarray and likewise restricts
    ``method``) interpolates the midpoint weighted ECDF — position
    ``(c_i - w_i/2) / W`` for the i-th value in (value, realization)
    order — the standard 'weighted percentile' formulation, which
    reduces to ``method='hazen'`` at equal weights.  It runs as one
    grouped-aggregate pandas UDF per percentile: the shuffle is the same
    single (keys)-exchange as the unweighted path, members stay tiny per
    group."""
    if weights is not None:
        if method != "linear":
            raise ValueError(
                "weighted percentiles support only the default method "
                "(the reference has the same restriction)")
        return _weighted_ensemble_percentiles(
            ens, var, values, keys=keys, min_members=min_members,
            weights=weights, realization=realization)
    alpha, beta = PERCENTILE_METHODS[method]
    aggs = []
    for p in values:
        name = f"{var}_p{int(p)}"
        if (alpha, beta) == (1.0, 1.0):
            aggs.append(F.expr(f"percentile({var}, {p / 100.0})")
                        .alias(name))
        else:
            aggs.append(
                hf_quantile(var, p / 100.0, alpha=alpha, beta=beta)
                .alias(name)
            )
    aggs.append(F.count(F.col(var)).alias("_nvalid"))
    out = ens.groupBy(*keys).agg(*aggs)
    if min_members != 1:
        out = _with_need(out, ens, realization, min_members)
        for p in values:
            c = f"{var}_p{int(p)}"
            out = out.withColumn(
                c, F.when(F.col("_nvalid") >= F.col("_need"), F.col(c))
            )
        out = out.drop("_need")
    return out.drop("_nvalid")


def _weighted_ensemble_percentiles(
    ens, var, values, *, keys, min_members, weights, realization,
):
    """Pure-expression weighted quantiles: one shuffle collects each
    group's (value, realization, weight) triples into a sorted array,
    then the midpoint-ECDF positions and the interpolation are plain
    array arithmetic on rows of ensemble-sized arrays.  Grouped-agg
    pandas UDFs on the (cell, period) grain paid per-group Arrow
    overhead ~25k times for the same answer (6.9 s vs 1.5 s at sf0.1);
    higher-order expressions are interpreted, but over n=members
    elements that is noise."""
    wcol = F.coalesce(*[
        F.when(F.col("_r") == k, F.lit(float(w)))
        for k, w in weights.items()
    ])
    src = ens.select(*keys, F.col(var).alias("_v"),
                     F.col(realization).alias("_r")) \
        .withColumn("_w", wcol)
    # NULL values drop out here: a WHEN with no ELSE yields NULL and
    # collect_list skips NULLs
    item = F.when(
        F.col("_v").isNotNull(),
        F.struct(F.col("_v").alias("v"), F.col("_r").alias("r"),
                 F.col("_w").alias("w")))
    g = src.groupBy(*keys).agg(
        F.sort_array(F.collect_list(item)).alias("_arr"))
    g = _with_need(g, ens, realization, min_members)
    g = g.withColumn(
        "_s",
        F.expr("""transform(
            sequence(1, size(_arr)),
            i -> (aggregate(slice(_arr, 1, i), 0d, (a, x) -> a + x.w)
                  - element_at(_arr, i).w / 2)
                 / aggregate(_arr, 0d, (a, x) -> a + x.w))"""))
    for p in values:
        q = p / 100.0
        name = f"{var}_p{int(p)}"
        # i = number of positions <= q; same interpolation expression
        # shape as the SQL oracle
        g = g.withColumn(name, F.expr(f"""CASE
            WHEN size(_arr) < greatest(_need, 1) THEN NULL
            WHEN {q} <= element_at(_s, 1) THEN element_at(_arr, 1).v
            WHEN {q} >= element_at(_s, -1) THEN element_at(_arr, -1).v
            ELSE element_at(_arr, size(filter(_s, x -> x <= {q}))).v
                 + ({q} - element_at(_s, size(filter(_s, x -> x <= {q}))))
                 / (element_at(_s, size(filter(_s, x -> x <= {q})) + 1)
                    - element_at(_s, size(filter(_s, x -> x <= {q}))))
                 * (element_at(_arr, size(filter(_s, x -> x <= {q})) + 1).v
                    - element_at(_arr, size(filter(_s, x -> x <= {q}))).v)
            END"""))
    return g.drop("_arr", "_s", "_need")


# ---------------------------------------------------------------------------
# Ensemble filters (reference _filters.py)
# ---------------------------------------------------------------------------

def concat_hist(
    ens: DataFrame,
    *,
    scenario: str = "scenario",
    hist: str = "historical",
    time: str = "time",
) -> DataFrame:
    """Prepend the historical scenario to every future scenario
    (reference ``_concat_hist``, _filters.py:12-66): the hist rows are
    replicated once per future scenario (broadcast of the tiny distinct
    scenario list — no shuffle of the data), the hist label disappears.
    """
    futures = ens.filter(F.col(scenario) != hist)
    scens = futures.select(scenario).distinct()
    h = ens.filter(F.col(scenario) == hist).drop(scenario) \
        .crossJoin(F.broadcast(scens))
    return futures.unionByName(h.select(*futures.columns))


def model_in_all_scens(
    ens: DataFrame,
    *,
    scenario: str = "scenario",
    model: str = "model",
    var: str | None = None,
) -> DataFrame:
    """Keep only models present (with data, if ``var`` given) in every
    scenario (reference ``_model_in_all_scens``, _filters.py:69-107).
    Plan: tiny distinct (model, scenario) aggregate -> broadcast
    left-semi join back — the data never shuffles."""
    src = ens if var is None else ens.filter(F.col(var).isNotNull())
    # the total-scenario count stays IN the plan (tiny aggregate crossed
    # onto the tiny per-model aggregate) — no eager driver action, so
    # building this filter never triggers a 100 TB scan by itself
    tot = src.agg(F.countDistinct(scenario).alias("_tot"))
    ok = (
        src.select(model, scenario).distinct()
        .groupBy(model).agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("_n") == F.col("_tot")).select(model)
    )
    return ens.join(F.broadcast(ok), on=model, how="left_semi")


def single_member(
    ens: DataFrame,
    *,
    scenario: str = "scenario",
    model: str = "model",
    member: str = "member",
    var: str | None = None,
) -> DataFrame:
    """Keep the first member (lowest id with data) per (model, scenario)
    (reference ``_single_member``, _filters.py:110-155).  Same broadcast
    semi-join shape as :func:`model_in_all_scens`."""
    src = ens if var is None else ens.filter(F.col(var).isNotNull())
    first = (
        src.select(model, scenario, member).distinct()
        .groupBy(model, scenario).agg(F.min(member).alias(member))
    )
    return ens.join(F.broadcast(first), on=[model, scenario, member],
                    how="left_semi")


def build_filtered_ensemble(
    ens: DataFrame,
    *,
    scenario: str = "scenario",
    model: str = "model",
    member: str = "member",
    hist: str = "historical",
    var: str | None = None,
) -> DataFrame:
    """The reference's full ensemble-building chain — ``_concat_hist``
    -> ``_model_in_all_scens`` -> ``_single_member`` — fused into one
    plan with bounded scans.

    Composing the three standalone filters re-derives the upstream
    lineage once per internal reference (measured: 49 source scans for
    the three-step chain — each step's tiny aggregates re-expand the
    previous step's whole tree, and the trees differ enough that
    exchange reuse never fires; routing the algebra through lazy tiny
    tables still re-roots every reference, 37 scans).  The
    (model, scenario, member) dimension of a real ensemble is
    driver-bounded BY DEFINITION (at most a few thousand rows — the
    same justification as the KKZ criteria matrix), so this builder
    collects that one column-pruned distinct eagerly, runs the filter
    algebra in plain Python, and ships the surviving
    (model, scenario, member) keys back as a broadcast semi-join: the
    big table is scanned exactly three times (the distinct, the
    futures branch, the hist branch).  Semantics are identical to the
    composed chain (oracle-checked in ``ens_filters_pipeline``)."""
    src = ens if var is None else ens.filter(F.col(var).isNotNull())
    dims = src.select(model, scenario, member).distinct().collect()
    fut = {(r[model], r[scenario], r[member]) for r in dims
           if r[scenario] != hist}
    hist_members = {(r[model], r[member]) for r in dims
                    if r[scenario] == hist}
    scens = sorted({s for _, s, _ in fut})
    # concat semantics: hist members exist in every future scenario
    cat_dims = fut | {(m, s, e) for (m, e) in hist_members
                      for s in scens}
    per_model = {}
    for m, s, _ in cat_dims:
        per_model.setdefault(m, set()).add(s)
    kept = {m for m, ss in per_model.items() if len(ss) == len(scens)}
    firsts = {}
    for m, s, e in cat_dims:
        if m in kept:
            k = (m, s)
            firsts[k] = e if k not in firsts else min(firsts[k], e)
    spark = ens.sparkSession
    keep_keys = local_frame(
        spark, [(m, s, e) for (m, s), e in firsts.items()],
        ens.select(model, scenario, member).schema)
    futures = ens.filter(F.col(scenario) != hist)
    scens_df = local_frame(spark, [(s,) for s in scens],
                           ens.select(scenario).schema)
    h = ens.filter(F.col(scenario) == hist).drop(scenario) \
        .crossJoin(F.broadcast(scens_df))
    cat = futures.unionByName(h.select(*futures.columns))
    return cat.join(F.broadcast(keep_keys),
                    on=[model, scenario, member], how="left_semi")


def hawkins_sutton(
    df: DataFrame,
    var: str,
    *,
    time: str = "time",
    scenario: str = "scenario",
    model: str = "model",
    baseline: tuple[int, int] = (1971, 2000),
    variability_from: int = 2000,
    deg: int = 4,
) -> DataFrame:
    """Hawkins & Sutton (2009) variance partitioning (reference
    ``_partitioning.py:57-191``): split projection uncertainty into
    internal variability, model and scenario components.

    Pipeline: per-(scenario, model) polynomial smoothing
    (``applyInPandas`` — np.polyfit over the annual series), then pure
    aggregate algebra: variability = mean over models of the variance of
    decadal-mean residuals; model U(t) = mean over scenarios of the
    across-model variance of baseline-anomaly trends; scenario U(t) =
    across-scenario variance of model means.  Returns one row per year:
    ``time, variability, model, scenario, total``.
    """
    import pandas as pd

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (f"{scenario} {fields[scenario]}, {model} {fields[model]}, "
              f"{time} {fields[time]}, _sm DOUBLE, _res DOUBLE")

    def _smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(time)
        y = pdf[var].to_numpy(dtype=float)
        t = pd.to_datetime(pdf[time]).dt.year.to_numpy(dtype=float)
        coefs = np.polyfit(t, y, deg)
        sm = np.polyval(coefs, t)
        return pd.DataFrame({
            scenario: pdf[scenario].to_numpy(),
            model: pdf[model].to_numpy(),
            time: pdf[time].to_numpy(),
            "_sm": sm, "_res": y - sm,
        })

    # the smoothed member table is tiny (members x years) and feeds four
    # independent aggregate branches — persist it or every branch re-runs
    # the pandas smoothing AND re-scans the source
    smoothed = repartition_for_apply(df, [scenario, model]) \
        .groupBy(scenario, model).applyInPandas(_smooth, schema=schema) \
        .persist()
    yr = F.year(time)

    # internal variability: decadal rolling mean of residuals, var over
    # (scenario, time >= variability_from), mean over models
    w10 = Window.partitionBy(scenario, model).orderBy(time) \
        .rowsBetween(-5, 4)
    dec = smoothed.withColumn("_dres", F.avg("_res").over(w10))
    nv = (
        dec.filter(yr >= variability_from)
        .groupBy(model).agg(F.var_pop("_dres").alias("_v"))
        .agg(F.avg("_v").alias("variability"))
    )

    # baseline anomaly of the smoothed series
    ref = (
        smoothed.filter((yr >= baseline[0]) & (yr <= baseline[1]))
        .groupBy(scenario, model).agg(F.avg("_sm").alias("_ref"))
    )
    anom = smoothed.join(ref, on=[scenario, model]) \
        .withColumn("_a", F.col("_sm") - F.col("_ref"))

    model_u = (
        anom.groupBy(time, scenario).agg(F.var_pop("_a").alias("_mv"))
        .groupBy(time).agg(F.avg("_mv").alias("model"))
    )
    scen_u = (
        anom.groupBy(time, scenario).agg(F.avg("_a").alias("_sm2"))
        .groupBy(time).agg(F.var_pop("_sm2").alias("scenario"))
    )
    out = model_u.join(scen_u, on=time).crossJoin(F.broadcast(nv))
    out = out.withColumn(
        "total", F.col("variability") + F.col("model") + F.col("scenario")
    )
    # the result is tiny (one row per year): materialize it and release
    # the members-x-years cache so repeated library calls don't
    # accumulate cached blocks
    out = out.localCheckpoint(eager=True)
    smoothed.unpersist()
    return out


def fractional_uncertainty(partitioned: DataFrame) -> DataFrame:
    """Convert variance components to fractions of total (reference
    ``fractional_uncertainty``)."""
    out = partitioned
    for c in ("variability", "model", "scenario"):
        out = out.withColumn(c, F.col(c) / F.col("total"))
    return out


def make_criteria(
    df: DataFrame, columns: Sequence[str], *,
    realization: str = "realization",
) -> tuple[list, list]:
    """Reduce a per-member indicator table to the (member x criteria)
    matrix for :func:`kkz_reduce_ensemble`/:func:`kmeans_reduce_ensemble`
    (reference ``make_criteria``, _reduce.py:26).

    The distributed reduction happens BEFORE this call — ``df`` holds one
    row per member with one column per criterion, so the collect is
    members x p: driver-sized by construction, exactly like the
    reference's in-memory criteria DataArray.  Returns ``(member_ids,
    matrix)`` in member order.
    """
    rows = df.select(realization, *columns).orderBy(realization).collect()
    ids = [r[realization] for r in rows]
    mat = [[float(r[c]) for c in columns] for r in rows]
    return ids, mat


def kkz_reduce_ensemble(criteria, k: int) -> list:
    """KKZ ensemble-member selection (reference _reduce.py:177; Katsavounidis
    et al. 1994): driver-side numpy on the (member x criteria) matrix —
    the matrix is tiny after criteria reduction, exactly like the
    reference.  Returns selected member indices."""
    import numpy as np

    X = np.asarray(criteria, dtype=float)
    norm = (X - X.mean(axis=0)) / np.where(X.std(axis=0) == 0, 1,
                                           X.std(axis=0))
    center = norm.mean(axis=0)
    first = int(np.argmin(((norm - center) ** 2).sum(axis=1)))
    selected = [first]
    while len(selected) < min(k, len(norm)):
        dists = np.min(
            [((norm - norm[s]) ** 2).sum(axis=1) for s in selected], axis=0
        )
        dists[selected] = -1.0
        selected.append(int(np.argmax(dists)))
    return selected


def kmeans_reduce_ensemble(criteria, k: int, *, seed: int = 0,
                           n_iter: int = 100) -> list:
    """K-means ensemble reduction (reference _reduce.py:104): cluster the
    criteria matrix, return the member closest to each centroid
    (Lloyd's algorithm in numpy — sklearn is not available here)."""
    import numpy as np

    X = np.asarray(criteria, dtype=float)
    norm = (X - X.mean(axis=0)) / np.where(X.std(axis=0) == 0, 1,
                                           X.std(axis=0))
    rng = np.random.RandomState(seed)
    k = min(k, len(norm))
    centroids = norm[rng.choice(len(norm), k, replace=False)]
    for _ in range(n_iter):
        d = ((norm[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        new = np.array([
            norm[lab == j].mean(axis=0) if (lab == j).any() else centroids[j]
            for j in range(k)
        ])
        if np.allclose(new, centroids):
            break
        centroids = new
    out = []
    for j in range(k):
        d = ((norm - centroids[j]) ** 2).sum(axis=1)
        out.append(int(d.argmin()))
    return sorted(set(out))


def robustness_categories(
    fractions: DataFrame,
    *,
    categories: Sequence[str] = ("robust signal", "no change or no signal",
                                 "conflicting signal"),
    ops: Sequence[tuple[str, str]] = ((">=", ">="), ("<", None),
                                     (">=", "<")),
    thresholds: Sequence[tuple[float, float | None]] = ((0.66, 0.8),
                                                        (0.66, None),
                                                        (0.66, 0.8)),
    changed_col: str = "changed",
    agree_col: str = "agree",
) -> DataFrame:
    """Classify robustness fractions into categories (reference
    ``robustness_categories``, _robustness.py:336-429; IPCC AR6 advanced
    approach by default): each category tests (fraction changed, fraction
    agreeing on sign) against thresholds; the first match wins, encoded
    1..n with the category name alongside."""
    from .operators.generic import get_op

    expr = F.lit(None).cast("int")
    name = F.lit(None).cast("string")
    # build from last to first so the first category takes precedence
    for i in range(len(categories) - 1, -1, -1):
        cond = get_op(ops[i][0])(F.col(changed_col),
                                 F.lit(float(thresholds[i][0])))
        if ops[i][1] is not None and thresholds[i][1] is not None:
            cond = cond & get_op(ops[i][1])(
                F.col(agree_col), F.lit(float(thresholds[i][1])))
        expr = F.when(cond, F.lit(i + 1)).otherwise(expr)
        name = F.when(cond, F.lit(categories[i])).otherwise(name)
    return fractions.withColumn("category", expr) \
        .withColumn("category_name", name)


def robustness_fractions(
    fut: DataFrame,
    ref: DataFrame,
    var: str,
    *,
    keys: Sequence[str],
    realization: str = "realization",
    test: str | None = None,
    time: str = "time",
    **test_kwargs,
) -> DataFrame:
    """Agreement fractions on the sign of change (reference
    robustness_fractions, _robustness.py:74-335).

    With ``test=None`` (below): for each point, the fraction of members
    whose future mean exceeds / falls below their reference mean —
    inputs are per-member reduced values.  With a ``test`` name from
    :data:`SIGNIFICANCE_TESTS`, inputs are per-member SERIES (a ``time``
    column) and the member-level test drives the ``changed`` fractions
    (delegates to :func:`robustness_fractions_test`).

    ``fut``/``ref`` carry one row per (realization, keys) — typically the
    output of a per-period reduction over each epoch.  Returns
    ``keys..., changed_positive, changed_negative, agree`` where ``agree``
    is the larger fraction (the reference's sign-agreement measure).

    Plan: one broadcast-free equi-join on (realization, keys) — both
    sides are already reduced, so the join input is members x points, not
    raw data — then one aggregate."""
    if test is not None:
        return robustness_fractions_test(
            fut, ref, var, keys=keys, test=test, realization=realization,
            time=time, **test_kwargs)
    f = fut.select(realization, *keys, F.col(var).alias("_fut"))
    r = ref.select(realization, *keys, F.col(var).alias("_ref"))
    j = f.join(r, on=[realization, *keys])
    delta = F.col("_fut") - F.col("_ref")
    out = j.groupBy(*keys).agg(
        F.avg((delta > 0).cast("double")).alias("changed_positive"),
        F.avg((delta < 0).cast("double")).alias("changed_negative"),
        F.count(F.lit(1)).alias("valid_members"),
    )
    return out.withColumn(
        "agree", F.greatest("changed_positive", "changed_negative")
    )


# ---------------------------------------------------------------------------
# Member-level significance tests (reference _robustness.py:519-655).
# Each test decides, for ONE ensemble member, whether its future sample
# changed significantly from its reference sample.  The heavy part (the
# member series) stays distributed: one pandas task per (keys,
# realization); the p-value math is numpy + the repo's own incomplete-beta
# tails (no scipy in this environment).
# ---------------------------------------------------------------------------

def _test_ttest(f, r, p_change=0.05, **_):
    """One-sample t of fut against the ref mean (reference _ttest,
    _robustness.py:519-550; Tebaldi et al. 2011)."""
    import numpy as np

    from .stats import distributions as D

    nf = len(f)
    if nf < 2:
        return False, float("nan")
    t = (f.mean() - r.mean()) / (f.std(ddof=1) / np.sqrt(nf))
    p = float(D.t_sf_two_sided(t, nf - 1)[0])
    return p < p_change, p


def _test_welch(f, r, p_change=0.05, **_):
    """Two-sample Welch t (reference _welch_ttest, _robustness.py:552-581)."""
    import numpy as np

    from .stats import distributions as D

    nf, nr = len(f), len(r)
    if nf < 2 or nr < 2:
        return False, float("nan")
    vf, vr = f.var(ddof=1), r.var(ddof=1)
    se2 = vf / nf + vr / nr
    if se2 == 0:
        return False, float("nan")
    t = (f.mean() - r.mean()) / np.sqrt(se2)
    df = se2 ** 2 / ((vf / nf) ** 2 / (nf - 1) + (vr / nr) ** 2 / (nr - 1))
    p = float(D.t_sf_two_sided(t, df)[0])
    return p < p_change, p


def _test_mannwhitney(f, r, p_change=0.05, **_):
    """Two-sided Mann-Whitney U with normal approximation and tie
    correction (reference _mannwhitney_utest, _robustness.py:583-612;
    the reference's scipy call uses the same asymptotic path for tied
    or moderately sized samples)."""
    import numpy as np

    from .stats import distributions as D

    nf, nr = len(f), len(r)
    if nf == 0 or nr == 0:
        return False, float("nan")
    pooled = np.concatenate([f, r])
    order = pooled.argsort(kind="mergesort")
    ranks = np.empty(len(pooled))
    ranks[order] = np.arange(1, len(pooled) + 1)
    # average ranks for ties
    sorted_vals = pooled[order]
    uniq, inv, counts = np.unique(sorted_vals, return_inverse=True,
                                  return_counts=True)
    csum = np.cumsum(counts)
    avg_rank_of_uniq = csum - (counts - 1) / 2.0
    ranks[order] = avg_rank_of_uniq[inv]
    u1 = ranks[:nf].sum() - nf * (nf + 1) / 2.0
    n = nf + nr
    mu = nf * nr / 2.0
    tie_term = ((counts ** 3 - counts).sum()) / (n * (n - 1)) if n > 1 else 0
    sigma2 = nf * nr / 12.0 * ((n + 1) - tie_term)
    if sigma2 <= 0:
        return False, float("nan")
    z = (abs(u1 - mu) - 0.5) / np.sqrt(sigma2)
    p = float(D.norm_sf_two_sided(z))
    return p < p_change, p


def _test_brownforsythe(f, r, p_change=0.05, **_):
    """Brown-Forsythe (median-centered Levene) equality-of-variance test
    (reference _brownforsythe_test, _robustness.py:614-635)."""
    import numpy as np

    from .stats import distributions as D

    nf, nr = len(f), len(r)
    if nf < 2 or nr < 2:
        return False, float("nan")
    zf = np.abs(f - np.median(f))
    zr = np.abs(r - np.median(r))
    zbar = np.concatenate([zf, zr]).mean()
    num = nf * (zf.mean() - zbar) ** 2 + nr * (zr.mean() - zbar) ** 2
    den = ((zf - zf.mean()) ** 2).sum() + ((zr - zr.mean()) ** 2).sum()
    if den == 0:
        return False, float("nan")
    n = nf + nr
    w = (n - 2) * num / den
    p = float(D.f_sf(w, 1, n - 2)[0])
    return p < p_change, p


def _test_ipcc_ar6_c(f, r, r_years=None, **_):
    """IPCC AR6 Atlas criterion without pre-industrial control
    (reference _ipcc_ar6_c, _robustness.py:637-655): change significant
    when |delta| exceeds sqrt(2/20)*1.645*sigma_1yr of the linearly
    detrended annual reference."""
    import numpy as np

    if r_years is not None:
        # collapse to annual means first (reference resamples YS)
        yrs = np.asarray(r_years)
        uy = np.unique(yrs)
        ann = np.array([r[yrs == y].mean() for y in uy])
    else:
        ann = r
        uy = np.arange(len(r))
    if len(ann) < 3:
        return False, float("nan")
    coef = np.polyfit(uy.astype(float), ann, 1)
    resid = ann - np.polyval(coef, uy.astype(float))
    gamma = np.sqrt(2.0 / 20.0) * 1.645 * resid.std()
    delta = f.mean() - r.mean()
    return bool(abs(delta) > gamma), float("nan")


SIGNIFICANCE_TESTS = {
    "ttest": _test_ttest,
    "welch-ttest": _test_welch,
    "mannwhitney-utest": _test_mannwhitney,
    "brownforsythe-test": _test_brownforsythe,
    "ipcc-ar6-c": _test_ipcc_ar6_c,
}


def significance_test(func):
    """Register a custom significance test for
    :func:`robustness_fractions` / :func:`member_change_significance`
    (reference ``significance_test`` decorator, _robustness.py:48-68).
    The registry key mirrors the reference's convention (one leading
    underscore stripped, remaining underscores mapped to dashes, e.g.
    ``_welch_ttest`` -> ``"welch-ttest"``) so custom tests land in the
    same namespace style as the built-ins; the longer ``_test_`` prefix
    this module uses internally is also accepted.  The function receives
    two 1-D numpy arrays (fut, ref) and returns
    ``(changed: bool, pvalue: float)``."""
    name = func.__name__
    if name.startswith("_test_"):
        name = name[len("_test_"):]
    elif name.startswith("_"):
        name = name[1:]
    SIGNIFICANCE_TESTS[name.replace("_", "-")] = func
    return func


def hawkins_sutton_09_weighting(
    da: DataFrame, obs: float, baseline: tuple = ("1971", "2000"), *,
    var: str = "value", time: str = "time", model: str = "model",
) -> DataFrame:
    """Model weights from ability to simulate observed change (reference
    ``hawkins_sutton_09_weighting``, _partitioning.py:165-189):
    ``w_m = 1 / (obs + |x_m - obs|)`` where ``x_m`` is the baseline-end
    value minus the baseline mean.  One aggregation over the baseline
    epoch per model — a models-sized table."""
    y = F.year(F.col(time))
    lo, hi = int(baseline[0]), int(baseline[1])
    base = da.filter((y >= lo) & (y <= hi))
    agg = base.groupBy(model).agg(
        F.avg(var).alias("_mm"),
        F.avg(F.when(F.year(F.col(time)) == hi, F.col(var)))
        .alias("_end"),
    )
    xm = F.col("_end") - F.col("_mm")
    return agg.select(
        model,
        (F.lit(1.0) / (F.lit(float(obs)) + F.abs(xm - F.lit(float(obs)))))
        .alias("weight"),
    )


def member_change_significance(
    fut: DataFrame,
    ref: DataFrame,
    var: str,
    *,
    keys: Sequence[str],
    test: str,
    realization: str = "realization",
    time: str = "time",
    **test_kwargs,
) -> DataFrame:
    """Per-member significance of change (the member-level half of
    reference ``robustness_fractions`` with a ``test``,
    _robustness.py:74-335): one row per (keys, realization) with the
    change ``delta`` (future mean - reference mean), the test ``pval``
    and the boolean ``changed``.

    Both epochs are unioned with a flag and shuffled ONCE on
    (keys, realization); each pandas task sees one member's two samples.
    """
    if test not in SIGNIFICANCE_TESTS:
        raise ValueError(
            f"Unknown test {test!r}; have {list(SIGNIFICANCE_TESTS)}")
    fn = SIGNIFICANCE_TESTS[test]

    f = fut.select(realization, *keys, F.col(time).alias("_t"),
                   F.col(var).alias("_v"), F.lit(1).alias("_epoch"))
    r = ref.select(realization, *keys, F.col(time).alias("_t"),
                   F.col(var).alias("_v"), F.lit(0).alias("_epoch"))
    u = f.unionByName(r)

    import pandas as pd

    fields = {fld.name: fld.dataType.simpleString()
              for fld in fut.schema.fields}
    schema = ", ".join(
        [f"{realization} {fields[realization]}"]
        + [f"{k} {fields[k]}" for k in keys]
        + ["delta DOUBLE", "pval DOUBLE", "changed BOOLEAN"]
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("_t")
        fv = pdf.loc[pdf["_epoch"] == 1, "_v"].to_numpy(dtype=float)
        rv = pdf.loc[pdf["_epoch"] == 0, "_v"].to_numpy(dtype=float)
        fv, rv = fv[np.isfinite(fv)], rv[np.isfinite(rv)]
        if len(fv) == 0 or len(rv) == 0:
            changed, p, delta = None, float("nan"), float("nan")
        else:
            kw = dict(test_kwargs)
            if test == "ipcc-ar6-c":
                kw["r_years"] = pd.to_datetime(
                    pdf.loc[pdf["_epoch"] == 0, "_t"]
                ).dt.year.to_numpy()[
                    np.isfinite(pdf.loc[pdf["_epoch"] == 0, "_v"]
                                ).to_numpy()]
            changed, p = fn(fv, rv, **kw)
            delta = float(fv.mean() - rv.mean())
        out = {realization: [pdf[realization].iloc[0]]}
        for k in keys:
            out[k] = [pdf[k].iloc[0]]
        out["delta"] = [delta]
        out["pval"] = [p]
        out["changed"] = [changed]
        return pd.DataFrame(out)

    return repartition_for_apply(u, [realization, *keys]) \
        .groupBy(realization, *keys).applyInPandas(_one, schema=schema)


def robustness_fractions_test(
    fut: DataFrame,
    ref: DataFrame,
    var: str,
    *,
    keys: Sequence[str],
    test: str,
    realization: str = "realization",
    time: str = "time",
    **test_kwargs,
) -> DataFrame:
    """Reference ``robustness_fractions`` with a significance test
    (_robustness.py:74-335): per point, the fraction of members with
    significant change, split by sign, plus sign-agreement.

    Columns: ``keys..., changed, positive, changed_positive, negative,
    changed_negative, valid_members, agree``.
    """
    m = member_change_significance(
        fut, ref, var, keys=keys, test=test, realization=realization,
        time=time, **test_kwargs)
    chg = F.col("changed").cast("double")
    pos = (F.col("delta") > 0).cast("double")
    neg = (F.col("delta") < 0).cast("double")
    out = m.groupBy(*keys).agg(
        F.avg(chg).alias("changed"),
        F.avg(pos).alias("positive"),
        F.avg(chg * pos).alias("changed_positive"),
        F.avg(neg).alias("negative"),
        F.avg(chg * neg).alias("changed_negative"),
        F.count("changed").alias("valid_members"),
    )
    return out.withColumn(
        "agree", F.greatest("positive", "negative"))


def robustness_coefficient(
    fut: DataFrame,
    ref: DataFrame,
    var: str,
    *,
    keys: Sequence[str],
    realization: str = "realization",
    time: str = "time",
    alias: str = "R",
) -> DataFrame:
    """Knutti-Sedlacek (2013) robustness coefficient R = 1 - A1/A2
    (reference ``robustness_coefficient``, _robustness.py:430-517).

    A1 integrates the squared difference between the empirical CDF of
    all pooled future values and that of the per-member future means;
    A2 the same between the reference series and the member means.  The
    integral is exact: empirical CDFs are piecewise constant between
    pooled sample points, so it reduces to a sorted merge + searchsorted
    — one pandas task per point (keys), members x time rows each.
    """
    import pandas as pd

    f = fut.select(*keys, F.col(realization).alias("_rlz"),
                   F.col(var).alias("_v"), F.lit(1).alias("_epoch"))
    r = ref.select(*keys, F.lit(None).cast("string").alias("_rlz"),
                   F.col(var).alias("_v"), F.lit(0).alias("_epoch"))
    u = f.unionByName(r)

    fields = {fld.name: fld.dataType.simpleString()
              for fld in fut.schema.fields}
    schema = ", ".join([f"{k} {fields[k]}" for k in keys]
                       + [f"{alias} DOUBLE"])

    def _area(x1, x2):
        import numpy as np

        xs = np.sort(np.concatenate([x1, x2]))
        f1 = np.searchsorted(np.sort(x1), xs, side="right") / x1.size
        f2 = np.searchsorted(np.sort(x2), xs, side="right") / x2.size
        d = (f1 - f2)[:-1]
        return float(np.sum(np.diff(xs) * d * d))

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        fm = pdf[pdf["_epoch"] == 1]
        rv = pdf.loc[pdf["_epoch"] == 0, "_v"].to_numpy(dtype=float)
        v_all = fm["_v"].to_numpy(dtype=float)
        means = fm.groupby("_rlz")["_v"].mean().to_numpy(dtype=float)
        if len(means) < 2 or len(rv) < 2:
            val = float("nan")
        else:
            a1 = _area(v_all, means)
            a2 = _area(rv, means)
            val = 1.0 - a1 / a2 if a2 > 0 else float("nan")
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out[alias] = [val]
        return pd.DataFrame(out)

    return repartition_for_apply(u, keys).groupBy(*keys) \
        .applyInPandas(_one, schema=schema)


# ---------------------------------------------------------------------------
# Uncertainty partitioning beyond Hawkins-Sutton
# (reference _partitioning.py:192-283 lafferty_sriver, :284-380
# general_partition)
# ---------------------------------------------------------------------------

def _smooth_members(df, var, time, dims, deg):
    """Per-member 4th-order polynomial forced response + residual
    (shared by all partition methods; reference `.polyfit(deg=4)`)."""
    import pandas as pd

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{d} {fields[d]}" for d in dims]
        + [f"{time} {fields[time]}", "_sm DOUBLE", "_res DOUBLE"]
    )

    def _sm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(time)
        y = pdf[var].to_numpy(dtype=float)
        t = pd.to_datetime(pdf[time]).dt.year.to_numpy(dtype=float)
        ok = np.isfinite(y)
        out = np.full(len(y), np.nan)
        if ok.sum() > deg:
            coefs = np.polyfit(t[ok], y[ok], deg)
            out = np.polyval(coefs, t)
            out[~ok] = np.nan
        res = {d: pdf[d].to_numpy() for d in dims}
        res[time] = pdf[time].to_numpy()
        res["_sm"] = out
        res["_res"] = y - out
        return pd.DataFrame(res)

    return repartition_for_apply(df, list(dims)).groupBy(*dims) \
        .applyInPandas(_sm, schema=schema)


def general_partition(
    df: DataFrame,
    var: str,
    *,
    time: str = "time",
    var_first: Sequence[str] = ("model", "reference", "adjustment"),
    mean_first: Sequence[str] = ("scenario",),
    weights: Sequence[str] = ("model", "reference", "adjustment"),
    deg: int = 4,
) -> DataFrame:
    """General variance partition over arbitrary ensemble dimensions
    (reference ``general_partition``, _partitioning.py:284-380; Lavoie
    et al. defaults).  Annual series expected.

    Per dimension ``t``:
    - in ``var_first``: variance over ``t`` within each combination of
      the other dims, then (count-weighted if ``t`` in ``weights``)
      mean over the others;
    - in ``mean_first``: mean over the other dims first, then variance
      over ``t``.
    Internal variability = centered rolling 11-year variance of the
    residual from the per-member smoothed response, averaged over all
    members.  Output: one row per ``time`` with a variance column per
    dimension, ``variability`` and ``total``.

    Plan: one pandas smoothing pass per member, then pure hash
    aggregates keyed by (time, dim-subsets) — nothing wider than the
    member table ever shuffles.
    """
    dims = [*mean_first, *var_first]
    # persisted for the same reason as hawkins_sutton's smoothed table:
    # one aggregate branch per partitioned dimension reuses it
    sm = _smooth_members(df, var, time, dims, deg).persist()

    # internal variability: rolling 11-centered variance per member
    w11 = Window.partitionBy(*dims).orderBy(time).rowsBetween(-5, 5)
    cnt = F.count("_res").over(w11)
    roll_var = F.when(cnt >= 11, F.var_pop("_res").over(w11))
    with_nv = sm.withColumn("_rv", roll_var)
    nv = with_nv.groupBy(time).agg(F.avg("_rv").alias("variability"))

    out = nv
    for t in var_first:
        others = [d for d in dims if d != t]
        per = sm.groupBy(time, *others).agg(
            F.var_pop("_sm").alias("_v"), F.count("_sm").alias("_n"))
        if t in weights:
            comp = per.groupBy(time).agg(
                (F.sum(F.col("_v") * F.col("_n")) / F.sum("_n")).alias(t))
        else:
            comp = per.groupBy(time).agg(F.avg("_v").alias(t))
        out = out.join(comp, on=time)
    for t in mean_first:
        others = [d for d in dims if d != t]
        comp = (
            sm.groupBy(time, t).agg(F.avg("_sm").alias("_m"))
            .groupBy(time).agg(F.var_pop("_m").alias(t))
        )
        out = out.join(comp, on=time)

    total = F.col("variability")
    for t in dims:
        total = total + F.col(t)
    out = out.withColumn("total", total)
    # tiny per-year result: materialize, release the member-table cache
    out = out.localCheckpoint(eager=True)
    sm.unpersist()
    return out


def lafferty_sriver(
    df: DataFrame,
    var: str,
    *,
    time: str = "time",
    scenario: str = "scenario",
    model: str = "model",
    downscaling: str = "downscaling",
    bb13: bool = False,
    deg: int = 4,
) -> DataFrame:
    """Lafferty & Sriver (2023) partition into scenario, model,
    downscaling and internal variability (reference ``lafferty_sriver``,
    _partitioning.py:192-283): the general engine with model and
    downscaling variance-first (count-weighted) and scenario mean-first
    — or variance-first unweighted under the Brekke-Barsugli 2013
    variant (``bb13``)."""
    if bb13:
        return general_partition(
            df, var, time=time,
            var_first=[scenario, model, downscaling],
            mean_first=[], weights=[model, downscaling], deg=deg)
    return general_partition(
        df, var, time=time, var_first=[model, downscaling],
        mean_first=[scenario], weights=[model, downscaling], deg=deg)
