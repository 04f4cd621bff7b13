"""Fused indicator evaluation, both sides of its gate.

An indicator whose compute is one period aggregate, called without a time
indexer and with no or a count-based missing method, compiles to one
``groupBy(cells, period)`` carrying the value and the mask's valid count;
every other call computes, builds the mask DataFrame and left-joins it.
The parity tests reach the join path for the same indicator by
re-registering a built-in count-based method under a new name (a custom
method, which the fused path does not take)."""

from datetime import date, timedelta

import pytest

from xclim_spark.indicators import atmos, evaluate_indicators, from_dict, registry
from xclim_spark.operators import missing as miss

METHODS = [
    ("any", {}),
    ("pct", {"tolerance": 0.1}),
    ("at_least_n", {"n": 25}),
    ("some_but_not_all", {}),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _fixture(spark):
    """January-March 2000 for cells 1, 2 and NULL, with NULL values, absent
    days, an all-NULL month and complete months."""
    rows = []

    def add(cell, month, days, nulls=()):
        for d in days:
            rows.append((cell, date(2000, month, d),
                         None if d in nulls else float(d % 7 + 10)))

    add(1, 1, range(1, 32))
    add(1, 2, range(1, 30), nulls={3, 4, 5})
    add(1, 3, range(1, 21))
    add(None, 1, range(1, 11))
    add(None, 2, range(1, 30))
    add(2, 1, range(1, 32), nulls=set(range(1, 32)))
    add(2, 3, range(1, 32), nulls={7})
    return spark.createDataFrame(rows, "cell INT, time DATE, v DOUBLE")


@pytest.fixture
def via_join():
    """``{method: name}``: each count-based method under a custom name."""
    names = {}
    for method, _ in METHODS:
        fn = miss.MISSING_METHODS[method]
        names[method] = f"{method}_via_join"
        miss.register_missing_method(names[method])(
            lambda *a, _fn=fn, **k: _fn(*a, **k))
    yield names
    for name in names.values():
        del miss.MISSING_METHODS[name]


def _one_aggregation(plan: str) -> bool:
    return ("Join" not in plan
            and plan.count("Exchange hashpartitioning") == 1)


def test_fused_call_is_one_aggregation(spark):
    out = atmos.tg_mean(_fixture(spark), tas="v", freq="MS", cells=["cell"],
                        missing="any").df
    plan = _plan(out)
    assert _one_aggregation(plan), plan
    assert plan.count("FileScan") + plan.count("Scan ExistingRDD") == 1


@pytest.mark.parametrize("method,options", METHODS)
def test_fused_matches_join_path(spark, via_join, method, options):
    df = _fixture(spark)
    kw = dict(tas="v", freq="MS", cells=["cell"], missing_options=options)
    fused = atmos.tg_mean(df, missing=method, **kw).df
    joined = atmos.tg_mean(df, missing=via_join[method], **kw).df
    assert _one_aggregation(_plan(fused))
    assert "Join" in _plan(joined)
    got = _rows(fused)
    assert got == _rows(joined)
    assert len(got) == 7


@pytest.mark.parametrize("path", ["fused", "join"])
def test_null_cell_series_is_masked(spark, via_join, path):
    """10 of 31 January days: masked under cell 1 and under a NULL cell."""
    rows = [(c, date(2000, 1, d), 1.0) for c in (1, None)
            for d in range(1, 11)]
    df = spark.createDataFrame(rows, "cell INT, time DATE, v DOUBLE")
    method = "any" if path == "fused" else via_join["any"]
    out = atmos.tg_mean(df, tas="v", freq="MS", cells=["cell"],
                        missing=method).df
    assert {r["cell"]: r["tg_mean"] for r in out.collect()} \
        == {1: None, None: None}


def test_batch_matches_separate_calls(spark, via_join):
    from pyspark.sql import functions as F

    df = _fixture(spark).withColumn("tx", F.col("v") + 4.0)
    calls = {
        "tg_mean": dict(tas="v", freq="MS", missing="any"),
        "tx_days_above": dict(tasmax="tx", thresh=18.0, freq="MS",
                              missing="pct",
                              missing_options={"tolerance": 0.1}),
    }
    res = evaluate_indicators(df, calls, cells=["cell"])
    assert _one_aggregation(_plan(res.df))
    assert set(res.attrs) == set(calls)
    assert res.attrs["tg_mean"]["units"] == "degC"
    want: dict = {}
    for name, kw in calls.items():
        kw = {**kw, "missing": via_join[kw["missing"]]}
        for r in registry[name](df, cells=["cell"], **kw).df.collect():
            want.setdefault((r["cell"], r["period"]), {})[name] = r[name]
    got = {(r["cell"], r["period"]): {n: r[n] for n in calls}
           for r in res.df.collect()}
    assert got == want
    assert len(got) == 7


def test_batch_rejects_what_cannot_share_the_aggregation(spark):
    df = _fixture(spark)
    with pytest.raises(ValueError, match="freq"):
        evaluate_indicators(df, {"tg_mean": dict(tas="v", freq="MS"),
                                 "tx_days_above": dict(tasmax="v")},
                            cells=["cell"])
    with pytest.raises(ValueError, match="not one period aggregate"):
        evaluate_indicators(df, {"maximum_consecutive_dry_days": dict(pr="v")},
                            cells=["cell"])
    with pytest.raises(ValueError, match="count-based"):
        evaluate_indicators(df, {"tg_mean": dict(tas="v", missing="wmo")},
                            cells=["cell"])


def test_run_length_compute_with_mask_joins(spark):
    out = atmos.maximum_consecutive_dry_days(
        _fixture(spark), pr="v", thresh=12.0, freq="MS", cells=["cell"],
        missing="any").df
    assert "Join" in _plan(out)
    got = {(r["cell"], r["period"].month): r["maximum_consecutive_dry_days"]
           for r in out.collect()}
    assert got[(1, 1)] is not None
    assert got[(None, 1)] is None and got[(None, 2)] is not None


def test_wmo_mask_joins(spark):
    out = atmos.tg_mean(_fixture(spark), tas="v", freq="MS", cells=["cell"],
                        missing="wmo").df
    assert "Join" in _plan(out)
    got = {(r["cell"], r["period"].month): r["tg_mean"]
           for r in out.collect()}
    # complete months keep their value; 11 trailing absent days mask March
    assert got[(1, 1)] is not None and got[(None, 2)] is not None
    assert got[(1, 3)] is None and got[(None, 1)] is None


def test_season_call_joins(spark):
    ind = from_dict(dict(
        identifier="_tg_mean_season_probe", compute="resample_op",
        input={"data": "tas"},
        parameters={"op": {"default": "mean", "kind": "string"},
                    "freq": {"default": "YS", "kind": "freq"},
                    "season": {"default": None, "kind": "string"}}))
    try:
        out = ind(_fixture(spark), tas="v", freq="MS", season="DJF",
                  cells=["cell"], missing="any").df
        assert "Join" in _plan(out)
        got = {(r["cell"], r["period"].month): r["_tg_mean_season_probe"]
               for r in out.collect()}
    finally:
        del registry["_tg_mean_season_probe"]
    assert {m for _, m in got} == {1, 2}
    assert got[(1, 1)] is not None and got[(None, 1)] is None


@pytest.fixture
def lineitem_dir(spark, tmp_path):
    """A two-year, three-supplier ``lineitem`` table for building gates."""
    rows = [(s, date(2000, 1, 1) + timedelta(days=d), float(d % 40), 1.0)
            for s in range(3) for d in range(731)]
    spark.createDataFrame(
        rows, "l_suppkey BIGINT, l_shipdate DATE, l_quantity DOUBLE, "
              "l_extendedprice DOUBLE",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize("gate", ["ind_tg_mean_masked_ms",
                                  "ind_warm_freq_ys"])
def test_registry_gates_read_lineitem_once(spark, lineitem_dir, gate):
    from xclim_spark.queries import build_queries

    plan = _plan(build_queries()[gate](spark, lineitem_dir))
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    # the daily series, then the indicators' period aggregation
    assert plan.count("Exchange hashpartitioning") == 2, plan
