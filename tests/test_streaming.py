"""Structured Streaming operator tests: file source -> memory sink with
availableNow trigger (deterministic micro-batches), and the
``streaming.run`` helper every streaming gate ends with."""

import datetime as dt
import os
import time as _time

import pytest
from pyspark.sql import functions as F


def _write_stream_input(spark, tmp_path, rows, schema):
    path = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    return path


def _run_to_memory(sdf, name):
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # a query still running at the timeout must not outlive its test
    q.stop()
    return q


def test_streaming_threshold_count(spark, tmp_path):
    from xclim_spark.streaming import streaming_threshold_count

    base = dt.datetime(2000, 1, 1, 12)
    rows = []
    for cell in (1, 2):
        for d in range(6):
            rows.append((cell, base + dt.timedelta(days=d),
                         30.0 if d % 2 == 0 else 10.0))
    path = _write_stream_input(
        spark, tmp_path, rows, "cell INT, time TIMESTAMP, tas DOUBLE")
    sdf = spark.readStream.schema(
        "cell INT, time TIMESTAMP, tas DOUBLE").parquet(path)
    out = streaming_threshold_count(sdf, "tas", ">", 25.0, "D",
                                    cells=["cell"])
    _run_to_memory(out, "tc")
    res = spark.sql("select * from tc").collect()
    # watermark in append mode holds back windows until later events
    # arrive; availableNow flushes what is final — at least the early
    # windows must be emitted with correct counts
    got = {(r["cell"], r["period"]["start"].day): r["count"] for r in res}
    for (c, d), n in got.items():
        assert n == (1 if d % 2 == 1 else 0)


def test_streaming_spell_events(spark, tmp_path):
    from xclim_spark.streaming import streaming_spell_events

    base = dt.datetime(2000, 1, 1, 12)
    # cell 1: spell of 3 (days 1-3), gap, spell of 2 (days 5-6), open run
    vals = [30, 30, 30, 10, 28, 29, 10, 31]
    rows = [(1, base + dt.timedelta(days=i), float(v))
            for i, v in enumerate(vals)]
    path = _write_stream_input(
        spark, tmp_path, rows, "cell LONG, time TIMESTAMP, tas DOUBLE")
    sdf = spark.readStream.schema(
        "cell LONG, time TIMESTAMP, tas DOUBLE").parquet(path)
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=2)
    _run_to_memory(out, "spells")
    res = spark.sql("select * from spells order by event_start").collect()
    # the trailing single-day run stays open in state (no closing row),
    # so exactly two closed events emit
    assert len(res) == 2
    assert res[0]["event_length"] == 3
    assert res[0]["event_sum"] == pytest.approx(90.0)
    assert res[1]["event_length"] == 2
    assert res[1]["event_sum"] == pytest.approx(57.0)


def test_streaming_spell_events_cross_batch(spark, tmp_path):
    """A spell spanning micro-batches must merge through state: file 1
    ends inside an active run, file 2 continues then closes it.
    maxFilesPerTrigger=1 forces one batch per file."""
    from xclim_spark.streaming import streaming_spell_events

    base = dt.datetime(2000, 1, 1, 12)
    p = tmp_path / "in2"
    p.mkdir()
    # batch 1: days 0-3 -> run opens on days 2-3 (30, 31)
    rows1 = [(1, base + dt.timedelta(days=i), float(v))
             for i, v in enumerate([10, 10, 30, 31])]
    # batch 2: days 4-6 -> run continues (28) then closes (10); plus a
    # whole-batch closed spell afterwards (29, but single -> below min)
    rows2 = [(1, base + dt.timedelta(days=4 + i), float(v))
             for i, v in enumerate([28, 10, 29])]
    schema = "cell LONG, time TIMESTAMP, tas DOUBLE"
    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    for name, rows in (("a.parquet", rows1), ("b.parquet", rows2)):
        pdf = _pd.DataFrame(rows, columns=["cell", "time", "tas"])
        _pq.write_table(_pa.Table.from_pandas(pdf), str(p / name),
                        coerce_timestamps="us",
                        allow_truncated_timestamps=True)
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(p)))
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=2)
    _run_to_memory(out, "spells_xb")
    res = spark.sql(
        "select * from spells_xb order by event_start").collect()
    assert len(res) == 1
    assert res[0]["event_length"] == 3          # 30, 31 | 28
    assert res[0]["event_sum"] == pytest.approx(89.0)
    assert res[0]["event_start"] == base + dt.timedelta(days=2)


def test_session_window_merges_across_micro_batches(spark, tmp_path):
    """A session whose events straddle two micro-batch files must emerge
    as ONE session (native session-window state merge), and the
    far-future sentinel flushes it in append mode."""
    import pandas as pd

    d = tmp_path / "sess"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 10:00:00")
    pd.DataFrame({
        "user_id": [1, 1, 2],
        "ts": [t0, t0 + pd.Timedelta(minutes=10),
               t0 + pd.Timedelta(minutes=5)],
        "value": [1.0, 2.0, 5.0],
    }).to_parquet(d / "a.parquet", coerce_timestamps="us")
    # second file: user 1 continues within the 30-min gap (merge!),
    # then a sentinel far in the future to flush everything
    pd.DataFrame({
        "user_id": [1, -1],
        "ts": [t0 + pd.Timedelta(minutes=35),
               t0 + pd.Timedelta(hours=6)],
        "value": [4.0, 0.0],
    }).to_parquet(d / "b.parquet", coerce_timestamps="us")

    from xclim_spark.streaming.sessions import streaming_sessionize

    sdf = (spark.readStream
           .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*.parquet")))
    out = streaming_sessionize(sdf, keys=["user_id"], time="ts",
                               gap="30 minutes",
                               watermark="10 minutes", value="value")
    q = (out.writeStream.format("memory").queryName("sess_merge_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r["user_id"]: r for r in
            spark.table("sess_merge_t").collect() if r["user_id"] >= 0}
    assert rows[1]["n_events"] == 3          # merged across the seam
    assert rows[1]["total_value"] == 7.0
    assert str(rows[1]["sess_start"]) == "2024-01-01 10:00:00"
    assert rows[2]["n_events"] == 1 and rows[2]["total_value"] == 5.0


def test_streaming_cffwis_matches_batch(spark, tmp_path):
    """Streaming CFFWIS (WF93 season automaton + overwintered DC) resumed
    across micro-batch seams must be BIT-identical to one batch
    cffwis_indices call over the full series: same mask transitions, same
    moisture-code recursion, same overwinter accumulators — the state
    threading is the only new code, the kernel is shared."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    days = pd.date_range("2000-01-01", "2003-12-31", freq="D")
    n = len(days)
    rows = []
    for cell in (1, 2):
        # strong seasonal cycle so WF93 genuinely starts/stops each year
        doy = days.dayofyear.to_numpy()
        tas = (12.0 + 14.0 * np.sin((doy - 110) / 365.0 * 2 * np.pi)
               + rng.normal(0, 2.5, n) + cell)
        prcp = np.maximum(0.0, rng.normal(0, 4.0, n))
        hurs = np.clip(55 + rng.normal(0, 15, n), 5, 99)
        ws = np.clip(12 + rng.normal(0, 4, n), 0, None)
        for i in range(n):
            rows.append((cell, days[i].to_pydatetime(), float(tas[i]),
                         float(prcp[i]), float(hurs[i]), float(ws[i])))
    pdf = pd.DataFrame(rows, columns=["cell", "ts", "tas", "prcp",
                                      "hurs", "ws"])

    # batch reference over the full series
    from xclim_spark.operators import fire

    bdf = spark.createDataFrame(pdf)
    batch = fire.cffwis_indices(
        bdf, tas="tas", pr="prcp", hurs="hurs", sfcWind="ws", lat=47.0,
        time="ts", cells=["cell"], season_method="WF93",
        overwintering=True).collect()
    bmap = {(r["cell"], r["ts"]): r for r in batch}

    # stream the same rows in 4 one-year files (one micro-batch each)
    d = tmp_path / "fwi_in"
    d.mkdir()
    for j, yr in enumerate(sorted(pdf["ts"].dt.year.unique())):
        part = pdf[pdf["ts"].dt.year == yr].sort_values(["cell", "ts"])
        part.to_parquet(d / f"p{j}.parquet", coerce_timestamps="us")
        _time.sleep(1.05)  # distinct mtimes -> deterministic order

    from xclim_spark.streaming import streaming_cffwis

    sdf = (spark.readStream
           .schema("cell LONG, ts TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
                   "hurs DOUBLE, ws DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*.parquet")))
    out = streaming_cffwis(sdf, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", lat=47.0, time="ts", cell="cell",
                           season_method="WF93", overwintering=True)
    _run_to_memory(out, "fwi_stream")
    got = spark.table("fwi_stream").collect()
    assert len(got) == len(batch)
    n_onseason = 0
    for r in got:
        b = bmap[(r["cell"], r["ts"])]
        for c in ("ffmc", "dmc", "dc", "isi", "bui", "fwi"):
            gv, bv = r[c], b[c]
            if gv is None or (isinstance(gv, float) and gv != gv):
                assert bv is None or bv != bv, (r["cell"], r["ts"], c)
            else:
                assert gv == pytest.approx(bv, abs=1e-9), \
                    (r["cell"], r["ts"], c)
                n_onseason += 1
    # the fixture must actually exercise the season automaton both ways
    assert 0 < n_onseason < 6 * len(batch)


def test_streaming_cffwis_plain_matches_batch(spark, tmp_path):
    """season_method=None: the always-on system resumed across seams
    equals the batch kernel (no automaton, pure moisture-code state)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    days = pd.date_range("2001-01-01", periods=400, freq="D")
    pdf = pd.DataFrame({
        "cell": 5,
        "ts": days,
        "tas": 15 + rng.normal(0, 5, 400),
        "prcp": np.maximum(0.0, rng.normal(0, 3.0, 400)),
        "hurs": np.clip(60 + rng.normal(0, 10, 400), 5, 99),
        "ws": np.clip(10 + rng.normal(0, 3, 400), 0, None),
    })
    from xclim_spark.operators import fire

    batch = fire.cffwis_indices(
        spark.createDataFrame(pdf), tas="tas", pr="prcp", hurs="hurs",
        sfcWind="ws", lat=45.0, time="ts", cells=["cell"]).collect()
    bmap = {r["ts"]: r for r in batch}

    d = tmp_path / "fwi_plain"
    d.mkdir()
    for j, chunk in enumerate(np.array_split(np.arange(400), 3)):
        pdf.iloc[chunk].to_parquet(d / f"p{j}.parquet",
                                   coerce_timestamps="us")
        _time.sleep(1.05)

    from xclim_spark.streaming import streaming_cffwis

    sdf = (spark.readStream
           .schema("cell LONG, ts TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
                   "hurs DOUBLE, ws DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*.parquet")))
    out = streaming_cffwis(sdf, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", lat=45.0, time="ts", cell="cell",
                           season_method=None, overwintering=False)
    _run_to_memory(out, "fwi_stream_plain")
    got = spark.table("fwi_stream_plain").collect()
    assert len(got) == 400
    for r in got:
        b = bmap[r["ts"]]
        for c in ("ffmc", "dmc", "dc", "isi", "bui", "fwi"):
            assert r[c] == pytest.approx(b[c], abs=1e-9), (r["ts"], c)


def test_streaming_cffwis_gaps_and_midstream_cells(spark, tmp_path):
    """Blocked-state alignment: a cell with calendar GAPS (its automaton
    windows must count its own consecutive days, not the block's union
    axis) and a cell that first APPEARS in a later micro-batch must both
    match the batch kernel exactly."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    days = pd.date_range("2000-01-01", "2002-12-31", freq="D")
    n = len(days)
    doy = days.dayofyear.to_numpy()
    rows = []
    for cell in (1, 2, 3):
        tas = (12.0 + 14.0 * np.sin((doy - 110) / 365.0 * 2 * np.pi)
               + rng.normal(0, 2.5, n) + cell)
        prcp = np.maximum(0.0, rng.normal(0, 4.0, n))
        hurs = np.clip(55 + rng.normal(0, 15, n), 5, 99)
        ws = np.clip(12 + rng.normal(0, 4, n), 0, None)
        for i in range(n):
            if cell == 1 and i % 3 == 2:
                continue  # gappy series
            if cell == 3 and days[i].year < 2001:
                continue  # appears mid-stream (batch 2)
            rows.append((cell, days[i].to_pydatetime(), float(tas[i]),
                         float(prcp[i]), float(hurs[i]), float(ws[i])))
    pdf = pd.DataFrame(rows, columns=["cell", "ts", "tas", "prcp",
                                      "hurs", "ws"])

    from xclim_spark.operators import fire

    batch = fire.cffwis_indices(
        spark.createDataFrame(pdf), tas="tas", pr="prcp", hurs="hurs",
        sfcWind="ws", lat=47.0, time="ts", cells=["cell"],
        season_method="WF93", overwintering=True).collect()
    bmap = {(r["cell"], r["ts"]): r for r in batch}

    d = tmp_path / "fwi_gaps"
    d.mkdir()
    for j, yr in enumerate(sorted(pdf["ts"].dt.year.unique())):
        part = pdf[pdf["ts"].dt.year == yr].sort_values(["cell", "ts"])
        part.to_parquet(d / f"p{j}.parquet", coerce_timestamps="us")
        _time.sleep(1.05)

    from xclim_spark.streaming import streaming_cffwis

    sdf = (spark.readStream
           .schema("cell LONG, ts TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
                   "hurs DOUBLE, ws DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*.parquet")))
    out = streaming_cffwis(sdf, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", lat=47.0, time="ts", cell="cell",
                           season_method="WF93", overwintering=True,
                           num_blocks=2)  # cells share blocks
    _run_to_memory(out, "fwi_stream_gaps")
    got = spark.table("fwi_stream_gaps").collect()
    assert len(got) == len(batch)
    for r in got:
        b = bmap[(r["cell"], r["ts"])]
        for c in ("ffmc", "dmc", "dc", "isi", "bui", "fwi"):
            gv, bv = r[c], b[c]
            if gv is None or (isinstance(gv, float) and gv != gv):
                assert bv is None or bv != bv, (r["cell"], r["ts"], c)
            else:
                assert gv == pytest.approx(bv, abs=1e-9), \
                    (r["cell"], r["ts"], c)


def test_streaming_spell_events_blocked_matches_batch_random(
        spark, tmp_path):
    """Blocked-state sessionization vs batch find_events on a seeded
    multi-cell series with runs engineered to cross every micro-batch
    seam: per-cell carried (len, start, sum) must merge through the
    parallel-array state exactly."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(77)
    days = pd.date_range("2000-01-01", periods=240, freq="D")
    rows = []
    for c in range(17):  # enough cells to share blocks
        # sticky flag process -> long runs that straddle the 80-day
        # file boundaries
        v, cur = [], 10.0
        for i in range(240):
            if rng.random() < 0.08:
                cur = 30.0 if cur < 25.0 else 10.0
            v.append(cur + rng.normal(0, 1.0))
        for i in range(240):
            if c % 5 == 0 and i % 7 == 3:
                continue  # calendar gaps on some cells
            rows.append((c, days[i].to_pydatetime(), float(v[i])))
    pdf = pd.DataFrame(rows, columns=["cell", "ts", "tas"])

    from pyspark.sql import functions as F2

    from xclim_spark.operators import run_length as rl

    bdf = spark.createDataFrame(pdf)
    batch = rl.find_events(
        bdf, F2.col("tas") > 25.0, 1, data_var="tas", time="ts",
        cells=["cell"]).collect()
    # batch find_events reports every event incl. the trailing open run;
    # the stream leaves trailing runs in state, so compare on the
    # common set: events that END before each cell's last timestamp
    last_ts = pdf.groupby("cell")["ts"].max().to_dict()
    bset = {(r["cell"], r["event_start"], r["event_length"],
             round(r["event_sum"], 9))
            for r in batch if r["event_end"] < last_ts[r["cell"]]}

    d = tmp_path / "spells_blk"
    d.mkdir()
    for j in range(3):  # 80-day files -> 3 micro-batches
        lo, hi = days[j * 80], days[min(239, (j + 1) * 80 - 1)]
        part = pdf[(pdf["ts"] >= lo) & (pdf["ts"] <= hi)] \
            .sort_values(["cell", "ts"])
        part.to_parquet(d / f"p{j}.parquet", coerce_timestamps="us")
        _time.sleep(1.05)

    from xclim_spark.streaming import streaming_spell_events

    sdf = (spark.readStream
           .schema("cell LONG, ts TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*.parquet")))
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=1,
                                 time="ts", num_blocks=4)
    _run_to_memory(out, "spells_blocked_rand")
    got = {(r["cell"], r["event_start"], r["event_length"],
            round(r["event_sum"], 9))
           for r in spark.table("spells_blocked_rand").collect()}
    assert got == bset
    assert len(bset) > 50  # the fixture genuinely generates events


@pytest.mark.parametrize("method", ["LA08", "GFWED"])
def test_streaming_cffwis_snow_methods_match_batch(spark, tmp_path,
                                                   method):
    """LA08 / GFWED season automatons (snow-depth windows INCLUDE the
    current day) carried through streaming state must match the batch
    kernel exactly — the snow window is a second carried buffer."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(23 + len(method))
    days = pd.date_range("2000-01-01", "2002-12-31", freq="D")
    n = len(days)
    doy = days.dayofyear.to_numpy()
    rows = []
    for cell in (1, 2):
        tas = (10.0 + 13.0 * np.sin((doy - 110) / 365.0 * 2 * np.pi)
               + rng.normal(0, 2.0, n) + cell)
        # winter snowpack: on when the seasonal cycle is cold, with
        # noise so start/stop genuinely flip around the threshold
        snd = np.clip(
            -0.3 * np.sin((doy - 110) / 365.0 * 2 * np.pi)
            + rng.normal(0, 0.08, n), 0.0, None)
        prcp = np.maximum(0.0, rng.normal(0, 4.0, n))
        hurs = np.clip(55 + rng.normal(0, 15, n), 5, 99)
        ws = np.clip(12 + rng.normal(0, 4, n), 0, None)
        for i in range(n):
            rows.append((cell, days[i].to_pydatetime(), float(tas[i]),
                         float(prcp[i]), float(hurs[i]), float(ws[i]),
                         float(snd[i])))
    pdf = pd.DataFrame(rows, columns=["cell", "ts", "tas", "prcp",
                                      "hurs", "ws", "snd"])

    from xclim_spark.operators import fire

    batch = fire.cffwis_indices(
        spark.createDataFrame(pdf), tas="tas", pr="prcp", hurs="hurs",
        sfcWind="ws", snd="snd", lat=47.0, time="ts", cells=["cell"],
        season_method=method, overwintering=True).collect()
    bmap = {(r["cell"], r["ts"]): r for r in batch}

    d = tmp_path / f"fwi_{method}"
    d.mkdir()
    for j, yr in enumerate(sorted(pdf["ts"].dt.year.unique())):
        part = pdf[pdf["ts"].dt.year == yr].sort_values(["cell", "ts"])
        part.to_parquet(d / f"p{j}.parquet", coerce_timestamps="us")
        _time.sleep(1.05)

    from xclim_spark.streaming import streaming_cffwis

    sdf = (spark.readStream
           .schema("cell LONG, ts TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
                   "hurs DOUBLE, ws DOUBLE, snd DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*.parquet")))
    out = streaming_cffwis(sdf, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", snd="snd", lat=47.0, time="ts",
                           cell="cell", season_method=method,
                           overwintering=True, num_blocks=2)
    _run_to_memory(out, f"fwi_stream_{method}")
    got = spark.table(f"fwi_stream_{method}").collect()
    assert len(got) == len(batch)
    n_on = 0
    for r in got:
        b = bmap[(r["cell"], r["ts"])]
        for c in ("ffmc", "dmc", "dc", "isi", "bui", "fwi"):
            gv, bv = r[c], b[c]
            if gv is None or (isinstance(gv, float) and gv != gv):
                assert bv is None or bv != bv, (r["cell"], r["ts"], c)
            else:
                assert gv == pytest.approx(bv, abs=1e-9), \
                    (r["cell"], r["ts"], c)
                n_on += 1
    # seasons must genuinely toggle (some on, some off)
    assert 0 < n_on < 6 * len(batch)


def _two_ordered_files(tmp_path, rows1, rows2, columns):
    """Write two parquet files with distinct mtimes so
    maxFilesPerTrigger=1 yields two deterministic micro-batches."""
    import pandas as _pd

    p = tmp_path / "ooo"
    p.mkdir()
    for name, rows in (("a.parquet", rows1), ("b.parquet", rows2)):
        _pd.DataFrame(rows, columns=columns).to_parquet(
            str(p / name), coerce_timestamps="us",
            allow_truncated_timestamps=True)
        _time.sleep(1.05)
    return str(p)


def test_streaming_spell_events_rejects_out_of_order(spark, tmp_path):
    """The per-cell time-order contract is enforced: a later micro-batch
    carrying a row at or before the cell's last processed timestamp must
    fail the query loudly, not silently corrupt the sessionization."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_spell_events

    base = dt.datetime(2000, 1, 1, 12)
    rows1 = [(1, base + dt.timedelta(days=i), 30.0) for i in range(3)]
    # batch 2 replays day 1 — strictly before batch 1's last day
    rows2 = [(1, base + dt.timedelta(days=1), 30.0)]
    path = _two_ordered_files(tmp_path, rows1, rows2,
                              ["cell", "time", "tas"])
    sdf = (spark.readStream.schema("cell LONG, time TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1).parquet(path))
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=2)
    q = (out.writeStream.format("memory").queryName("spells_ooo")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="out-of-order"):
        q.awaitTermination(120)


def test_streaming_spell_events_rejects_duplicate_rows(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_spell_events

    base = dt.datetime(2000, 1, 1, 12)
    rows = [(1, base, 30.0), (1, base, 31.0),
            (1, base + dt.timedelta(days=1), 30.0)]
    path = _write_stream_input(
        spark, tmp_path, rows, "cell LONG, time TIMESTAMP, tas DOUBLE")
    sdf = spark.readStream.schema(
        "cell LONG, time TIMESTAMP, tas DOUBLE").parquet(path)
    out = streaming_spell_events(sdf, "tas", ">", 25.0)
    q = (out.writeStream.format("memory").queryName("spells_dup")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="duplicate"):
        q.awaitTermination(120)


def test_streaming_cffwis_rejects_out_of_order(spark, tmp_path):
    """Same contract for the streaming fire-weather system: a replayed
    day must raise, because the moisture-code recursion would otherwise
    silently double-apply it."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_cffwis

    base = dt.datetime(2000, 6, 1, 12)
    rows1 = [(1, base + dt.timedelta(days=i), 20.0, 0.0, 40.0, 10.0)
             for i in range(5)]
    rows2 = [(1, base + dt.timedelta(days=2), 20.0, 0.0, 40.0, 10.0)]
    path = _two_ordered_files(tmp_path, rows1, rows2,
                              ["cell", "time", "tas", "prcp", "hurs", "ws"])
    schema = ("cell LONG, time TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
              "hurs DOUBLE, ws DOUBLE")
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(path))
    out = streaming_cffwis(sdf, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", lat=47.0, season_method=None,
                           num_blocks=2)
    q = (out.writeStream.format("memory").queryName("fwi_ooo")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="out-of-order"):
        q.awaitTermination(120)


def test_streaming_cffwis_rejects_duplicate_rows(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_cffwis

    base = dt.datetime(2000, 6, 1, 12)
    rows = [(1, base, 20.0, 0.0, 40.0, 10.0),
            (1, base, 21.0, 0.0, 40.0, 10.0)]
    path = _write_stream_input(
        spark, tmp_path, rows,
        "cell LONG, time TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
        "hurs DOUBLE, ws DOUBLE")
    sdf = spark.readStream.schema(
        "cell LONG, time TIMESTAMP, tas DOUBLE, prcp DOUBLE, "
        "hurs DOUBLE, ws DOUBLE").parquet(path)
    out = streaming_cffwis(sdf, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", lat=47.0, season_method=None,
                           num_blocks=2)
    q = (out.writeStream.format("memory").queryName("fwi_dup")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="duplicate"):
        q.awaitTermination(120)


def test_streaming_num_blocks_checkpoint_invariance(spark, tmp_path):
    """num_blocks must stay fixed for the life of a checkpoint (cells
    map to state blocks by hash).  Each state entry records its
    writer's num_blocks; resuming the checkpoint under a different
    value must fail loudly on the first batch touching carried state."""
    import pandas as _pd

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_spell_events

    # pick a cell whose block id coincides under num_blocks 2 and 3 so
    # the resumed query deterministically reads the carried entry
    pick = (spark.range(1, 256)
            .select("id", F.pmod(F.hash("id"), F.lit(2)).alias("b2"),
                    F.pmod(F.hash("id"), F.lit(3)).alias("b3"))
            .where("b2 = b3").limit(1).collect())
    cell = int(pick[0]["id"])

    base = dt.datetime(2000, 1, 1, 12)
    p = tmp_path / "in"
    p.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "cell LONG, time TIMESTAMP, tas DOUBLE"

    def _write(name, day0, ndays):
        _pd.DataFrame(
            [(cell, base + dt.timedelta(days=day0 + i), 30.0)
             for i in range(ndays)],
            columns=["cell", "time", "tas"],
        ).to_parquet(str(p / name), coerce_timestamps="us",
                     allow_truncated_timestamps=True)

    sink = str(tmp_path / "sink")

    def _run(nb, qname):
        sdf = spark.readStream.schema(schema).parquet(str(p))
        out = streaming_spell_events(sdf, "tas", ">", 25.0,
                                     num_blocks=nb)
        q = (out.writeStream.format("parquet").queryName(qname)
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    _write("a.parquet", 0, 3)
    _run(2, "nb_ck_first")
    _write("b.parquet", 3, 2)
    with pytest.raises(StreamingQueryException,
                       match="num_blocks changed"):
        _run(3, "nb_ck_second")
    # and the documented-safe restart (same num_blocks) still works
    _write("c.parquet", 5, 2)
    _run(2, "nb_ck_resume")


@pytest.mark.slow
def test_streaming_spell_events_idle_timeout_flush(spark, tmp_path):
    """With timeout_ms set, a block that receives no data for that long
    must flush its open runs as closed events (no sentinel row needed)."""
    import pandas as _pd

    from xclim_spark.streaming import streaming_spell_events

    # two cells in DIFFERENT blocks under num_blocks=2, so batch 2 can
    # carry data for one block while the other times out
    rows = (spark.range(1, 64)
            .select("id", F.pmod(F.hash("id"), F.lit(2)).alias("b"))
            .collect())
    by_b = {}
    for r in rows:
        by_b.setdefault(int(r["b"]), int(r["id"]))
        if len(by_b) == 2:
            break
    c1, c2 = by_b[0], by_b[1]

    base = dt.datetime(2000, 1, 1, 12)
    p = tmp_path / "in"
    p.mkdir()

    def _write(name, cell, day0, vals):
        _pd.DataFrame(
            [(cell, base + dt.timedelta(days=day0 + i), float(v))
             for i, v in enumerate(vals)],
            columns=["cell", "time", "tas"],
        ).to_parquet(str(p / name), coerce_timestamps="us",
                     allow_truncated_timestamps=True)

    _write("a.parquet", c1, 0, [30.0, 31.0])      # open run for c1
    _time.sleep(1.1)
    _write("b.parquet", c2, 0, [10.0])            # other block only
    sdf = (spark.readStream
           .schema("cell LONG, time TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1).parquet(str(p)))
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=2,
                                 timeout_ms=1, num_blocks=2)
    _run_to_memory(out, "spells_idle")
    res = spark.sql("select * from spells_idle").collect()
    # c1's open (30, 31) run flushed by the idle timeout during batch 2
    assert len(res) == 1
    assert res[0]["cell"] == c1
    assert res[0]["event_length"] == 2
    assert res[0]["event_sum"] == pytest.approx(61.0)


def test_streaming_dedup_keys_evicts_after_watermark(spark, tmp_path):
    """Watermark-scoped dedup: duplicates inside the state window drop;
    a key recurring AFTER its state was evicted re-emits — the bounded-
    state trade-off, pinned."""
    import pandas as _pd

    from xclim_spark.streaming import streaming_dedup_keys

    base = dt.datetime(2000, 1, 1, 12)
    p = tmp_path / "in"
    p.mkdir()

    def _write(name, rows):
        _pd.DataFrame(rows, columns=["k", "ts"]).to_parquet(
            str(p / name), coerce_timestamps="us",
            allow_truncated_timestamps=True)
        _time.sleep(1.05)

    # batch 1: key A twice (in-window duplicate drops), key B once
    _write("a.parquet", [("A", base), ("A", base),
                         ("B", base + dt.timedelta(hours=1))])
    # batch 2: advance the watermark far past A's state (delay 1 day)
    _write("b.parquet", [("C", base + dt.timedelta(days=10))])
    # batch 3: advances the committed watermark to ~d9 (state cleanup
    # runs with the PREVIOUS batch's watermark, so one spacer batch is
    # needed before the eviction is visible)
    _write("c.parquet", [("D", base + dt.timedelta(days=10, hours=1))])
    # batch 4: A recurs after eviction -> re-emits
    _write("d.parquet", [("A", base + dt.timedelta(days=10, hours=2))])

    sdf = (spark.readStream.schema("k STRING, ts TIMESTAMP")
           .option("maxFilesPerTrigger", 1).parquet(str(p)))
    out = streaming_dedup_keys(sdf, ["k"], time="ts", delay="1 day")
    _run_to_memory(out, "dedup_wm")
    rows = spark.sql("select k, ts from dedup_wm order by ts").collect()
    ks = [r["k"] for r in rows]
    assert ks.count("A") == 2          # once per state lifetime
    assert ks.count("B") == 1 and ks.count("C") == 1
    assert ks.count("D") == 1


def test_streaming_spell_events_enforce_order_off(spark, tmp_path):
    """enforce_order=False restores the bounded-state behaviour: closed
    cells drop from state and out-of-order input no longer raises (the
    documented trade-off for churning key domains)."""
    import pandas as _pd

    from xclim_spark.streaming import streaming_spell_events

    base = dt.datetime(2000, 1, 1, 12)
    p = tmp_path / "in"
    p.mkdir()

    def _write(name, rows):
        _pd.DataFrame(rows, columns=["cell", "time", "tas"]).to_parquet(
            str(p / name), coerce_timestamps="us",
            allow_truncated_timestamps=True)
        _time.sleep(1.05)

    _write("a.parquet", [(1, base + dt.timedelta(days=i), v)
                         for i, v in enumerate([30.0, 31.0, 10.0])])
    # replayed old day: must NOT raise with the guard off
    _write("b.parquet", [(1, base + dt.timedelta(days=1), 10.0)])
    sdf = (spark.readStream
           .schema("cell LONG, time TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1).parquet(str(p)))
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=2,
                                 enforce_order=False)
    _run_to_memory(out, "spells_noguard")
    res = spark.sql("select * from spells_noguard").collect()
    # the (30, 31) run closed inside batch 1 and still emits
    assert len(res) == 1 and res[0]["event_length"] == 2


def _fold_near_dedup(rows):
    """Per-doc fold of streaming_near_dedup's (doc, band) rows:
    keep iff every band row has null dup_of; dup_of = min non-null."""
    by_doc = {}
    for r in rows:
        d = by_doc.setdefault(r["doc_id"], [])
        if r["dup_of"] is not None:
            d.append(r["dup_of"])
    return {k: (not v, min(v) if v else None) for k, v in by_doc.items()}


def test_streaming_near_dedup_matches_bruteforce(spark, tmp_path):
    """Single-batch parity: the streaming MinHash suppressor must agree
    with brute-force exact word-trigram Jaccard against every earlier
    (ts, id)-ordered document; short docs pass through as kept."""
    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank while birds sing in the morning light")
    texts = {
        0: base,
        1: base + " extra",                       # near-dup of 0
        2: "completely different words here entirely unrelated "
           "content about spark window functions and state stores",
        3: base.replace("quick", "slow"),          # near-dup of 0
        4: "tiny doc",                             # < 3 words: no shingles
    }
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(minutes=i), t) for i, t in texts.items()]
    path = _write_stream_input(
        spark, tmp_path, rows, "doc_id LONG, ts TIMESTAMP, text STRING")

    from xclim_spark.streaming import streaming_near_dedup

    sdf = spark.readStream.schema(
        "doc_id LONG, ts TIMESTAMP, text STRING").parquet(path)
    out = streaming_near_dedup(sdf, delay="30 days", threshold=0.6)
    _run_to_memory(out, "nd1")
    res = spark.sql("select * from nd1").collect()
    got = _fold_near_dedup(res)

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    expect = {}
    for i in sorted(texts):
        best = None
        for j in sorted(texts):
            if j >= i or len(texts[j].split()) < 3:
                continue
            a, b = sh(texts[i]), sh(texts[j])
            if a and len(a & b) / len(a | b) >= 0.6:
                best = j if best is None else min(best, j)
        expect[i] = (best is None, best)
    assert got == expect
    assert got[1] == (False, 0) and got[3] == (False, 0)
    assert got[4] == (True, None)  # shingle-less pass-through
    assert {r["band"] for r in res if r["doc_id"] == 4} == {-1}


def test_streaming_near_dedup_eviction_and_reemit(spark, tmp_path):
    """Bounded state: a clone inside the window is suppressed; after the
    watermark passes the exemplar's time + delay its state is evicted
    and a later clone is emitted as KEPT again."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    filler = ("totally unrelated filler document advancing the "
              "watermark with plenty of distinct words inside it")
    t0 = dt.datetime(2024, 3, 1)
    f1 = str(tmp_path / "in" / "b1.parquet")
    f2 = str(tmp_path / "in" / "b2.parquet")
    f3 = str(tmp_path / "in" / "b3.parquet")
    spark.createDataFrame(
        [(0, t0, base)],
        "doc_id LONG, ts TIMESTAMP, text STRING").coalesce(1) \
        .write.mode("overwrite").parquet(f1)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=30), base + " tail"),
         (2, t0 + dt.timedelta(days=10), filler)],
        "doc_id LONG, ts TIMESTAMP, text STRING").coalesce(1) \
        .write.mode("overwrite").parquet(f2)
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(days=10, minutes=1), base)],
        "doc_id LONG, ts TIMESTAMP, text STRING").coalesce(1) \
        .write.mode("overwrite").parquet(f3)

    from xclim_spark.streaming import streaming_near_dedup

    sdf = (spark.readStream
           .schema("doc_id LONG, ts TIMESTAMP, text STRING")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(tmp_path / "in" / "b*.parquet")))
    out = streaming_near_dedup(sdf, delay="1 day", threshold=0.6)
    _run_to_memory(out, "nd2")
    got = _fold_near_dedup(spark.sql("select * from nd2").collect())
    assert got[0] == (True, None)     # exemplar kept
    assert got[1] == (False, 0)       # in-window clone suppressed
    assert got[2] == (True, None)     # unrelated filler kept
    # doc 0's state evicted (watermark ~ t0+9d > t0 + 1d): re-emitted
    assert got[3] == (True, None)


def test_streaming_near_dedup_non_utc_session_tz(spark, tmp_path):
    """Watermark math must hold under a NON-UTC session timezone: Arrow
    hands the state function tz-naive session-local timestamps while
    getCurrentWatermarkMs() is true UTC epoch millis.  Before the fix a
    UTC-8 session evicted state 8 h early, re-emitting an in-window
    near-duplicate as kept.  Scenario: delay=1 day; filler advances the
    watermark to exemplar + 18 h (inside the window, but OUTSIDE it
    under an 8 h-early eviction)."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    filler = ("totally unrelated filler document advancing the "
              "watermark with plenty of distinct words inside it")
    t0 = dt.datetime(2024, 3, 1)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone",
                       "America/Los_Angeles")
        for name, rows in [
            ("b1", [(0, t0, base)]),
            ("b2", [(1, t0 + dt.timedelta(hours=42), filler)]),
            ("b3", [(2, t0 + dt.timedelta(hours=42, minutes=1),
                     base + " tail")]),
        ]:
            spark.createDataFrame(
                rows, "doc_id LONG, ts TIMESTAMP, text STRING") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(str(tmp_path / "in" / f"{name}.parquet"))

        from xclim_spark.streaming import streaming_near_dedup

        sdf = (spark.readStream
               .schema("doc_id LONG, ts TIMESTAMP, text STRING")
               .option("maxFilesPerTrigger", 1)
               .parquet(str(tmp_path / "in" / "b*.parquet")))
        out = streaming_near_dedup(sdf, delay="1 day", threshold=0.6)
        _run_to_memory(out, "nd_tz")
        res = spark.sql("select * from nd_tz").collect()
        got = _fold_near_dedup(res)
        assert got[0] == (True, None)
        assert got[1] == (True, None)
        # watermark = t0+42h-24h = t0+18h < t0+24h: doc 0's state must
        # still be live, so the clone is suppressed (the buggy naive
        # epoch made it t0+16h+8h-shifted and evicted doc 0)
        assert got[2] == (False, 0)
        # emitted timestamps round-trip exactly (session-local wall)
        ts2 = [r["ts"] for r in res if r["doc_id"] == 2]
        assert ts2 and all(
            t == t0 + dt.timedelta(hours=42, minutes=1) for t in ts2)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_streaming_near_dedup_bucket_guard(spark, tmp_path):
    """A degenerate band bucket must raise loudly, naming the bound."""
    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen")
    t0 = dt.datetime(2024, 5, 1)
    rows = [(i, t0 + dt.timedelta(minutes=i), base) for i in range(9)]
    path = _write_stream_input(
        spark, tmp_path, rows, "doc_id LONG, ts TIMESTAMP, text STRING")

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_near_dedup

    sdf = spark.readStream.schema(
        "doc_id LONG, ts TIMESTAMP, text STRING").parquet(path)
    out = streaming_near_dedup(sdf, delay="30 days",
                               max_bucket_size=4)
    with pytest.raises(StreamingQueryException,
                       match="max_bucket_size"):
        q = (out.writeStream.format("memory").queryName("nd3")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)


def test_streaming_near_dedup_num_blocks_checkpoint_guard(
        spark, tmp_path):
    """Band buckets map to state blocks by hash % num_blocks: resuming
    a checkpoint under a different block count must fail loudly (state
    records its writer's num_blocks) instead of silently re-admitting
    in-window duplicates; the same-count restart still works."""
    import pandas as _pd

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import streaming_near_dedup

    words = [f"tok{i}" for i in range(30)]
    t0 = dt.datetime(2024, 6, 1)
    p = tmp_path / "in"
    p.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "doc_id LONG, ts TIMESTAMP, text STRING"

    def _write(name, ids):
        _pd.DataFrame(
            [(i, t0 + dt.timedelta(minutes=i),
              " ".join(words[(i % 3):] + words[:(i % 3)]))
             for i in ids],
            columns=["doc_id", "ts", "text"],
        ).to_parquet(str(p / name), coerce_timestamps="us",
                     allow_truncated_timestamps=True)

    def _run(nb):
        sdf = spark.readStream.schema(schema).parquet(str(p))
        out = streaming_near_dedup(sdf, delay="30 days",
                                   num_blocks=nb)
        q = (out.writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    _write("a.parquet", range(4))
    _run(4)
    _write("b.parquet", range(10, 14))
    with pytest.raises(StreamingQueryException,
                       match="num_blocks changed"):
        _run(6)
    _write("c.parquet", range(20, 22))
    _run(4)  # documented-safe restart


def test_run_complete_returns_last_state(spark, tmp_path):
    """complete mode: every micro-batch re-emits the whole table, so
    streaming.run keeps the last one — the state, not a sum of states."""
    from xclim_spark.streaming import run

    base = dt.datetime(2000, 1, 1, 12)
    path = _two_ordered_files(
        tmp_path, [(1, base, 1.0), (2, base, 2.0)],
        [(1, base + dt.timedelta(days=1), 3.0)], ["cell", "time", "tas"])
    sdf = (spark.readStream.schema("cell LONG, time TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1).parquet(path))
    out = run(sdf.groupBy("cell").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("tas").alias("s")),
              mode="complete")
    assert sorted(map(tuple, out.collect())) == [(1, 2, 4.0), (2, 1, 2.0)]


def test_run_append_keeps_no_data_batch(spark, tmp_path, caplog):
    """append mode unions every micro-batch: the day-0 window closes only
    in the no-data batch that follows the watermark advance, and it must
    be in the result.  One log record per batch carries its progress."""
    import logging

    from xclim_spark.streaming import run

    caplog.set_level(logging.INFO, logger="xclim_spark.streaming")
    base = dt.datetime(2000, 1, 1, 12)
    path = _two_ordered_files(
        tmp_path, [(1, base, 1.0)],
        [(1, base + dt.timedelta(days=10), 2.0)], ["cell", "time", "tas"])
    sdf = (spark.readStream.schema("cell LONG, time TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1).parquet(path)
           .withWatermark("time", "1 hour"))
    agg = sdf.groupBy(F.window("time", "1 day")).agg(
        F.sum("tas").alias("s"))
    rows = run(agg).collect()
    assert [(r["window"]["start"].day, r["s"]) for r in rows] == [(1, 1.0)]
    recs = [r for r in caplog.records if r.name == "xclim_spark.streaming"]
    assert [r.input_rows for r in recs] == [1, 1, 0]
    assert [r.batch_id for r in recs] == [0, 1, 2]
    assert recs[-1].watermark is not None


def test_run_empty_source_returns_typed_empty_frame(spark, tmp_path):
    from xclim_spark.streaming import run

    p = tmp_path / "empty"
    p.mkdir()
    sdf = spark.readStream.schema("cell LONG, tas DOUBLE").parquet(str(p))
    out = run(sdf.select("cell", (F.col("tas") * 2).alias("t2")))
    assert out.count() == 0
    assert out.schema == sdf.select(
        "cell", (F.col("tas") * 2).alias("t2")).schema
    folded = run(sdf, fold=lambda b: b.groupBy("cell").count())
    assert folded.columns == ["cell", "count"] and folded.count() == 0


def test_run_failure_restores_conf_and_stops_query(spark, tmp_path):
    """A query that fails mid-replay (the out-of-order input of
    test_streaming_spell_events_rejects_out_of_order) re-raises from
    streaming.run, with the shuffle-partition conf restored and no query
    left running."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from xclim_spark.streaming import run, streaming_spell_events

    base = dt.datetime(2000, 1, 1, 12)
    rows1 = [(1, base + dt.timedelta(days=i), 30.0) for i in range(3)]
    rows2 = [(1, base + dt.timedelta(days=1), 30.0)]
    path = _two_ordered_files(tmp_path, rows1, rows2,
                              ["cell", "time", "tas"])
    sdf = (spark.readStream.schema("cell LONG, time TIMESTAMP, tas DOUBLE")
           .option("maxFilesPerTrigger", 1).parquet(path))
    out = streaming_spell_events(sdf, "tas", ">", 25.0, min_length=2)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(StreamingQueryException, match="out-of-order"):
        run(out, state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.streams.active == []


def test_stream_events_table_logs_every_batch(spark, caplog):
    """stream_events_table replays one staged file per micro-batch; the
    run logs one record per file, each with its state operator's rows."""
    import glob
    import logging
    from pathlib import Path

    from perfbench.inputs import scale_dir
    from xclim_spark.queries import _stage_stream_daily, stream_events_table

    sf = str(scale_dir(Path(__file__).parents[1] / "TESTDATA.md", "0.01"))
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    caplog.set_level(logging.INFO, logger="xclim_spark.streaming")
    stream_events_table(spark, sf)
    recs = [r for r in caplog.records if r.name == "xclim_spark.streaming"]
    files = glob.glob(f"{_stage_stream_daily(sf)}/part_*.parquet")
    assert len(recs) == len(files) == 5
    assert all(len(r.num_rows_total) == 1 for r in recs)
    assert recs[-1].num_rows_total[0] > 0
