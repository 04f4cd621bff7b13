"""Every registered ``stream_*`` gate against its DuckDB oracle, with the
row-set comparison of ``tools/check_correctness.py``.

The gates that aggregate to a small table run in the default profile;
the ones that fold, encode or score every document or day are marked
``slow``."""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import check_correctness as cc  # noqa: E402
from xclim_spark.queries import build_oracles, build_queries  # noqa: E402

FAST = {"stream_tx_days_above_30d", "stream_p90_days_over",
        "stream_user_sessions", "stream_dedup_watermark",
        "stream_dedup_exact", "stream_dedup_url", "stream_mixture_sample",
        "stream_text_quality"}
GATES = [pytest.param(n, marks=() if n in FAST else pytest.mark.slow)
         for n in build_queries() if n.startswith("stream_")]
assert FAST <= {p.values[0] for p in GATES}, "FAST names an unknown gate"

pytestmark = pytest.mark.skipif(not os.path.isdir(cc.SF_DIR),
                                reason="driver testdata not present")


@pytest.fixture(scope="module")
def oracle():
    con = cc.oracle_db()
    yield con
    con.close()


@pytest.mark.parametrize("name", GATES)
def test_stream_gate_matches_oracle(spark, oracle, name):
    sdf = build_queries()[name](spark, cc.SF_DIR)
    rows = sdf.collect()
    res = oracle.execute(build_oracles()[name])
    duck_cols = [d[0] for d in res.description]
    assert cc.mismatches(rows, sdf.columns, res.fetchall(), duck_cols) == []
    assert not spark.streams.active
