"""Standing rules for the query registry / correctness-ledger rotation.

The driver samples the HEAD of ``build_queries()``'s ordering each round
(~50 queries), so any query without a driver-green row in the committed
``CORRECTNESS_r*.json`` ledgers must sort inside the sampled window —
otherwise new code ships without ever being driver-checked (the round-6
process wound)."""

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _driver_checked() -> set[str]:
    names: set[str] = set()
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(p) as f:
            d = json.load(f)
        names.update(d.keys() if isinstance(d, dict)
                     else (r.get("name") for r in d))
    return names


def _latest_rounds() -> tuple[dict[str, int], int]:
    """Newest ledger round carrying each query, and the newest round
    overall."""
    latest: dict[str, int] = {}
    max_round = 0
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        base = os.path.basename(p)
        rnd = int(base[len("CORRECTNESS_r"):-len(".json")])
        max_round = max(max_round, rnd)
        with open(p) as f:
            d = json.load(f)
        names = d.keys() if isinstance(d, dict) \
            else (r.get("name") for r in d)
        for n in names:
            latest[n] = max(latest.get(n, 0), rnd)
    return latest, max_round


STALE_AGE = 4  # rounds since last driver row before a query must rotate


def test_stale_queries_rotate_into_driver_window():
    """Age-out rule (round-8, made feasible round-9 per ADVICE): queries
    whose NEWEST driver-green row is >= STALE_AGE rounds old must rotate
    back into the sampled head so they periodically re-earn a recent green
    row — 'has a row' is not enough (the r7 `user_sessions` wound: last
    green r03, never resampled because the no-row rule didn't fire).

    Feasibility: the head has only DRIVER_WINDOW slots and never-checked
    queries claim theirs first, so when the stale set outnumbers the
    remaining capacity we require (a) the head's leftover capacity is
    FILLED with stale queries and (b) no stale query left outside is
    strictly OLDER than one rotated in — i.e. the oldest rotate first and
    the tie-broken remainder waits for the next round."""
    from xclim_spark.queries import build_queries

    latest, max_round = _latest_rounds()
    order = list(build_queries())
    head = set(order[:DRIVER_WINDOW])
    stale = [n for n in order
             if 0 < latest.get(n, 0) <= max_round - STALE_AGE]
    # capacity from the ACTUAL head composition (round-9 ADVICE): count
    # the never-checked queries that really occupy head slots, so this
    # test stays independent of the placement test below
    capacity = DRIVER_WINDOW - len(
        [n for n in order[:DRIVER_WINDOW] if latest.get(n, 0) == 0])
    in_head = [n for n in stale if n in head]
    out = [n for n in stale if n not in head]
    assert len(in_head) >= min(capacity, len(stale)), (
        f"head has {capacity} slots free after never-checked queries but "
        f"only {len(in_head)} of {len(stale)} stale queries rotated in; "
        f"waiting: {out}")
    if in_head and out:
        newest_in = max(latest[n] for n in in_head)
        oldest_out = min(latest[n] for n in out)
        assert oldest_out >= newest_in, (
            f"stale rotation must take the OLDEST first: a round-"
            f"{oldest_out} query waits outside while a round-{newest_in} "
            f"query holds a head slot")


def test_unchecked_queries_sort_inside_driver_window():
    from xclim_spark.queries import build_queries

    checked = _driver_checked()
    order = list(build_queries())
    head = set(order[:DRIVER_WINDOW])
    unchecked = [n for n in order if n not in checked]
    stragglers = [n for n in unchecked if n not in head]
    assert not stragglers, (
        f"queries with no driver row must sort in the first "
        f"{DRIVER_WINDOW}: rotate _PRIORITY in queries.py — {stragglers}")


def test_every_query_has_matching_oracle_or_is_rows_only():
    from xclim_spark.queries import build_oracles, build_queries

    q = set(build_queries())
    o = set(build_oracles())
    # oracles must not name queries that don't exist
    assert o <= q, f"oracles without queries: {sorted(o - q)}"


def test_every_priority_name_resolves():
    """Every _PRIORITY entry must name a registered query — build_queries
    silently drops unknown names, so a dead entry would misrepresent the
    round's content without failing anything (the round-9 phantom-entry
    wound).  The reverse also holds: a registered query missing from
    _PRIORITY has no deliberate rotation position."""
    from xclim_spark.queries import QUERIES, _PRIORITY

    phantoms = [n for n in _PRIORITY if n not in QUERIES]
    assert not phantoms, f"_PRIORITY names without queries: {phantoms}"
    dupes = [n for n in set(_PRIORITY) if _PRIORITY.count(n) > 1]
    assert not dupes, f"duplicate _PRIORITY entries: {dupes}"
    missing = [n for n in QUERIES if n not in set(_PRIORITY)]
    assert not missing, f"queries missing from _PRIORITY: {missing}"


def test_every_bench_headline_name_resolves():
    """bench.py's HEADLINE list drives the cross-round stdout trend; a
    renamed or removed gate would silently drop from it."""
    import bench

    from xclim_spark.queries import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"HEADLINE names without a query: {missing}"


def test_no_memory_sink_in_package():
    """Streaming results run through ``streaming.run``'s executor-side
    checkpoints; a ``memory`` sink would collect every micro-batch to the
    driver."""
    import re

    pat = re.compile(r"""\.format\(\s*["']memory["']\s*\)""")
    hits = [p for p in glob.glob(os.path.join(REPO, "xclim_spark", "**",
                                              "*.py"), recursive=True)
            if pat.search(open(p).read())]
    assert not hits, f"memory sinks in: {hits}"
