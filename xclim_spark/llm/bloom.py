"""Bloom-filter approximate-membership dedup — the bounded-memory
alternative to exact canonical-key state for cross-snapshot dedup at
ingest (RefinedWeb, Penedo et al. 2023 §3.2, dedups new crawls against
a Bloom filter of everything already kept; Bloom 1970 for the closed
forms).

Scale design: the filter itself is the ONLY state and it is
``num_bits/63`` longs regardless of corpus size — 128 MiB covers
10¹⁰ keys at 1% FP.  Build is one map-side pass over the seen keys
(each key emits its k ``(chunk, mask)`` bit coordinates inside the
projection) plus one ``groupBy(chunk)`` whose shuffle carries at most
``num_bits/63`` rows per partition after map-side ``bit_or`` partials.
The probe never shuffles the corpus at all: the dense chunk array is a
one-row DataFrame attached by a broadcast join (the same scalar-attach
shape as BM25's corpus aggregate, llm/search.py), and the k bit tests
fold into a single Column expression evaluated inside the scan.

Engine-neutral determinism: bit positions derive from
``md5(key | '|' | i)`` parsed as a 60-bit integer (md5_hash60,
llm/dedup.py — recomputable in DuckDB/Trino/Postgres), so an external
SQL auditor can rebuild the exact same filter and verdicts bit-for-bit.
Words hold :data:`WORD_BITS` = 63 bits, not 64: bit 63 of a signed
64-bit integer is unreachable without overflow in several SQL dialects
(DuckDB raises on ``1 << 63``), so the portable word is the positive
range.  The 1.6% capacity tax is priced into :func:`bloom_parameters`.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

WORD_BITS = 63

__all__ = [
    "WORD_BITS",
    "bloom_parameters",
    "bloom_build",
    "bloom_dense",
    "bloom_probe",
    "bloom_verdict",
    "bloom_fp_rate",
]


def bloom_parameters(n_keys: int, fp_rate: float) -> tuple[int, int]:
    """Closed-form sizing (Bloom 1970): bits ``m = -n ln p / (ln 2)^2``
    rounded up to a multiple of WORD_BITS, hashes ``k = (m/n) ln 2``."""
    if not (0 < fp_rate < 1) or n_keys <= 0:
        raise ValueError("need n_keys > 0 and 0 < fp_rate < 1")
    m = math.ceil(-n_keys * math.log(fp_rate) / math.log(2) ** 2)
    m = ((m + WORD_BITS - 1) // WORD_BITS) * WORD_BITS
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def bloom_fp_rate(n_keys: int, num_bits: int, num_hashes: int) -> float:
    """Expected false-positive rate ``(1 - e^(-kn/m))^k``."""
    return (1.0 - math.exp(-num_hashes * n_keys / num_bits)) ** num_hashes


def _bit_coords(key, i: int, num_bits: int) -> tuple[Column, Column]:
    """(chunk, mask) of hash ``i`` for a key: position is the 60-bit
    md5 integer of ``key|i`` mod num_bits (non-negative by construction),
    chunk its word index, mask the single set bit (63-bit words)."""
    pos = md5_hash60(F.concat(key, F.lit(f"|{i}"))) % num_bits
    # F.shiftleft only takes a literal shift; the SQL function accepts
    # a column one
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("long"),
        (pos % WORD_BITS).cast("int"))
    return ((pos / WORD_BITS).cast("long").alias("chunk"),
            mask.alias("mask"))


def bloom_build(
    keys: DataFrame,
    *,
    key_col: str = "key",
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Sparse filter table ``(chunk, bits)`` — at most ``num_bits/63``
    rows (63-bit words).  Each key's k coordinates are generated inside the projection;
    the single groupBy bit_or-combines map-side."""
    kc = F.col(key_col)
    coords = F.explode(F.array(*[
        F.struct(*_bit_coords(kc, i, num_bits))
        for i in range(num_hashes)])).alias("c")
    return (
        keys.where(kc.isNotNull()).select(coords)
        .groupBy(F.col("c.chunk").alias("chunk"))
        .agg(F.bit_or("c.mask").alias("bits"))
    )


def bloom_dense(
    sparse: DataFrame,
    *,
    num_bits: int,
) -> DataFrame:
    """One row holding the dense ``array<long>`` of all chunks (absent
    chunks zero-filled), built distributed: a range outer-join then an
    ordered collect into the array.  This is the broadcastable probe
    artifact — ``num_bits/63`` longs."""
    spark = sparse.sparkSession
    if num_bits % WORD_BITS:
        raise ValueError(f"num_bits must be a multiple of {WORD_BITS}")
    nchunks = num_bits // WORD_BITS
    return (
        spark.range(nchunks).withColumnRenamed("id", "chunk")
        .join(sparse, "chunk", "left")
        .select("chunk", F.coalesce("bits", F.lit(0)).alias("bits"))
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("chunk", "bits"))),
            lambda s: s["bits"]).alias("bloom"))
    )


def bloom_probe(
    docs: DataFrame,
    dense: DataFrame,
    *,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Adds ``out_col``: true iff every one of the key's k bits is set
    — no false negatives, FP rate per :func:`bloom_fp_rate`.  The dense
    array is broadcast-attached and the k tests are ONE expression in
    the scan projection: the corpus never shuffles."""
    kc = F.col(key_col)
    tests = []
    for i in range(num_hashes):
        chunk, mask = _bit_coords(kc, i, num_bits)
        tests.append(
            F.element_at(F.col("bloom"), (chunk + 1).cast("int"))
            .bitwiseAND(mask) != 0)
    verdict = tests[0]
    for t in tests[1:]:
        verdict = verdict & t
    return (
        docs.join(F.broadcast(dense))
        .withColumn(out_col, F.when(kc.isNotNull(), verdict))
        .drop("bloom")
    )


def bloom_verdict(
    key,
    bloom: list[int],
    *,
    num_bits: int,
    num_hashes: int,
) -> Column:
    """Membership verdict as ONE Column over a DRIVER-HELD dense filter
    (``num_bits/63`` longs) — the streaming-ingest form: the filter is
    a broadcast artifact baked into the plan as one bigint array
    literal (an ndarray literal, not a Column per word), so arriving
    rows are probed map-side inside the micro-batch scan with no join
    and ZERO streaming state.  NULL keys keep a NULL verdict,
    matching :func:`bloom_probe`."""
    if len(bloom) != num_bits // WORD_BITS:
        raise ValueError(
            f"dense filter has {len(bloom)} words, expected "
            f"{num_bits // WORD_BITS}")
    kc = key if isinstance(key, Column) else F.col(key)
    arr = F.lit(np.asarray(bloom, dtype=np.int64))
    verdict = None
    for i in range(num_hashes):
        chunk, mask = _bit_coords(kc, i, num_bits)
        t = F.element_at(arr, (chunk + 1).cast("int"))             .bitwiseAND(mask) != 0
        verdict = t if verdict is None else (verdict & t)
    return F.when(kc.isNotNull(), verdict)
