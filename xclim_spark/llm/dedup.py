"""Deduplication operators: exact, MinHash+LSH near-dup, SimHash.

Scale design (the part that matters at 100 TB):

* everything heavy is computed **map-side per document** (shingles,
  hashes, signatures) as pure Column expressions;
* the only shuffles carry **fixed-size keys** — a 16-byte digest (exact),
  a (band, bucket-hash, doc_id) triple (MinHash LSH), a 64-bit sketch
  (SimHash).  Document text never crosses the network;
* candidate verification joins the candidate-pair ids back to the
  (doc_id, shingle-hash array) projection — the array is bounded by
  document length and only flows for candidates, never all pairs.

No all-pairs cross join exists anywhere in this module.
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..util import local_frame
from .similarity import Codebook

__all__ = [
    "exact_duplicates",
    "word_shingles",
    "char_ngrams",
    "shingle_hashes",
    "minhash_signature",
    "lsh_band_buckets",
    "near_duplicates",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "md5_hash60",
    "embedding_near_duplicates",
    "semantic_dedup",
    "duplicate_spans",
    "near_dup_components",
    "remove_duplicate_spans",
    "c4_span_dedup",
    "dedup_paragraphs",
    "jaccard",
    "connected_components",
    "connected_components_star",
]

_MERSENNE31 = 2147483647  # 2^31 - 1, prime modulus for universal hashing

_ASCII_WS = _re.compile(r"[ \t\n\r\f\x0b]+")


def _ws_tokens(t: str) -> list[str]:
    """ASCII-whitespace tokenization matching Java ``\\s+`` (the engine
    behind ``F.split``) exactly.  RE2 (DuckDB ``string_split_regex``)
    differs on one code point: Java's ``\\s`` includes U+000B (vertical
    tab), RE2's does not — texts containing ``\\x0b`` tokenize
    differently in the SQL oracles.  Python ``str.split()`` also breaks
    on Unicode whitespace (U+00A0, U+2028, ...), which would shift
    token indices and shingle sets against the SQL oracles on
    non-ASCII-whitespace corpora."""
    return [w for w in _ASCII_WS.split(t) if w]


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: md5 computed map-side, shuffle carries only the
    digest + id."""
    return docs.groupBy(F.md5(text_col).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    )


def word_shingles(text, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text Column (pure expressions:
    split -> transform over a sequence -> array_distinct).

    The split result is bound as a lambda variable (via a single-element
    transform) — referencing an outer expression inside a higher-order
    lambda re-evaluates it per element, turning shingling O(words^2);
    binding keeps it one split per row (15x at sf0.1)."""
    words = F.split(F.trim(text), r"\s+")

    def shingle(w: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j + 1).cast("int"))
                       for j in range(n)]
            ),
        )
        return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(words), shingle), 1)


def shingle_hashes(shingles) -> Column:
    """Map each shingle into the 31-bit universal-hash domain."""
    return F.transform(
        shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31))
    )


def _perm_coeffs(k: int, seed: int) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=k, dtype=np.int64)
    b = rng.randint(0, _MERSENNE31, size=k, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def minhash_signature(hashes, k: int = 128, seed: int = 7) -> Column:
    """k-permutation MinHash signature (array<long> of length k).

    Permutation j is the universal hash ``(a_j h + b_j) mod p`` with
    driver-seeded coefficients; products stay under 2^62 so 64-bit
    arithmetic never overflows.  Entirely Column expressions — the
    signature is computed map-side next to the scan.
    """
    coeffs = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in _perm_coeffs(k, seed)
    ])
    return F.transform(
        coeffs,
        lambda c: F.array_min(
            F.transform(
                hashes,
                lambda h: F.pmod(c["a"] * h + c["b"], F.lit(_MERSENNE31)),
            )
        ),
    )


def lsh_band_buckets(sig, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` bands of ``rows`` and hash each:
    array of (band, bucket) structs.  Two docs are candidates iff any band
    bucket matches — P(candidate) = 1-(1-J^rows)^bands."""
    return F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.hash(F.slice(sig, i * rows + 1, rows)).alias("bucket"),
        )
        for i in range(bands)
    ])


def jaccard(a, b) -> Column:
    """Exact Jaccard of two distinct-element arrays (integer ratio — the
    same bits in any engine)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union


def rolling_gram_hashes(
    docs: DataFrame, *, n: int = 5, text_col: str = "text",
    id_col: str = "_id",
) -> DataFrame:
    """Distinct byte-level n-gram hashes per document, computed by a
    vectorized polynomial rolling hash over the UTF-8 bytes in one
    numpy pass per Arrow batch (``sliding_window_view`` + dot with the
    base powers mod 2^31-1, then ``np.unique``).

    This is the throughput shingler for the MinHash family: the
    expression shingler pays ~2.4 us per gram (per-gram substring +
    xxhash + array_distinct in the JVM); the byte-rolling form measures
    ~0.2 us per gram single-core — grams never materialize as strings.
    Same 31-bit hash domain as :func:`shingle_hashes`, so the collision
    profile (and therefore the Jaccard-over-hashes ~= Jaccard-over-grams
    argument) is unchanged; n-grams are over BYTES, identical to
    character grams on ASCII corpora.  Returns ``id_col, _sh``
    (sorted distinct hash array), dropping docs shorter than ``n``."""
    import numpy as np
    import pandas as pd

    # NOT base 256: 256^4 = 2^32 = 2 (mod 2^31-1), which gives the
    # leading byte weight 2 and makes e.g. "aXYZc" collide with "bXYZa"
    # — a measurable within-doc collision rate on real text.  A large
    # prime base makes the power weights effectively random in the
    # 31-bit domain; per-term products stay under 255*(2^31)*5 < 2^63.
    base = 1_000_003
    pows = np.array([pow(base, n - 1 - i, _MERSENNE31) for i in range(n)],
                    dtype=np.int64)

    def _batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids, out = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                b = np.frombuffer(
                    t.encode("utf-8", "surrogatepass"), dtype=np.uint8
                ).astype(np.int64)
                if len(b) < n:
                    continue
                w = np.lib.stride_tricks.sliding_window_view(b, n)
                h = (w * pows[None, :]).sum(axis=1) % _MERSENNE31
                ids.append(i)
                out.append(np.unique(h))
            yield pd.DataFrame({id_col: ids, "_sh": out})

    return docs.mapInPandas(
        _batches, schema=f"{id_col} long, _sh array<long>")


def near_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    num_perm: int = 128,
    bands: int = 64,
    seed: int = 7,
    parallelism: int | None = None,
    tokenizer=None,
    shingler: str = "expr",
    char_n: int = 5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    ``tokenizer``: Column -> array<string> Column of distinct shingles;
    defaults to word ``n``-grams (:func:`word_shingles`).  Pass e.g.
    ``lambda t: char_ngrams(t, 5)`` for a character-gram Jaccard join —
    the LSH prefilter + exact verify then computes the same output as
    :func:`ngram_jaccard_pairs` with near-1 recall, and stays efficient
    even on small-vocabulary corpora where prefix filtering cannot prune
    (every document shares its rarest grams with thousands of others).
    ``shingler="bytes"`` replaces the tokenizer with the vectorized
    byte ``char_n``-gram hashes of :func:`rolling_gram_hashes`.

    Pipeline (each stage one narrow projection or one keyed shuffle):

    1. shingle + hash + signature map-side;
    2. explode band buckets -> shuffle on (band, bucket) -> self-join
       within buckets only (``id_a < id_b``), distinct candidate pairs;
    3. join candidates back to shingle arrays, verify exact word-shingle
       Jaccard, keep pairs ``>= threshold``.

    With bands=64 x rows=2 the candidate-recall at J=0.6 is
    1-(1-0.36)^64 ~= 1-4e-13, so verified output matches the exact
    all-pairs answer (the DuckDB oracle) while never materializing all
    pairs.  Returns ``id_a, id_b, jaccard``, ``localCheckpoint``-ed,
    with the digest cache already released.

    ``parallelism``: shingling is compute-dense, so stage parallelism is
    whatever the *scan* provides.  On a real corpus (many files / row
    groups) that is already the cluster width — leave ``None``.  On a
    single-file local input the scan is one task; passing the core count
    redistributes ``(id, text)`` on ``id`` first (one bounded pass of
    the corpus) and, because explode/groupBy(id) reuse that hash
    partitioning, the signature aggregation then needs no further
    shuffle.
    """
    rows = num_perm // bands
    if tokenizer is None:
        def tokenizer(t):
            return word_shingles(t, n)
    src = docs.select(F.col(id_col).alias("_id"), F.col(text_col))
    if parallelism:
        src = src.repartition(parallelism, "_id")
    # persist the digest table: it feeds the signature path AND both
    # sides of the verification join — without it the corpus text is
    # re-scanned and re-shingled three times (the digests are ~10x
    # smaller than the text they replace, so this is the cheap side of
    # the trade at any scale)
    if shingler == "bytes":
        base = rolling_gram_hashes(src, n=char_n, text_col=text_col,
                                   id_col="_id").persist()
    else:
        base = src.select(
            "_id",
            shingle_hashes(tokenizer(F.col(text_col))).alias("_sh"),
        ).filter(F.size("_sh") > 0).persist()
    # Signature via explode + k min-aggregates: nested higher-order
    # lambdas are interpreted row-at-a-time in Spark, but plain aggregates
    # are whole-stage-codegen'd with map-side partial min — the shuffle
    # carries one k-long partial signature per (map task, doc).
    coeffs = _perm_coeffs(num_perm, seed)
    exploded = base.select("_id", F.explode("_sh").alias("_h"))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("_h") + F.lit(b),
                     F.lit(_MERSENNE31))).alias(f"_s{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    sigs = exploded.groupBy("_id").agg(*aggs).select(
        "_id", F.array(*[f"_s{j}" for j in range(num_perm)]).alias("_sig")
    )
    bucketed = sigs.select(
        "_id", F.explode(lsh_band_buckets(F.col("_sig"), bands, rows))
        .alias("_bb")
    ).select("_id", "_bb.band", "_bb.bucket")
    left = bucketed.select(F.col("_id").alias("id_a"), "band", "bucket")
    right = bucketed.select(F.col("_id").alias("id_b"), "band", "bucket")
    cand = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    verified = (
        cand.join(sh_a, "id_a").join(sh_b, "id_b")
        .withColumn("jaccard", jaccard("_sh_a", "_sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # Materialize the (dup-sized, corpus-bounded) pair table and release
    # the corpus-sized digest cache before returning, so repeated library
    # calls don't accumulate cached blocks (the pairs output is orders of
    # magnitude smaller than the digests that produced it).
    out = verified.localCheckpoint(eager=True)
    base.unpersist()
    return out


def simhash(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 64,
    parallelism: int | None = None,
    hasher=None,
) -> DataFrame:
    """SimHash sketch per document: per-bit majority vote over word
    n-gram shingle hashes.  Near-dups differ in few bits (Hamming
    distance); candidate generation then groups on sketch prefixes.

    Same scale shape as the MinHash path: shingle hashes explode map-side,
    the per-bit counts are plain codegen'd sum-aggregates with map-side
    combine, and the shuffle carries one 64-counter partial per (task,
    doc).  Returns ``id_col, simhash`` (long).  ``parallelism``: same
    single-file-input escape hatch as :func:`near_duplicates`.

    ``hasher``: Column -> long Column mapping a shingle string into the
    hash domain; defaults to ``xxhash64``.  :func:`md5_hash60` is the
    engine-neutral alternative (recomputable in any SQL engine that has
    md5, which is how the correctness oracle re-derives the sketch)."""
    if hasher is None:
        def hasher(s):  # noqa: E731 - transform needs a 1-positional fn
            return F.xxhash64(s)
    src = docs.select(F.col(id_col), F.col(text_col))
    if parallelism:
        src = src.repartition(parallelism, id_col)
    exploded = src.select(
        F.col(id_col),
        F.explode(
            F.transform(word_shingles(F.col(text_col), n), hasher)
        ).alias("_h"),
    )
    # one compact SQL string per aggregate / one for the sketch: plan
    # BUILD time is py4j round-trips, and nested Column-API construction
    # of 60+ expressions costs seconds of driver chatter at session start
    aggs = [F.expr("count(1)").alias("_m")] + [
        F.expr(f"sum(shiftrightunsigned(_h, {i}) & 1L)").alias(f"_b{i}")
        for i in range(bits)
    ]
    g = exploded.groupBy(id_col).agg(*aggs)
    terms = " | ".join(
        f"(CASE WHEN 2 * _b{i} >= _m THEN "
        + (f"{1 << i}L" if i < 63 else f"{-(1 << 63)}L")
        + " ELSE 0L END)"
        for i in range(bits)
    )
    return g.select(F.col(id_col), F.expr(terms).alias("simhash"))



# ASCII-whitespace trim set shared by the corpus-level text-dedup
# operators and their SQL oracles (Java \s set): F.trim strips ONLY
# spaces, so a duplicated sentence/paragraph sitting at a "\n\n"
# boundary would hash differently from its space-prefixed twin and
# silently survive dedup — caught by the composition fuzz
# (tests/test_property_fuzz.py).
_WS = " \t\n\r\x0b\x0c"


def _ws_trim(col):
    return F.btrim(col, F.lit(_WS))


def md5_hash60(s) -> Column:
    """Engine-neutral 60-bit shingle hash: the first 15 hex chars of
    md5, parsed as an integer.  Unlike xxhash64 this is recomputable in
    DuckDB/Trino/Postgres (md5 is universal), which lets an external SQL
    oracle re-derive SimHash sketches bit-for-bit."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def simhash_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 60,
    max_hamming: int = 3,
    bands: int = 4,
    parallelism: int | None = None,
    hasher=None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance (the classic
    web-dedup design: Manku et al., WWW 2007).

    The ``bits``-wide sketch is cut into ``bands`` contiguous bit-bands;
    by pigeonhole, any pair within ``max_hamming <= bands - 1`` bit flips
    shares at least one identical band, so the band-value self-join has
    PERFECT recall while only ever comparing sketches that collide on a
    band — no all-pairs join.  Shuffle carries (band, band_value, id,
    sketch): fixed-width keys, text never moves.  Candidates are verified
    with an exact popcount on the XOR.

    Returns ``id_a, id_b, hamming``.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"bands={bands} guarantees recall only up to hamming "
            f"{bands - 1}; got max_hamming={max_hamming}")
    sk = simhash(docs, text_col=text_col, id_col=id_col, n=n, bits=bits,
                 parallelism=parallelism, hasher=hasher)
    # the sketch table is (id, long) — corpus-cardinality but 16 bytes
    # wide; materialize it so the band self-join below doesn't run the
    # shingle explode + 60-aggregate reduction once per side
    sk = sk.localCheckpoint(eager=True)
    width = bits // bands
    mask = (1 << width) - 1
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned("simhash", b * width)
            .bitwiseAND(F.lit(mask)).alias("val"),
        )
        for b in range(bands)
    ])
    bb = sk.select(id_col, "simhash",
                   F.explode(band_arr).alias("_bb")) \
        .select(id_col, "simhash", "_bb.band", "_bb.val")
    left = bb.select(F.col(id_col).alias("id_a"),
                     F.col("simhash").alias("_ha"), "band", "val")
    right = bb.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("_hb"), "band", "val")
    return (
        left.join(right, on=["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def char_ngrams(text, n: int = 5) -> Column:
    """Distinct character n-gram shingles of a text Column (pure
    expressions; empty array below n chars)."""
    t = F.col(text) if isinstance(text, str) else text
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(0))),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.when(F.length(t) >= n, F.array_distinct(grams)) \
        .otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.7,
    parallelism: int | None = None,
) -> DataFrame:
    """Exact character-n-gram Jaccard similarity join via PREFIX
    FILTERING (Chaudhuri et al. SSJoin 2006 / Bayardo AllPairs WWW 2007).

    Every document keeps only its first ``|d| - ceil(t*|d|) + 1`` tokens
    under a global token order as index keys: any pair with J >= t
    provably shares an indexed token in BOTH prefixes, so joining the
    prefixes has perfect recall while indexing only a (1-t) fraction of
    each document.  Candidates are verified with the exact integer-ratio
    Jaccard on the full token sets.

    Scale shape: token sets + prefixes computed map-side; the index
    shuffle carries (token_hash, id); verification joins candidate ids
    back to the bounded token arrays.  No all-pairs join.  The global
    token order is ASCENDING DOCUMENT FREQUENCY (ties by hash) — the
    classic AllPairs refinement: prefixes then hold each document's
    rarest n-grams, so corpus-hot tokens (' the ' is in every English
    document) never enter the index and the candidate set stays near the
    true-pair set.  Hash-ordered prefixes measured 26.8 s at sf0.1 from
    exactly that hot-bucket blowup; df-ordering is three extra
    token-keyed shuffles of (hash, id) pairs and pays for itself
    immediately.

    Returns ``id_a, id_b, jaccard``.
    """
    src = docs.select(F.col(id_col).alias("_id"), F.col(text_col))
    if parallelism:
        src = src.repartition(parallelism, "_id")
    base = src.select(
        "_id",
        F.array_sort(
            F.transform(char_ngrams(F.col(text_col), n),
                        lambda s: F.xxhash64(s))
        ).alias("_tok"),
    ).filter(F.size("_tok") > 0).persist()
    sz = F.size("_tok")
    pref_len = sz - F.ceil(sz * F.lit(float(threshold))).cast("int") + 1
    tok = base.select("_id", pref_len.alias("_pl"),
                      F.explode("_tok").alias("_t"))
    dfreq = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    ranked = tok.join(dfreq, on="_t").withColumn(
        "_rank", F.row_number().over(
            Window.partitionBy("_id").orderBy("_df", "_t")))
    pref = ranked.filter(F.col("_rank") <= F.col("_pl")) \
        .select("_id", "_t")
    cand = (
        pref.alias("a").join(pref.alias("b"), on="_t")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    ta = base.select(F.col("_id").alias("id_a"), F.col("_tok").alias("_ta"))
    tb = base.select(F.col("_id").alias("id_b"), F.col("_tok").alias("_tb"))
    verified = (
        cand.join(ta, "id_a").join(tb, "id_b")
        .withColumn("jaccard", jaccard("_ta", "_tb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out = verified.localCheckpoint(eager=True)
    base.unpersist()
    return out


def embedding_near_duplicates(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 16,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    candidates, exact-cosine verified.

    Candidates are pairs colliding in at least one of ``n_tables``
    sign-bucket tables (reusing :mod:`..llm.similarity`'s plane
    machinery); near-identical vectors (theta ~ a few degrees at
    threshold 0.99) miss all tables with probability
    ``(1-(1-theta/pi)^n_planes)^n_tables`` — ~1e-6 at the defaults.  The
    shuffle carries (table, bucket, id, vec); no all-pairs join.

    Returns ``id_a, id_b, cos_sim``.  ``dim`` defaults to the length
    of the first non-NULL vector; with none (an empty or all-NULL
    frame) the result is empty.

    Buckets come from one Arrow-batched pandas UDF (a single numpy
    tensordot against the (tables x planes x dim) tensor).  Unlike
    :func:`..similarity.knn_lsh`, whose bucket ids the correctness
    oracle re-derives (so its signature dots use the order-preserving
    fold), only RECALL depends on bucketing here — every pair is
    verified by exact cosine — so summation order is free.  The verify
    cosine is :func:`..similarity.pair_cosine_arrow`, so the
    ``>= threshold`` decision and the rounded output are reproducible.
    A NULL vector falls in bucket 0 of every table and scores NULL, so
    it never forms a verified pair.
    """
    from pyspark.sql.functions import pandas_udf

    from .similarity import _f64_rows, _planes, pair_cosine_arrow

    if dim is None:
        first = emb.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if first is None:
            return emb.select(
                F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
                F.lit(None).cast("double").alias("cos_sim")).limit(0)
        dim = len(first[0])
    planes_np = np.stack([
        np.asarray(_planes(dim, n_planes, seed + t))
        for t in range(n_tables)
    ])  # (tables, planes, dim)

    @pandas_udf("array<int>")
    def _buckets(vs: pd.Series) -> pd.Series:
        X = _f64_rows(vs, dim)  # (n, dim); a NULL vector is a NaN row
        dots = np.tensordot(X, planes_np, axes=([1], [2]))  # (n, T, P)
        vals = ((dots >= 0).astype(np.int64)
                << np.arange(n_planes)).sum(axis=2)  # (n, T)
        return pd.Series(list(vals))

    bb = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
        F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    left = bb.select(F.col("_id").alias("id_a"),
                     F.col("_vec").alias("_va"), "table", "bucket")
    right = bb.select(F.col("_id").alias("id_b"),
                      F.col("_vec").alias("_vb"), "table", "bucket")
    cand = (
        left.join(right, on=["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_va", "_vb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos_sim", pair_cosine_arrow("_va", "_vb"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-substring spans across documents — the
    token-level exact-substring deduplication of Lee et al. 2022
    (*Deduplicating Training Data Makes Language Models Better*, ACL;
    their ExactSubstr uses a suffix array; at Spark scale the
    equivalent join-friendly form is token n-gram fingerprints):

    1. every token ``n``-gram is keyed by ``md5(gram text)``, computed
       in an Arrow-batched ``mapInPandas`` stage — the expression form
       (``transform`` + ``slice`` + ``concat_ws`` per gram) is
       interpreted per element and measured 8x slower at the sf1
       rehearsal (27 s vs 3.3 s for 2.4M grams); tokenization is
       ``_ws_tokens`` (ASCII ``\\s+``, matching ``F.split``);
    2. grams appearing in ``>= min_docs`` DISTINCT documents survive —
       one shuffle on the gram key, with the distinct-doc count
       computed by two stacked windows on that single sort (a
       doc-boundary marker flags one row per (gram, doc), all NULL ids
       forming one doc; its per-gram sum is the distinct count), so
       the gram stage has exactly ONE
       consumer and the tokenize+md5 pass runs once;
    3. per document, consecutive duplicated gram positions merge into
       MAXIMAL spans with one window sessionization (the same
       lag/cumsum primitive as the run-length family).

    Returns ``doc_id, span_start, span_end, n_grams`` (token indices,
    span covers ``span_end - span_start + 1`` tokens).  Scale: the
    gram table is corpus-sized but narrow (id, pos, 32-byte key);
    the groupBy partial-aggregates map-side; no all-pairs or
    suffix-array construction ever materializes.
    """
    import hashlib

    id_type = dict(docs.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"duplicate_spans: {id_col!r} must be an integral column "
            f"(got {id_type}); hash string ids to int64 first (e.g. "
            "xxhash64)")

    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        # a small/compacted source (one parquet file at gate scale)
        # would otherwise run the gram stage single-task; a 100 TB
        # corpus already has many input splits and skips this
        docs = docs.repartition(sc.defaultParallelism)

    def _grams(it):
        for pdf in it:
            ids, pos, ghs = [], [], []
            for d, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:  # null text carries no grams
                    continue
                w = _ws_tokens(t)
                if len(w) < n:
                    continue
                for i in range(len(w) - n + 1):
                    ids.append(d)
                    pos.append(i)
                    ghs.append(hashlib.md5(
                        " ".join(w[i:i + n]).encode()).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "pos": pos, "gh": ghs})

    # The old groupBy(gh)+join-back shape evaluated _grams TWICE: its
    # two consumers compiled to non-identical subtrees (the
    # count_distinct branch pruned/shuffled differently from the join
    # probe side), no exchange was reusable, and AQE's stage cache
    # does not unify the two MapInPandas stages either (verified with
    # a row-count accumulator: 2x the corpus crossed the Python
    # boundary; caught by the r17 plan-hygiene MapInPandas
    # extension — the ReusedExchange claim that used to live here was
    # wrong at the executed shape).  Restated join-free: ONE exchange
    # on gh, then nd = "distinct docs per gram" via two stacked
    # windows sharing that single (gh, doc_id, pos) sort — a
    # doc-boundary lag marks the first row of every (gh, doc) run
    # (partitioning the marker window by gh, not (gh, doc_id), is what
    # keeps it to one exchange: a (gh, doc_id)-partitioned row_number
    # planned hashpartitioning(gh, doc_id) AND hashpartitioning(gh),
    # two full gram-table shuffles — plans/r17
    # dedup_substring_spans_{before,after}.txt), and its per-gh sum is
    # the distinct-doc count.  _grams is single-consumer BY
    # CONSTRUCTION, so the tokenize+md5 corpus pass runs exactly once
    # (guide §2.4/§4; cheaper than persist — the r16 sf1 measurement
    # found caching the corpus-sized gram table 3x slower).  The
    # window buffers spill (ExternalAppendOnlyUnsafeRowArray), so a
    # hot boilerplate gram degrades to disk, not OOM — the same skew
    # profile the join probe side already had.
    g = docs.select(id_col, text_col).mapInPandas(
        _grams, "doc_id long, pos int, gh string")
    wgo = Window.partitionBy("gh").orderBy("doc_id", "pos")
    wg = Window.partitionBy("gh")
    # a run starts at the partition's first row or where the id changes;
    # the null-safe compare keeps all NULL-id rows in one run (counted
    # once), and row_number catches a first row whose id is NULL, which
    # would otherwise compare equal to lag's NULL
    starts = (F.row_number().over(wgo) == 1) \
        | ~F.lag("doc_id").over(wgo).eqNullSafe(F.col("doc_id"))
    d = (g.withColumn("_first", starts.cast("int"))
         .withColumn("_nd", F.sum("_first").over(wg))
         .filter(F.col("_nd") >= min_docs)
         .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    d = (d.withColumn(
            "brk",
            (F.col("pos") - F.lag("pos", 1, -2).over(w) != 1)
            .cast("int"))
         .withColumn("span", F.sum("brk").over(w)))
    return (d.groupBy("doc_id", "span")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + n - 1).cast("long").alias("span_end"),
                 F.count(F.lit(1)).alias("n_grams"))
            .select("doc_id", "span_start", "span_end", "n_grams"))


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-span REMOVAL — the actual intervention of Lee et al.
    2022 (their ExactSubstr dedup CUTS the duplicated substrings and
    keeps the remainder; :func:`duplicate_spans` only detects them).

    Every token whose index falls inside any maximal duplicated span of
    its document is dropped; the survivors re-join with single spaces.
    Two maximal spans CAN overlap at the token level (gram positions
    {0,1,2} and {4,5} with n=8 cover tokens 0-9 and 4-12), so removal
    is over the UNION of the spans' token ranges.  A document with no
    duplicated span keeps its text byte-identical (no whitespace
    normalization of untouched rows); a cut document's surviving tokens
    are single-space joined (token-level surgery cannot preserve the
    original inter-token whitespace).

    Plan shape: the span table (small — only duplicated docs) folds to
    one ``collect_list`` row per doc and LEFT-joins back to the corpus
    on the id; AQE broadcasts it when small.  The cut itself is one
    Arrow ``pandas_udf`` over (text, spans) — per-doc numpy mask, no
    per-token rows ever materialize for the corpus side.

    Returns the input columns with ``text_col`` replaced by the cleaned
    text, plus ``n_tokens_removed``.
    """
    from pyspark.sql.functions import pandas_udf

    spans = duplicate_spans(
        docs, n=n, min_docs=min_docs, text_col=text_col, id_col=id_col)
    per_doc = (spans.groupBy("doc_id")
               .agg(F.collect_list(
                   F.struct("span_start", "span_end")).alias("_spans"))
               .withColumnRenamed("doc_id", id_col))

    @pandas_udf("struct<text: string, n_removed: long>")
    def _cut(txt: pd.Series, spans_s: pd.Series) -> pd.DataFrame:
        texts, removed = [], []
        for t, sp in zip(txt, spans_s):
            if t is None or sp is None or len(sp) == 0:
                texts.append(t)
                removed.append(0)
                continue
            w = _ws_tokens(t)
            keep = np.ones(len(w), dtype=bool)
            for s in sp:
                keep[int(s["span_start"]):int(s["span_end"]) + 1] = False
            texts.append(" ".join(np.asarray(w, dtype=object)[keep]))
            removed.append(int((~keep).sum()))
        return pd.DataFrame({"text": texts, "n_removed": removed})

    out_cols = [c for c in docs.columns]
    cut = (docs.join(per_doc, on=id_col, how="left")
           .withColumn("_cut", _cut(F.col(text_col), F.col("_spans"))))
    return cut.select(
        *[F.col("_cut.text").alias(text_col) if c == text_col
          else F.col(c) for c in out_cols],
        F.col("_cut.n_removed").alias("n_tokens_removed"))


def c4_span_dedup(
    docs: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The C4 corpus-level dedup rule (Raffel et al. 2020 §2.2):
    "discard all but one of any three-sentence span occurring more
    than once in the data set" — the sentence-granularity sibling of
    :func:`remove_duplicate_spans`.

    Sentences are maximal runs ending in a terminal punctuation mark
    (``[^.!?]*[.!?]`` — the portable no-lookaround split; text after
    the last terminal mark is an untouched tail, so a document with no
    duplicated span stays byte-identical).  Every ``n``-sentence span
    is keyed by md5 of its trimmed sentences; the FIRST occurrence
    (minimum ``(doc_id, start)``) survives, every other occurrence's
    sentences are removed, overlapping removals unioned.

    Plan shape at 100 TB: span hashing is per-row expressions (bounded
    by document size); the only corpus shuffles are one groupBy on the
    span hash (partial map-side) and the join of the DUPLICATED-only
    occurrence table back to the corpus (dup spans are rare — AQE
    broadcasts the removal side when small).  No all-pairs, no Python
    in the hot path.

    Returns the input columns with ``text_col`` replaced by the
    cleaned text plus ``n_sentences_removed``.
    """
    sents = F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]*[.!?]"), 0)
    base = docs.withColumn("_sents", sents)
    nspan = F.size("_sents") - (n - 1)
    span_hashes = F.when(nspan > 0, F.transform(
        F.sequence(F.lit(0), nspan - 1),
        # NOT F.transform(..., F.trim): transform passes (element,
        # index) to two-parameter callables, and F.trim(col, trim)
        # treats the INDEX as the trim-character set — a silent no-op
        # the oracle gate could not catch (the seeded spans shared
        # their leading-space pattern, so untrimmed hashes still
        # matched); caught by the brute-force fuzz
        lambda i: F.md5(F.concat_ws(
            "\x1f", F.transform(F.slice("_sents", i + 1, n),
                                lambda s: _ws_trim(s)))),
    )).otherwise(F.array().cast("array<string>"))
    occ = base.select(
        F.col(id_col).alias("_oid"),
        F.posexplode(span_hashes).alias("start", "_sh"))
    dup = (occ.groupBy("_sh")
           .agg(F.min(F.struct(F.col("_oid").alias("d"),
                               F.col("start").alias("s"))).alias("_first"),
                F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= 2))
    rem = (occ.join(dup.select("_sh", "_first"), "_sh")
           .filter((F.col("_oid") != F.col("_first.d"))
                   | (F.col("start") != F.col("_first.s")))
           .select("_oid",
                   F.explode(F.sequence(
                       F.col("start"), F.col("start") + n - 1))
                   .alias("_sidx")))
    drops = (rem.distinct()
             .groupBy("_oid").agg(F.collect_set("_sidx").alias("_drop"))
             .withColumnRenamed("_oid", id_col))
    out_cols = list(docs.columns)
    joined = base.join(drops, on=id_col, how="left")
    # the tail after the last terminal mark never belongs to a span;
    # re-attaching it keeps untouched documents byte-identical
    whole = F.array_join("_sents", "")
    tail = F.substring(
        F.col(text_col), F.length(whole) + 1, F.length(F.col(text_col)))
    kept = F.array_join(
        F.filter("_sents",
                 lambda s, i: ~F.array_contains("_drop", i)), "")
    clean = F.when(F.col("_drop").isNull(), F.col(text_col)) \
             .otherwise(F.concat(kept, tail))
    n_rm = F.when(F.col("_drop").isNull(), F.lit(0)) \
            .otherwise(F.size("_drop")).cast("long")
    return joined.select(
        *[clean.alias(text_col) if c == text_col else F.col(c)
          for c in out_cols],
        n_rm.alias("n_sentences_removed"))


def dedup_paragraphs(
    docs: DataFrame,
    *,
    min_chars: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level exact PARAGRAPH dedup (the RefinedWeb/FineWeb
    line-level dedup stage, at ``'\\n\\n'`` granularity): a paragraph
    occurring in more than one place keeps only its first
    ``(doc_id, position)`` occurrence; every other occurrence —
    cross-document boilerplate ("subscribe to our newsletter") or
    within-document repeats — is removed.

    Paragraph identity is the md5 of the TRIMMED paragraph;
    paragraphs shorter than ``min_chars`` trimmed characters are
    never candidates (common short headings like "Introduction"
    would otherwise be nuked corpus-wide — the standard guard).
    Rebuild re-joins the survivors with ``'\\n\\n'``; split/join is an
    exact inverse, so untouched documents stay byte-identical.

    Plan shape at 100 TB: paragraphs explode map-side; ONE groupBy on
    the paragraph hash (partial map-side) finds duplicated ones; only
    their occurrences join back (AQE broadcasts the removal side when
    small) — the same two-shuffle skeleton as :func:`c4_span_dedup`.

    Returns the input columns with ``text_col`` replaced plus
    ``n_paras_removed``.
    """
    paras = F.split(F.col(text_col), "\n\n")
    base = docs.withColumn("_paras", paras)
    occ = (base.select(F.col(id_col).alias("_oid"),
                       F.posexplode("_paras").alias("_pidx", "_p"))
           .filter(F.length(_ws_trim(F.col("_p"))) >= min_chars)
           .select("_oid", "_pidx",
                   F.md5(_ws_trim(F.col("_p"))).alias("_ph")))
    dup = (occ.groupBy("_ph")
           .agg(F.min(F.struct(F.col("_oid").alias("d"),
                               F.col("_pidx").alias("s"))).alias("_first"),
                F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= 2))
    rem = (occ.join(dup.select("_ph", "_first"), "_ph")
           .filter((F.col("_oid") != F.col("_first.d"))
                   | (F.col("_pidx") != F.col("_first.s")))
           .select("_oid", "_pidx"))
    drops = (rem.groupBy("_oid")
             .agg(F.collect_set("_pidx").alias("_drop"))
             .withColumnRenamed("_oid", id_col))
    joined = base.join(drops, on=id_col, how="left")
    kept = F.array_join(
        F.filter("_paras",
                 lambda p, i: ~F.array_contains("_drop", i)), "\n\n")
    clean = F.when(F.col("_drop").isNull(), F.col(text_col)) \
             .otherwise(kept)
    n_rm = F.when(F.col("_drop").isNull(), F.lit(0)) \
            .otherwise(F.size("_drop")).cast("long")
    out_cols = list(docs.columns)
    return joined.select(
        *[clean.alias(text_col) if c == text_col else F.col(c)
          for c in out_cols],
        n_rm.alias("n_paras_removed"))


def _guard_cluster_skew(
    asg: DataFrame, max_cluster_size: int, on_oversize: str,
) -> DataFrame:
    """Enforce :func:`semantic_dedup`'s per-cluster size bound.

    ``asg`` is the materialized ``(id, _v, cluster)`` assignment.  On
    ``raise``: name the oversized cluster(s) and their sizes (the silent
    alternative is a single multi-hour O(m^2) task).  On ``split``:
    train one fresh sub-codebook per oversized cluster (ids allocated
    above every existing cluster id), reassign only those rows
    (filter + one Arrow pass — the small clusters never re-shuffle),
    and raise if a sub-cluster still exceeds the bound (identical
    vectors cannot be separated by any codebook).
    """
    from pyspark.sql.functions import pandas_udf

    from .similarity import _f64_rows, _nearest, kmeans_fit

    # ONE driver-bounded collect (cluster cardinality <= n_centroids)
    # serves the oversize check AND the fresh-id allocation below
    all_sizes = (asg.groupBy("cluster")
                 .agg(F.count(F.lit(1)).alias("n")).collect())
    sizes = [r for r in all_sizes if r["n"] > max_cluster_size]
    if not sizes:
        return asg
    desc = ", ".join(
        f"{r['cluster']} ({r['n']} vectors)"
        for r in sorted(sizes, key=lambda r: -r["n"])[:5])
    if on_oversize == "raise":
        raise ValueError(
            f"semantic_dedup: {len(sizes)} cluster(s) exceed "
            f"max_cluster_size={max_cluster_size}: {desc}. Train more "
            "centroids, pass on_oversize='split', or raise the bound.")

    next_id = max(int(r["cluster"]) for r in all_sizes) + 1
    target = max(max_cluster_size // 2, 1)
    books: dict[int, Codebook] = {}
    for r in sizes:
        cid, cnt = int(r["cluster"]), int(r["n"])
        k = max(2, -(-cnt // target))
        # init="spread": an oversized cluster's lowest ids are often
        # near-duplicates (the adjacent-id degenerate the spread init
        # exists for); first-k seeding here could merge genuinely
        # separable blobs and misdiagnose them as unsplittable
        sub_c = kmeans_fit(
            asg.filter(F.col("cluster") == F.lit(cid)),
            k, iters=5, id_col="id", vec_col="_v", init="spread")
        books[cid] = Codebook(np.arange(next_id, next_id + k), sub_c)
        next_id += k

    @pandas_udf("bigint")
    def _reassign(cl: pd.Series, vs: pd.Series) -> pd.Series:
        out = cl.to_numpy(dtype=np.int64).copy()
        for cid, cb in books.items():
            m = out == cid
            if m.any():
                # a NULL vector is a NaN row: argmin's first-NaN rule
                # puts it in the lowest sub-cluster id
                X = _f64_rows(vs[m], cb.vecs.shape[1])
                out[m] = cb.ids[_nearest(X, cb.vecs)]
        return pd.Series(out)

    big_ids = list(books)
    out = (
        asg.filter(~F.col("cluster").isin(big_ids))
        .unionByName(
            asg.filter(F.col("cluster").isin(big_ids))
            .withColumn("cluster", _reassign("cluster", "_v")))
        .localCheckpoint())
    still = (out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") > max_cluster_size).collect())
    if still:
        sdesc = ", ".join(
            f"{r['cluster']} ({r['n']} vectors)"
            for r in sorted(still, key=lambda r: -r["n"])[:5])
        raise ValueError(
            "semantic_dedup: on_oversize='split' could not reduce "
            f"cluster(s) below max_cluster_size={max_cluster_size}: "
            f"{sdesc}. The vectors are near-identical (no codebook "
            "separates them); dedup them exactly, or raise the bound.")
    return out


def semantic_dedup(
    emb: DataFrame,
    centroids: Codebook,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 65536,
    on_oversize: str = "raise",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    *SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication*, arXiv:2303.09540): cluster the embedding space,
    compare pairs ONLY within a cluster, and keep one representative of
    every semantically near-identical group.

    * every vector is assigned to its nearest centroid — the same
      zero-shuffle map-side cell UDF as
      :func:`~xclim_spark.llm.similarity.knn_ivf` (``centroids`` is a
      :class:`~xclim_spark.llm.similarity.Codebook`; production trains
      it with k-means, any deterministic subset exercises the
      plumbing);
    * within each cluster, exact pairwise cosine via ONE
      ``applyInPandas`` task per cluster — a BLAS gram matrix over the
      cluster's vectors (row-blocked above 2048 vectors so a skewed
      cluster stays in memory), so sizing ``n_centroids ~ corpus /
      target_cluster_size`` bounds the work at 100 TB (the paper uses
      50k clusters for LAION); an all-pairs stage never exists, and no
      vector ever ships twice (the expression-cosine self-join this
      replaces measured 100+ s at the sf1 rehearsal — interpreted
      per-element folds over half a million exploded pairs);
    * a document with a ``>= threshold`` neighbour of SMALLER id in its
      cluster is marked a duplicate of the least such id (the paper
      keeps one exemplar per group; min-id is the deterministic choice,
      matching :func:`connected_components` canonical labels).

    **Skew guard**: each cluster is one ``applyInPandas`` task, so one
    degenerate giant cluster is a single-task O(m^2) hotspot.  When any
    cluster exceeds ``max_cluster_size`` vectors the operator either
    raises naming the cluster (``on_oversize="raise"``, the default —
    the actionable fix is more centroids) or re-clusters the oversized
    clusters in place (``on_oversize="split"`` — a fresh
    :func:`~xclim_spark.llm.similarity.kmeans_fit` sub-codebook per
    oversized cluster, sub-cluster ids allocated above the existing
    centroid ids; pairs ACROSS sub-clusters are then unseen, the same
    recall knob as the paper's cluster count).  A split that cannot
    shrink below the bound (e.g. all-identical vectors) raises rather
    than looping.  Pass ``max_cluster_size=None`` to disable the guard
    (and the size-check job).

    Returns ``(id, cluster, keep, dup_of)`` — ``dup_of`` null where
    ``keep``.  A NULL vector joins the lowest-id cluster and is always
    kept (it is nobody's duplicate).
    """
    from .similarity import _cell_udfs, _f64_rows

    if on_oversize not in ("raise", "split"):
        raise ValueError(
            f"semantic_dedup: on_oversize must be 'raise' or 'split' "
            f"(got {on_oversize!r})")

    _cell = _cell_udfs(centroids)[0]

    # localCheckpoint (eager), not persist: the assignment is
    # materialized exactly once for BOTH the size check and the two
    # downstream consumers, and the blocks are released by the
    # ContextCleaner when the result is garbage-collected — a bare
    # .persist() here leaked one cached corpus-sized frame per call
    asg = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"),
        _cell(F.col(vec_col)).alias("cluster"),
    ).localCheckpoint()

    if max_cluster_size is not None:
        asg = _guard_cluster_skew(asg, max_cluster_size, on_oversize)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        # a NULL vector is a NaN row: no cosine reaches the threshold,
        # so it is kept and never a duplicate of anything
        X = _f64_rows(pdf["_v"])[order]
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        m = len(ids)
        # best[j] = smallest row index i < j with cos(i, j) >= threshold
        best = np.full(m, m, dtype=np.int64)
        blk = 2048
        for s in range(0, m, blk):
            e = min(s + blk, m)
            sims = Xn[s:e] @ Xn.T  # (block, m)
            for r in range(e - s):
                i = s + r
                hit = sims[r, i + 1:] >= threshold
                tail = best[i + 1:]
                # i ascends, so the first hit recorded IS the minimum
                tail[(tail == m) & hit] = i
        dup = best < m
        return pd.DataFrame({"id": ids[dup],
                             "dup_of": ids[best[dup]]})

    dups = (asg.select("cluster", "id", "_v")
            .groupBy("cluster")
            .applyInPandas(_pairs, "id long, dup_of long"))
    out = (
        asg.join(dups, on="id", how="left")
        .select("id", "cluster",
                F.col("dup_of").isNull().alias("keep"), "dup_of")
    )
    return out


def near_dup_components(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    num_perm: int = 128,
    bands: int = 64,
    seed: int = 7,
    parallelism: int | None = None,
) -> DataFrame:
    """THE production near-dup clustering entry point: MinHash-LSH
    pair discovery closed into components, with exact dedup FIRST —
    the production ordering (RefinedWeb, SlimPajama, CCNet all
    exact-dedup before MinHash) and the answer to pair listing's
    quadratic blowup on clone groups: a boilerplate page with m copies
    emits C(m, 2) MinHash pairs when the raw pair graph is closed
    (``connected_components(near_duplicates(docs))``) but only m - 1
    star edges here.  The sf10 scale rehearsal measured the difference
    at 500k docs with 100-member clone groups: 27.3M pairs / 289 s raw
    vs 241 pairs + 495k star edges / 24 s composed — and the resulting
    components are IDENTICAL, because exact copies have identical
    shingle sets, so every cross-group near-dup edge is represented by
    its exemplar pair (proved by the shared gate oracle and pinned by
    pytest).

    Stages (all linear):

    1. exact groups over the shingle-eligible docs (>= ``n`` words —
       the same eligibility as the MinHash shingler, so short docs
       stay OUT of the graph exactly as they do in the raw pair graph):
       one md5(text) groupBy for exemplars (min id), one join back for
       the star edges — no ``collect_list``: a 10M-member clone group
       must never materialize as one array row;
    2. :func:`near_duplicates` on the EXEMPLAR documents only;
    3. :func:`connected_components` over near-dup + star edges.

    Returns ``(id, component)`` for every document with at least one
    edge — the same contract as closing the raw pair graph."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    eligible = docs.where(
        F.col(text_col).isNotNull() & (F.size(toks) >= n))
    keyed = eligible.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_k"))
    exemplars = keyed.groupBy("_k").agg(F.min(id_col).alias("_ex"))
    star = (keyed.join(exemplars, "_k")
            .where(F.col(id_col) != F.col("_ex"))
            .select(F.col(id_col).alias("id_a"),
                    F.col("_ex").alias("id_b")))
    ex_docs = eligible.join(
        exemplars.select(F.col("_ex").alias(id_col)), id_col,
        "left_semi")
    pairs = near_duplicates(
        ex_docs, text_col=text_col, id_col=id_col, n=n,
        threshold=threshold, num_perm=num_perm, bands=bands, seed=seed,
        parallelism=parallelism)
    edges = pairs.select("id_a", "id_b").unionByName(star)
    return connected_components(edges)


# Edge count up to which connected_components closes the graph on the
# driver.  Closure plus a count of its labels on random graphs with as
# many nodes as edges, local[4] on a 4-vCPU host, second of two runs
# (driver side / star side): 10k edges 0.55 / 5.3 s, 100k 1.1 / 7.5 s,
# 300k 3.5 / 14.4 s, 1M 8.0 / 24.9 s (the driver side then holds
# +245 MB of Python RSS).  300k is the largest measured size at which
# the driver side beats even the star side's fixed cost (its 10k-edge
# time); more executors shorten star's data work, not that fixed cost.
_LOCAL_MAX_EDGES = 300_000

# Round budget of the star rewrite.  It converges in O(log^2 n) rounds
# (O(log n) observed), so 50 covers any real graph.
_STAR_MAX_ROUNDS = 50


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(a, b)`` with ``a >= b``, one row per edge with a non-NULL id.
    ``greatest``/``least`` skip NULLs, so an edge with one NULL end is
    the self-loop ``(x, x)``: its node stays in the graph alone."""
    return (edges.select(F.greatest(F.col(src), F.col(dst)).alias("a"),
                         F.least(F.col(src), F.col(dst)).alias("b"))
            .where(F.col("a").isNotNull()))


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b",
) -> DataFrame:
    """Connected components over a duplicate-pair graph: assign every
    node the MINIMUM id reachable from it — the canonical-document
    choice that turns pairwise near-dup hits into dedup clusters.

    NOTE: this is the graph-closure PRIMITIVE.  For end-to-end near-dup
    clustering use :func:`near_dup_components`, which exact-dedups
    before pair generation — feeding this function a raw MinHash pair
    graph of a clone-heavy corpus hands it C(m, 2) edges per m-copy
    boilerplate page (measured quadratic at the sf10 rehearsal).

    One capped read (:data:`_LOCAL_MAX_EDGES` + 1 edges, as Arrow)
    picks the side.  A graph that fits is closed on the driver by a
    path-compressed union-find whose roots are component minima, and
    its labels come back as a local relation: one Spark action in all.
    A larger graph goes to :func:`connected_components_star`, which
    reads the edges again.

    Returns ``(id, component)``, typed like the wider id column, with
    one row per non-NULL id of any edge.  Self-loop ids and ids whose
    partner is NULL are singletons; a NULL id gets no row.
    """
    canon = _canonical_edges(edges, src, dst)
    tbl = canon.limit(_LOCAL_MAX_EDGES + 1).toArrow()
    if tbl.num_rows > _LOCAL_MAX_EDGES:
        return connected_components_star(edges, src, dst)
    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(tbl.column("a").to_pylist(),
                    tbl.column("b").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    t = canon.schema["a"].dataType
    return local_frame(
        edges.sparkSession, [(x, find(x)) for x in parent],
        StructType([StructField("id", t), StructField("component", t)]))


def connected_components_star(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    edge rewrites (Kiveris et al., *Connected Components in MapReduce
    and Beyond*, ACM SoCC 2014): the distributed side of
    :func:`connected_components`, for graphs too large to close on the
    driver.  It converges in O(log^2 n) rounds worst-case (O(log n)
    observed), however deep the components are.

    One round = two window passes over the edge set:

    * **large-star**: every node ``u`` re-points its strictly LARGER
      neighbours at ``m(u) = min(N(u) + {u})`` — long tails collapse
      toward small ids without ever increasing edge count beyond the
      original (the paper's Lemma 1);
    * **small-star**: every node ``u`` re-points its smaller-or-equal
      neighbours AND itself at the minimum of its smaller
      neighbourhood — turning shallow trees into stars.

    At the fixpoint the edge set IS the component map (child -> root
    minimum).  Convergence is detected by an order-insensitive edge-set
    signature (count + two independent 64-bit hash sums) instead of a
    full anti-join — one driver-side tuple per round.
    ``localCheckpoint`` per round keeps the iteration's lineage flat (a
    cluster deployment would use durable ``checkpoint()``).  Raises
    ``RuntimeError`` when :data:`_STAR_MAX_ROUNDS` rounds do not reach
    the fixpoint.

    Returns ``(id, component)`` with the node contract of
    :func:`connected_components`.
    """
    # canonical direction: a > b in the working set (every rewrite
    # below preserves it); the self-loops stay in the checkpoint so
    # that their ids are labelled at the end
    e0 = _canonical_edges(edges, src, dst).distinct().localCheckpoint()
    e = e0.filter(F.col("a") != F.col("b"))

    def _sig(df):
        # decimal(38,0) accumulators: hash sums never overflow (ANSI
        # mode makes long-sum overflow an error, and 2^63-scale terms
        # overflow fast)
        row = df.agg(
            F.count(F.lit(1)),
            F.sum(F.hash("a", "b").cast("decimal(38,0)")),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))
        ).collect()[0]
        return tuple(row)

    # Both half-rounds used to aggregate m(u) with a groupBy and JOIN
    # it back to the edge set — the edge table crossed the network
    # twice per half-round (once into the aggregate, once as the join
    # probe; both exchanges hash on the SAME key).  m(u) is a
    # per-partition value, so a window min over the ``a`` partition
    # attaches it in the one pass the edges already make (guide §2.4:
    # a window keyed like the preceding aggregation needs no second
    # shuffle).  No new skew class: the join probe already co-located
    # every edge of a node on one partition; the window buffer spills
    # where that partition is huge, exactly like the probe side did.
    # A/B at the gate's own pair graph: identical edge sets every
    # round, closure wall 1.75/1.57/1.30 -> 1.28/1.16/1.26 s
    # (PLANS.md round 17).
    def _large_star(ed):
        und = ed.unionByName(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = F.least(F.col("a"),
                    F.min("b").over(Window.partitionBy("a")))
        # (v, m(u)) for v in N(u), v > u  ->  still a > b since m <= u < v
        return (und.withColumn("m", m)
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b")).distinct())

    def _small_star(ed):
        # ed is canonical (a > b): N^-(a) = {b}, m = min of it; the
        # one-row-per-node (a, m) branch of the old union is the
        # row_number()==1 row of the same window partition, emitted by
        # a 1-or-2 element explode so the edge set is read ONCE
        m = F.min("b").over(Window.partitionBy("a"))
        rn = F.row_number().over(Window.partitionBy("a").orderBy("b"))
        ed2 = ed.withColumn("m", m).withColumn("_rn", rn)
        pair = F.struct(F.col("b").alias("a"), F.col("m").alias("b"))
        own = F.struct(F.col("a").alias("a"), F.col("m").alias("b"))
        return (ed2.select(F.explode(
                    F.when(F.col("_rn") == 1, F.array(pair, own))
                    .otherwise(F.array(pair))).alias("_e"))
                .select("_e.a", "_e.b")
                .filter(F.col("a") != F.col("b")).distinct())

    sig = _sig(e)
    for _ in range(_STAR_MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint()
        new_sig = _sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # a non-fixpoint edge set can carry one id in several
        # conflicting child->root rows — emitting labels from it would
        # hand callers duplicate ids with different components
        raise RuntimeError(
            f"connected_components_star did not reach its edge-set "
            f"fixpoint within {_STAR_MAX_ROUNDS} rounds")
    # child -> root rows, root -> root rows and the self-loops: the
    # least component per id is the root wherever an edge reaches it
    return (e.unionByName(e.select(F.col("b").alias("a"), "b"))
            .unionByName(e0.where(F.col("a") == F.col("b")))
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("b").alias("component")))
