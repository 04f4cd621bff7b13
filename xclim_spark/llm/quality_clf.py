"""Trained quality classifier — the DCLM / fastText curation stage
(Li et al. 2024, *DataComp-LM*, §4.4: a fastText classifier trained on
a seed of known-good text is the single highest-leverage quality
filter; Joulin et al. 2017, *Bag of Tricks for Efficient Text
Classification*).  This is the same pipeline shape as fastText's
supervised mode — hashed bag of word uni+bigrams, a linear model, a
sigmoid — trained as full-batch logistic regression so every step is
deterministic and re-derivable by an external SQL oracle.

Scale design:

* **Feature hashing is pure expressions** (Weinberger et al. 2009):
  gram -> first 8 hex chars of md5 -> integer -> pmod ``dim``.  The
  hash is engine-neutral (md5 is universal), so DuckDB/Trino can
  re-derive every feature index bit-for-bit — same rationale as
  ``dedup.md5_hash60``.
* **Training never shuffles text.**  One explode + one groupBy builds
  the exploded feature table ``(_id, _y, _idx, _x)`` ONCE, hash
  partitioned on the document id and persisted, and ONE capped collect
  (:data:`_LOCAL_MAX_ROWS` + 1 rows, as Arrow) decides where the
  epochs run.  A table that fits trains in driver memory, as fastText
  trains on a single node: each epoch is two ``np.bincount`` sums
  (per-document margin, per-feature gradient), so training costs one
  Spark action whatever the epoch count.  A larger table trains
  distributed: each gradient-descent epoch is ONE pure-codegen pass
  over the persisted layout — the per-document margin is a window sum
  over the ``_id`` partition (exchange-free on the persisted hash
  layout; the residual rides every feature row of its document, no
  re-join, no second scan) — plus ONE ``groupBy(idx)`` shuffle of
  ``(feature, partial-gradient)`` rows — the counts-shuffle-not-text
  shape shared with BPE training (tokenizer.py).  The driver only
  collects the ``dim + 1`` gradient vector per epoch (``dim`` is a few
  thousand, never corpus-sized), and hands the updated weights back as
  ONE typed array literal (``F.lit`` of a float64 ndarray): a list
  literal builds one Column per weight and a ``CreateArray`` with
  ``dim + 1`` children, analyzed again every epoch (~4.5x the driver
  CPU of the ndarray literal at ``dim`` 512).
* **The intercept is a hashed feature** (index ``dim``, x = 1.0), so
  the bias gradient rides the same single shuffle instead of needing a
  second aggregation pass per epoch.
* **Scoring is map-side only**: the trained weight vector rides the
  scoring UDF's closure; each document's score is a vectorized Arrow
  batch fold (factorize grams -> md5 per DISTINCT gram -> one numpy
  gather -> one bincount) — zero shuffles, zero joins, zero state,
  exactly how a fastText filter runs over 100 TB.  (The per-gram
  ``aggregate``/``transform`` Column fold this replaced is
  Catalyst-interpreted and measured ~11x slower at sf1: 1.84 s vs
  21.0 s scoring-only, interleaved, identical score sums.)

Determinism contract (mirrored by the DuckDB oracle in queries.py):
tokens are ``[a-z]+`` runs of the lowercased text; bigrams join
adjacent tokens with ``_``; features are gram counts divided by the
document's total gram count; updated weights round to 9 decimals per
epoch so last-ulp float-sum ordering differences between engines
cannot compound across epochs.
"""

from __future__ import annotations

import re as _re

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Python twin of the Column path's regexp_extract_all(lower(t),
# '[a-z]+'): a literal ASCII class in both engines.
_PY_TOKEN_RE = _re.compile("[a-z]+")

__all__ = [
    "hashed_gram_indices",
    "quality_clf_train",
    "quality_clf_score",
]

# Largest feature table (rows of ``(_id, _y, _idx, _x)``, about 70 per
# web document) whose epochs run on the driver.  Measured on a 4-vCPU
# host, 10 epochs at dim 512: the capped collect takes 0.6 s wall and
# the driver epochs 0.02 / 0.38 / 1.5 s CPU at 35k / 1M / 3M rows,
# against 5.6 / 4.6 / 7.0 s wall for the distributed epochs.  The
# driver wins at every size tried, so the cap is memory: the driver's
# Python peak grew by ~80 bytes per row (~160 MB at this cap).
_LOCAL_MAX_ROWS = 2_000_000


def _token_array(text_col: str) -> Column:
    return F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")


def _gram_array(text_col: str, *, bigrams: bool = True) -> Column:
    """Uni(+bi)gram array of a document, fastText-style (`_`-joined
    adjacent tokens)."""
    t = _token_array(text_col)
    if not bigrams:
        return t
    bi = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit("_"), b)),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bi)


def hashed_gram_indices(grams: Column, dim: int) -> Column:
    """Hash every gram to a feature index in ``[0, dim)`` via the
    engine-neutral md5 prefix (recomputable in any SQL engine as
    ``('0x' || substr(md5(g), 1, 8))::BIGINT % dim``)."""
    return F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
            F.lit(dim)).cast("int"))


def _doc_features(
    docs: DataFrame, *, text_col: str, id_col: str, label_col: str,
    dim: int, bigrams: bool,
) -> DataFrame:
    """Exploded per-document feature rows ``(_id, _y, _idx, _x)`` with
    the intercept appended as feature ``dim`` (x = 1.0).  Feature
    values are gram counts / total grams.  The DOCUMENT rows are hash
    partitioned on the id BEFORE tokenization: the one shuffle of the
    build moves (id, label, text) rows — KB-scale next to the gram
    rows it replaces — and everything downstream inherits the layout,
    so (a) tokenize/hash/explode parallelize across the cluster even
    when the scan is a single file, (b) the per-(doc, feature) count
    aggregation is exchange-free (hash(_id) satisfies the (_id, _idx)
    clustering), and (c) every epoch's per-document margin window
    reuses the persisted partitioning.  The previous shape exploded
    first and paid two gram-table-sized exchanges (the count groupBy
    plus a trailing repartition) — measured 2.2-2.6 -> 1.2-1.3 s at
    sf0.1 with a row-set-identical result and bit-identical trained
    weights (PLANS.md round 17)."""
    grams = _gram_array(text_col, bigrams=bigrams)
    # grams are non-empty exactly when tokens are: filtering on the
    # tokens BEFORE the exchange keeps Catalyst from pushing a filter on
    # the hashed grams below it, which would run the md5 transform on
    # both sides of the shuffle
    base = (docs
            .where(F.size(_token_array(text_col)) >= 1)
            .select(F.col(id_col).alias("_id"),
                    F.col(label_col).cast("double").alias("_y"),
                    F.col(text_col))
            .repartition("_id")
            .select("_id", "_y",
                    hashed_gram_indices(grams, dim).alias("_gi"))
            .select("_id", "_y", F.size("_gi").alias("_ng"),
                    F.explode(F.concat(
                        "_gi", F.array(F.lit(-1).cast("int"))))
                    .alias("_idx")))
    # _idx = -1 marks the appended intercept slot: it becomes feature
    # `dim` with x = 1.0 (not count-normalized)
    counts = (base.groupBy("_id", "_idx")
              .agg(F.count(F.lit(1)).alias("_c"),
                   F.first("_y").alias("_y"),
                   F.first("_ng").alias("_ng")))
    return counts.select(
        "_id", "_y",
        F.when(F.col("_idx") < 0, F.lit(dim)).otherwise(F.col("_idx"))
        .alias("_idx"),
        F.when(F.col("_idx") < 0, F.lit(1.0))
        .otherwise(F.col("_c").cast("double") / F.col("_ng"))
        .alias("_x"))


def quality_clf_train(
    docs: DataFrame,
    *,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 512,
    epochs: int = 10,
    lr: float = 5.0,
    bigrams: bool = True,
) -> list[float]:
    """Train the hashed-n-gram logistic regression with full-batch
    gradient descent and return the ``dim + 1`` weight vector (last
    entry = intercept).

    ``label_col`` is any 0/1 column — DCLM trains on "looks like the
    seed corpus" labels; the gate trains on a stopword-density proxy.
    Full-batch GD (not SGD) keeps every step a deterministic
    aggregation, so an external SQL engine can replay training
    exactly; per-epoch weights round to 9 decimals to absorb float-sum
    ordering differences between engines.

    Rounding caveat: Python :func:`round` is banker's rounding while
    DuckDB ``round()`` is half-away-from-zero, so an EXACT .5 tie at
    the 9th decimal would diverge the engines and compound across
    epochs.  Float gradient sums essentially never land on an exact
    binary representation of a decimal .5 tie (a tie requires the
    product ``lr * g / n`` to be exactly representable at 9 decimals),
    so the replay contract is "re-derivable in practice", not a
    bit-level guarantee against adversarial inputs.

    The feature table is built and persisted once, then fetched by one
    capped collect.  Up to :data:`_LOCAL_MAX_ROWS` rows, every epoch
    runs in numpy on the driver: one Spark action in all.  A larger
    table trains distributed, ``epochs + 1`` actions in all.  Per epoch
    (all codegen — no interpreted higher-order functions in the hot
    path): ONE pass over the persisted doc-partitioned feature table —
    the per-document margin is a window sum over the ``_id`` partition
    (exchange-free on the persisted hash(_id) layout), the residual
    rides every feature row of its document directly, and one
    ``groupBy(feature-idx)`` gradient combine whose ``dim + 1`` rows
    are the only thing the driver sees.  (The previous aggregate +
    co-partitioned re-join shape scanned the cached feature table
    TWICE per epoch and paid a driver-side residual broadcast; the
    window restatement was measured 1.25x faster over the 10-epoch run
    at sf0.1 with bit-identical weights — PLANS.md round 17.)  Both
    sides compute the same update expression and round it alike, so
    they return the same weights up to the last-digit float-sum
    differences the 9-decimal rounding absorbs."""
    feats = _doc_features(
        docs, text_col=text_col, id_col=id_col, label_col=label_col,
        dim=dim, bigrams=bigrams).persist()
    try:
        tbl = feats.limit(_LOCAL_MAX_ROWS + 1).toArrow()
        if tbl.num_rows == 0:
            raise ValueError("quality_clf_train: no trainable documents "
                             "(all texts NULL or zero grams)")
        if tbl.num_rows > _LOCAL_MAX_ROWS:
            return _train_distributed(feats, dim, epochs, lr)
    finally:
        feats.unpersist()
    return _train_local(tbl, dim, epochs, lr)


def _train_local(tbl, dim: int, epochs: int, lr: float) -> list[float]:
    """The epochs of :func:`quality_clf_train` over the collected
    feature table: per-document margins and per-feature gradients are
    ``np.bincount`` sums, and the update is the distributed side's
    Python expression, so both sides round alike."""
    import pandas as pd

    doc, _ = pd.factorize(tbl.column("_id").to_pandas(),
                          use_na_sentinel=False)
    y = tbl.column("_y").to_numpy()
    idx = tbl.column("_idx").to_numpy()
    x = tbl.column("_x").to_numpy()
    n = int(np.count_nonzero(idx == dim))  # one intercept row per doc
    seen = np.flatnonzero(np.bincount(idx, minlength=dim + 1)).tolist()
    w = [0.0] * (dim + 1)
    for _ in range(epochs):
        m = np.bincount(doc, weights=x * np.asarray(w)[idx])
        # a NULL label (NaN) adds nothing, as Spark's sum skips NULLs
        r = np.nan_to_num(1.0 / (1.0 + np.exp(-m[doc])) - y, nan=0.0)
        g = np.bincount(idx, weights=r * x, minlength=dim + 1).tolist()
        for j in seen:
            w[j] = round(w[j] - lr * g[j] / n, 9)
    return w


def _train_distributed(feats: DataFrame, dim: int, epochs: int,
                       lr: float) -> list[float]:
    """The epochs of :func:`quality_clf_train` as Spark aggregations
    over the persisted feature table; ``n`` (the intercept's row count,
    one per document) rides epoch 1's aggregation."""
    from pyspark.sql import Window

    wid = Window.partitionBy("_id")
    w = [0.0] * (dim + 1)
    n = None
    for _ in range(epochs):
        wlit = F.lit(np.asarray(w, dtype=np.float64))
        # margin as a window sum over the document's own feature
        # rows: same float-sum tolerance class as an aggregate + join
        # (per-epoch weights round to 9 decimals — the engine-replay
        # contract above), then the only shuffle of the epoch: dim+1
        # gradient partials
        m = F.sum(F.col("_x")
                  * F.element_at(wlit, F.col("_idx") + 1)).over(wid)
        r = (F.lit(1.0) / (F.lit(1.0) + F.exp(-m)) - F.col("_y"))
        grad_rows = (feats.withColumn("_r", r)
                     .groupBy("_idx")
                     .agg(F.sum(F.col("_r") * F.col("_x")).alias("_g"),
                          F.count(F.lit(1)).alias("_n"))
                     .collect())
        if n is None:
            n = next(row["_n"] for row in grad_rows if row["_idx"] == dim)
        for row in grad_rows:
            # NULL when every row of the feature has a NULL label: no
            # gradient, as on the local side
            if row["_g"] is not None:
                j = row["_idx"]
                w[j] = round(w[j] - lr * row["_g"] / n, 9)
    return w


# Executor-lifetime gram -> feature-index memo, keyed by dim.  Text
# gram frequencies are Zipfian, so after warm-up nearly every gram in
# a batch is a dict hit and md5 is paid only for never-seen grams.
# Bounded: cleared when it would exceed ~4M entries (~a few hundred MB
# of Python strings at web-corpus gram lengths).
_GRAM_IDX_CACHE: dict = {}
_GRAM_IDX_CACHE_MAX = 4_000_000


def _score_texts(texts, w_arr, dim: int, bigrams: bool):
    """Vectorized margin computation for one Arrow batch: tokenize per
    doc (C regex), factorize ALL grams of the batch so hashing cost is
    per-DISTINCT gram, gather weights with one numpy indexing op, and
    fold per-doc sums with ``np.bincount``.  Implements the exact
    module contract ([a-z]+ on lowercased text, _-joined bigrams,
    md5-prefix % dim, count/ng features, intercept at index dim)."""
    import hashlib

    import pandas as pd

    findall = _PY_TOKEN_RE.findall
    n = len(texts)
    counts = np.zeros(n, dtype=np.int64)
    grams_flat: list = []
    for i, t in enumerate(texts):
        if t is None or (isinstance(t, float) and pd.isna(t)):
            continue
        toks = findall(t.lower())
        if bigrams and len(toks) >= 2:
            grams = toks + [a + "_" + b for a, b in zip(toks, toks[1:])]
        else:
            grams = toks
        counts[i] = len(grams)
        grams_flat.extend(grams)
    b = float(w_arr[dim])
    if not grams_flat:
        return np.full(n, 1.0 / (1.0 + np.exp(-b)))
    codes, uniq = pd.factorize(np.asarray(grams_flat, dtype=object))
    cache = _GRAM_IDX_CACHE.setdefault(dim, {})
    if len(cache) + len(uniq) > _GRAM_IDX_CACHE_MAX:
        cache.clear()
    idx = np.empty(len(uniq), dtype=np.int64)
    md5 = hashlib.md5
    for j, g in enumerate(uniq):
        got = cache.get(g)
        if got is None:
            got = cache[g] = int(
                md5(g.encode("utf-8")).hexdigest()[:8], 16) % dim
        idx[j] = got
    vals = w_arr[idx][codes]
    doc_of = np.repeat(np.arange(n), counts)
    sums = np.bincount(doc_of, weights=vals, minlength=n)
    margin = np.where(counts > 0, sums / np.maximum(counts, 1), 0.0) + b
    return 1.0 / (1.0 + np.exp(-margin))


def quality_clf_score(
    docs: DataFrame,
    weights: list[float],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
    alias: str = "quality_score",
) -> DataFrame:
    """Score every document with a trained weight vector — map-side
    only (the weight vector rides the scoring UDF's closure; the score
    folds over the document's own grams), the deployment shape for
    filtering 100 TB behind one narrow scan: zero shuffles, zero joins,
    zero state.

    Returns ``(id_col, alias)`` with ``alias`` = sigmoid(w . x + b).
    Documents with zero grams (or NULL text) score ``sigmoid(b)``
    (features all zero).

    Scoring is a vectorized Arrow ``pandas_udf``: per batch, all grams
    are ``pd.factorize``'d so the md5 feature hash is paid once per
    DISTINCT gram (backed by an executor-lifetime memo — Zipf makes
    this a dict hit after warm-up), weights gather with one numpy
    indexing op, and the per-doc fold is a single ``np.bincount``
    (sequential, left to right over the document's grams).

    Parity caveat (same class as tokenizer.bpe_encode_words): the
    scorer lowercases with Python ``str.lower`` and tokenizes with
    Python ``re`` where training (:func:`_gram_array` +
    :func:`hashed_gram_indices`) uses JVM ``lower`` /
    ``regexp_extract_all`` — both implement Unicode default case
    mapping and a literal ASCII ``[a-z]`` class, and
    tests/test_quality_clf.py asserts the scores equal a fold over the
    JVM feature indices on mixed-case/Unicode fixtures."""
    from pyspark.sql.functions import pandas_udf

    dim = len(weights) - 1
    w_arr = np.asarray(weights, dtype=np.float64)

    @pandas_udf("double")
    def _score(texts):
        import pandas as pd
        return pd.Series(_score_texts(texts, w_arr, dim, bigrams))

    return docs.select(F.col(id_col), _score(F.col(text_col)).alias(alias))
