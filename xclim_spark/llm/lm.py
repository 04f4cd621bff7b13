"""N-gram language-model perplexity filtering — the CCNet quality
stage (Wenzek et al. 2020, *CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data*, §4.3: score every document with an LM
trained on a clean reference corpus, then keep the low-perplexity
head/middle buckets).  CCNet uses a KenLM 5-gram; this is the same
pipeline shape with an engine-portable bigram stupid-backoff model
(Brants et al. 2007 §4 — unnormalized backoff scores, chosen there
precisely because they need no distributed smoothing pass).

Scale design:

* **Training is two groupBys** over the reference slice: unigram and
  bigram counts, both partial-aggregated map-side — the shuffles carry
  ``(gram, count)``, never text.  The model LIVES AS DATAFRAMES until
  scoring time.
* **Scoring is size-gated** (:func:`lm_broadcast_model`): when the
  model fits a worker-side broadcast (<= ``broadcast_max_rows`` gram
  rows, default 2M) it is collected once and every document scores in
  ONE ``mapInPandas`` pass — CCNet's own deployment shape (the KenLM
  file ships to every worker).  Above the gate the honest
  model-as-DataFrames path takes over: three hash joins on word keys
  (bigram, context unigram, current-token unigram) plus one per-doc
  aggregation — the standard shape for model-too-big-to-broadcast
  scoring, with the scalar pair (total token count, vocabulary size)
  attached via a one-row broadcast.  The 2M-row default is sized
  against PER-PYTHON-WORKER amplification, not the driver: every
  reused Python worker unpickles its own copy of the dicts, so
  ``local[32]`` holds up to 32 copies — 2M short-string gram rows are
  ~200-300 MB as Python dicts, which keeps even the 32-worker worst
  case within a few GB of the 128 GB box while covering every
  reference vocabulary the gates train.  Raise it only with matching
  worker memory.
* **Bucketing** (CCNet's head/middle/tail) is one global ``ntile``
  window ordered by ``(ppl, doc_id)`` — deterministic across engines
  and runs.

Determinism contract (mirrored by the DuckDB oracle in queries.py):
tokens are ``\\s+`` splits of trimmed lowercased text; the first token
of a document and every token whose context bigram is unseen score by
the smoothed backoff unigram ``alpha * (c(w) + 0.5) / (T + 0.5 * V)``
(alpha = 0.4, Brants' constant; the add-half term keeps OOV tokens
finite); seen bigrams score ``c(prev, w) / c(prev)``.  Document score
is the mean log, perplexity ``exp(-mean)``, both rounded before
comparison so last-ulp float ordering differences between engines
cannot flip a hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["BACKOFF_ALPHA", "lm_train_counts", "lm_score",
           "lm_broadcast_model", "lm_buckets", "lm_bucket_thresholds",
           "lm_buckets_by_threshold"]

BACKOFF_ALPHA = 0.4

# bigram keys are the two tokens joined on a separator no \s+ token can
# contain
_SEP = "\x1f"


def _tokens(text) -> Column:
    t = text if isinstance(text, Column) else F.col(text)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    return F.filter(toks, lambda w: F.length(w) > 0)


def lm_train_counts(
    ref: DataFrame,
    *,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram stupid-backoff model on the reference corpus:
    returns ``(unigrams, bigrams, scalars)`` DataFrames —
    ``(w, cu)``, ``(bg, cb)`` and one row of ``(total, vocab)``.

    ONE corpus scan: unigrams and bigrams are generated side by side
    inside the projection (tagged by order) and share a single
    groupBy; the vocab-sized counts table is then ``localCheckpoint``
    -materialized so the three scoring joins — and any re-training
    caller — never re-explode the reference corpus."""
    toks = _tokens(text_col)
    base = (ref.where(F.col(text_col).isNotNull())
            .select(toks.alias("_toks")))
    bigrams = F.when(F.size("_toks") >= 2, F.transform(
        F.slice("_toks", 1, F.size("_toks") - 1),
        lambda w, i: F.concat(w, F.lit(_SEP),
                              F.col("_toks")[i + 1]),
    )).otherwise(F.array().cast("array<string>"))
    grams = (base.select(F.explode(F.concat(
        F.transform("_toks", lambda w: F.struct(
            F.lit(1).alias("n"), w.alias("g"))),
        F.transform(bigrams, lambda b: F.struct(
            F.lit(2).alias("n"), b.alias("g"))),
    )).alias("t"))
        .groupBy(F.col("t.n").alias("n"), F.col("t.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True))
    uni = grams.where(F.col("n") == 1) \
               .select(F.col("g").alias("w"), F.col("c").alias("cu"))
    big = grams.where(F.col("n") == 2) \
               .select(F.col("g").alias("bg"), F.col("c").alias("cb"))
    scalars = uni.agg(F.sum("cu").alias("total"),
                      F.count(F.lit(1)).alias("vocab"))
    return uni, big, scalars


class LmBroadcastModel:
    """A driver-collected stupid-backoff model wrapped in a Spark
    broadcast — the CCNet deployment shape (the KenLM file ships to
    every worker).  Produced by :func:`lm_broadcast_model`; consumed by
    ``lm_score(..., broadcast_model=...)``."""

    __slots__ = ("bc",)

    def __init__(self, bc):
        self.bc = bc


def lm_broadcast_model(
    uni: DataFrame,
    big: DataFrame,
    *,
    max_rows: int = 2_000_000,
) -> LmBroadcastModel | None:
    """Collect the model tables into one worker-side broadcast when
    they fit (``uni`` + ``big`` row count <= ``max_rows``); return
    ``None`` when they don't, so callers fall back to the join-based
    scorer.

    One Spark action over the tagged union of the two tables: a
    ``limit(max_rows + 1)`` read as Arrow, which stops one row past
    the gate instead of reading both tables in full; holding more than
    ``max_rows`` rows means the model does not fit.  The scalar pair
    (total token count, vocabulary size) is summed on the driver from
    the unigram rows.  A token-less reference corpus has no unigram rows
    and also returns ``None``: the join path yields its degenerate-model
    NULL scores.

    Scale rationale: CCNet's own production scorer ships the trained
    LM to every worker rather than joining against it — broadcasting
    is the published design whenever the model fits worker memory.
    The size gate keeps the honest model-as-DataFrames join path for
    web-scale vocabularies that outgrow a broadcast (the regime the
    module docstring describes); 2M gram rows ~ low hundreds of MB,
    well past Spark's 10 MB auto-broadcast join ceiling that would
    otherwise force the three scoring joins to shuffle every token
    row."""
    grams = uni.select(F.lit(1).alias("n"), F.col("w").alias("g"),
                       F.col("cu").alias("c")).unionByName(
        big.select(F.lit(2).alias("n"), F.col("bg").alias("g"),
                   F.col("cb").alias("c")))
    tbl = grams.limit(max_rows + 1).toArrow()
    if tbl.num_rows > max_rows:
        return None
    unid, bigd = {}, {}
    for n, g, c in zip(*(col.to_pylist() for col in tbl.columns)):
        (unid if n == 1 else bigd)[g] = c
    if not unid:
        return None
    sc = uni.sparkSession.sparkContext
    return LmBroadcastModel(
        sc.broadcast((unid, bigd, sum(unid.values()), len(unid))))


def _lm_score_arrow(
    docs: DataFrame,
    model: LmBroadcastModel,
    *,
    text_col: str,
    id_col: str,
    alpha: float,
) -> DataFrame:
    """Broadcast-model scoring: ONE ``mapInPandas`` pass over the
    corpus — zero joins, zero exchanges (vs posexplode + three joins +
    a per-doc aggregation exchange + a corpus-sized re-join in the
    join path).

    Value parity with the join path: tokenization stays IN SPARK (the
    same ``_tokens`` Column feeds the kernel, so no Java-vs-Python
    regex/lowercasing semantics can diverge); per-token log-probs use
    the identical float64 expression order; the per-doc sum
    accumulates in token-position order from 0.0 exactly like the
    join path's ``avg`` over position-ordered rows.  The only
    permitted divergence is the last ulp of ``log`` between libm and
    the JVM — the class the module's rounding contract (round before
    compare) absorbs by design."""
    from math import log

    import pandas as pd

    bc = model.bc
    sep = _SEP
    toks_col = F.when(F.col(text_col).isNotNull(), _tokens(text_col))
    inp = docs.select(F.col(id_col).alias("_id"),
                      toks_col.alias("_toks"))
    id_type = docs.schema[id_col].dataType.simpleString()

    def score(batches):
        unid, bigd, total, vocab = bc.value
        denom = total + 0.5 * vocab
        for pdf in batches:
            ids, ns, avgs = [], [], []
            for did, toks in zip(pdf["_id"], pdf["_toks"]):
                if toks is None or len(toks) == 0:
                    ids.append(did)
                    ns.append(0)
                    avgs.append(None)
                    continue
                acc = 0.0
                prev = None
                for w in toks:
                    lp = None
                    if prev is not None:
                        cb = bigd.get(prev + sep + w)
                        cprev = unid.get(prev)
                        if cb is not None and cprev is not None:
                            lp = log(cb / cprev)
                    if lp is None:
                        lp = log(alpha * (unid.get(w, 0) + 0.5) / denom)
                    acc += lp
                    prev = w
                ids.append(did)
                ns.append(len(toks))
                avgs.append(acc / len(toks))
            yield pd.DataFrame({
                "_id": pd.Series(ids),
                "n_tokens": pd.Series(ns, dtype="int64"),
                # object dtype so None survives as SQL NULL
                "_avg": pd.Series(avgs, dtype="object"),
            })

    scored = inp.mapInPandas(
        score, schema=f"_id {id_type}, n_tokens long, _avg double")
    avg_r = F.round("_avg", 6)
    return scored.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        avg_r.alias("avg_logprob"),
        F.round(F.exp(-avg_r), 4).alias("ppl"))


def lm_score(
    docs: DataFrame,
    uni: DataFrame,
    big: DataFrame,
    scalars: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = BACKOFF_ALPHA,
    broadcast_model: object = "auto",
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Per-document LM score: ``(id_col, n_tokens, avg_logprob, ppl)``.
    Token-less documents keep ``n_tokens = 0`` and NULL scores.

    ``broadcast_model`` picks the scoring engine:

    * ``"auto"`` (default) — collect + broadcast the model when it has
      <= ``broadcast_max_rows`` gram rows (:func:`lm_broadcast_model`)
      and score through one ``mapInPandas`` pass; fall back to the
      join path when it doesn't fit.
    * an :class:`LmBroadcastModel` — reuse an already-collected model
      (the streaming sink hoists the collect out of its per-batch
      loop this way).
    * ``False`` — always the join path: three left hash joins against
      the model tables (never collected), one scalar broadcast, one
      per-doc aggregation.  The honest shape for models too large for
      any worker's memory."""
    bm = broadcast_model
    if bm == "auto":
        bm = lm_broadcast_model(uni, big, max_rows=broadcast_max_rows)
    if isinstance(bm, LmBroadcastModel):
        return _lm_score_arrow(docs, bm, text_col=text_col,
                               id_col=id_col, alpha=alpha)
    # a lag() window would cost an extra per-doc shuffle — the bigram
    # context is derived from the token ARRAY inside the projection
    # instead, so token rows leave the scan already carrying their key
    tok = (docs.where(F.col(text_col).isNotNull())
           .select(F.col(id_col).alias("_id"),
                   _tokens(text_col).alias("_toks"))
           .select("_id", F.posexplode(F.transform(
               "_toks",
               lambda w, i: F.struct(
                   w.alias("w"),
                   F.when(i > 0, F.concat(F.col("_toks")[i - 1],
                                          F.lit(_SEP), w))
                   .alias("bg"),
                   F.when(i > 0, F.col("_toks")[i - 1]).alias("pw"),
           ))).alias("pos", "t"))
           .select("_id", "pos", "t.w", "t.bg", "t.pw"))
    j = (tok
         .join(big, on="bg", how="left")
         .join(uni.select(F.col("w").alias("pw"),
                          F.col("cu").alias("cprev")),
               on="pw", how="left")
         .join(uni, on="w", how="left")
         .join(F.broadcast(scalars)))
    backoff = F.log(
        F.lit(alpha) * (F.coalesce("cu", F.lit(0)) + 0.5)
        / (F.col("total") + 0.5 * F.col("vocab")))
    logp = F.when(F.col("cb").isNotNull() & F.col("cprev").isNotNull(),
                  F.log(F.col("cb") / F.col("cprev"))) \
            .otherwise(backoff)
    per_doc = (j.groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.avg(logp).alias("_avg")))
    out = (docs.select(F.col(id_col))
           .join(per_doc.withColumnRenamed("_id", id_col),
                 on=id_col, how="left"))
    avg_r = F.round("_avg", 6)
    return out.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        avg_r.alias("avg_logprob"),
        F.round(F.exp(-avg_r), 4).alias("ppl"))


def lm_buckets(
    scored: DataFrame,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet's head/middle/tail split: ``ntile(n_buckets)`` over
    ``(ppl ASC, id ASC)`` across the scored documents (ties broken by
    id so the split is deterministic on every engine).  Unscored
    (token-less) documents keep a NULL bucket.

    Scale note: a global ntile is a total sort — exact, and the right
    gate semantics; at 100 TB use :func:`lm_bucket_thresholds` +
    :func:`lm_buckets_by_threshold` instead (one quantile-sketch pass,
    then a map-side compare — no sort anywhere).

    Implementation: ``ntile`` restated as arithmetic over
    ``row_number`` + the non-null count in ONE window pass with nulls
    sorted last, instead of filter + ntile + self-join back — the
    self-join consumed the scored subtree twice, which re-executed the
    whole scoring scan when the scorer has no exchange for Spark to
    reuse (the broadcast-model Arrow path).  For ``c`` scored rows and
    ``n`` buckets, ntile gives the first ``c mod n`` buckets
    ``c div n + 1`` rows and the rest ``c div n``; with the identical
    ``(ppl ASC, id ASC)`` total order (unique by the id tiebreak) the
    arithmetic reproduces ntile's assignment exactly — pinned
    row-for-row against ``F.ntile`` by
    tests/test_llm.py::test_lm_buckets_matches_ntile."""
    w = Window.orderBy(F.asc_nulls_last("ppl"), F.asc(id_col))
    wc = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    rn = F.row_number().over(w)
    c = F.count("ppl").over(wc)  # non-null ppl count; nulls sort last
    q = (c / n_buckets).cast("long")
    r = c % n_buckets
    head = r * (q + 1)
    bucket = F.when(rn <= head, (rn - 1) / (q + 1)) \
              .otherwise(r + (rn - head - 1) / q)
    return scored.withColumn(
        "ppl_bucket",
        F.when(F.col("ppl").isNotNull(),
               bucket.cast("long") + 1).cast("int"))


def lm_bucket_thresholds(
    scored: DataFrame,
    *,
    n_buckets: int = 3,
    relative_error: float = 1e-4,
) -> list[float]:
    """The sort-free production alternative to :func:`lm_buckets`:
    compute the ``n_buckets - 1`` approximate ppl quantile cutoffs
    once (Greenwald-Khanna sketch — one pass, mergeable, no total
    sort), then assign buckets map-side by comparison.  Buckets are
    equal-sized only up to sketch error and boundary ties — the trade
    CCNet itself makes at scale."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    return scored.where(F.col("ppl").isNotNull())                  .approxQuantile("ppl", probs, relative_error)


def lm_buckets_by_threshold(
    scored: DataFrame,
    thresholds: list[float],
) -> DataFrame:
    """Assign ``ppl_bucket`` map-side from precomputed cutoffs (see
    :func:`lm_bucket_thresholds`): bucket = 1 + #(cutoffs < ppl).
    Zero shuffles — the whole assignment lives in the scan
    projection."""
    b = F.lit(1)
    for t in thresholds:
        b = b + F.when(F.col("ppl") > float(t), 1).otherwise(0)
    return scored.withColumn(
        "ppl_bucket",
        F.when(F.col("ppl").isNotNull(), b).cast("int"))
