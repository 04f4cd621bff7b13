"""Similarity search over embedding columns (``array<float>``).

Tiers:

* :func:`knn_bruteforce` — exact cosine top-k: the (small) query set
  rides the scoring task's closure and every corpus vector crosses the
  Python boundary once, so the corpus never shuffles.  Cost is
  O(|corpus| x |queries|) — the right baseline, and the right plan when
  queries are few.
* :func:`knn_lsh` — random-hyperplane LSH: signatures computed map-side,
  candidates restricted to matching buckets, exact cosine only within
  buckets.  At 100 TB the shuffle carries (bucket, vec_id, embedding) for
  bucketed candidates only — never the full cross product.
* :func:`knn_ivf` / :func:`knn_ivfpq` — inverted-file and product-
  quantized indexes over a k-means codebook (:func:`kmeans_fit`,
  :func:`pq_fit`).

All vector math runs in vectorized Arrow batch kernels (``pandas_udf`` /
``mapInPandas``).  Every dot product whose result a SQL oracle restates
— cosines, LSH sign bits, projections — uses ONE evaluation order,
:func:`_seq_dot64`'s ``acc = ((0.0 + x_0*y_0) + x_1*y_1) + ...`` in
float64, so the outputs are bit-reproducible across engines.  A NULL
vector enters every kernel as a NaN row (:func:`_f64_rows`): its
cosines come out SQL NULL (ranked after every real cosine), its LSH
bits are 0, and its projection is all NULL.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import local_frame

__all__ = ["pair_cosine_arrow", "knn_bruteforce", "knn_lsh", "knn_ivf",
           "Codebook", "kmeans_fit", "pq_fit", "pq_encode", "knn_ivfpq",
           "random_projection"]


def _f64_rows(vs, dim: int | None = None,
              what: str = "embeddings") -> "np.ndarray":
    """Stack a pandas Series of float vectors into an (n, d) float64
    matrix (float32 -> float64 widening is exact).

    NULL-safe: a NULL vector becomes a NaN row, so every fold over it is
    NaN — a NaN cosine crosses the Arrow boundary as SQL NULL, and
    ``NaN >= 0`` is false (LSH bit 0).  ``d`` is ``dim`` when given (the
    width a kernel folds against), else the first non-NULL vector's
    length (0 when every vector is NULL).  Ragged vectors, or vectors
    whose length is not ``dim``, raise naming ``what``."""
    notna = vs.notna().to_numpy()
    X = np.zeros((0, dim or 0))
    if notna.any():
        try:
            X = np.stack(vs[notna].to_numpy()).astype(np.float64, copy=False)
        except ValueError as exc:
            raise ValueError(f"ragged {what}: {exc}") from exc
        if dim is not None and X.shape[1] != dim:
            raise ValueError(
                f"embedding dimension mismatch: {what} have "
                f"{X.shape[1]} dims, expected {dim}")
    if notna.all():
        return X
    M = np.full((len(vs), X.shape[1]), np.nan)
    M[notna] = X
    return M


def _seq_dot64(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Row-wise dot product in ONE fixed float evaluation order:
    ``acc = ((0.0 + a_0*b_0) + a_1*b_1) + ...`` in float64, left to
    right over the array index — the order the SQL oracles restate.
    Vectorized ACROSS rows, sequential across dimensions (numpy's own
    ``sum``/``@`` use pairwise/BLAS reassociation and would drift in
    the last ulp — enough to flip an LSH sign on an adversarial vector
    or a rounded 6th decimal at a boundary)."""
    acc = np.zeros(len(A))
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def _seq_dot64_rows(X: "np.ndarray", P: "np.ndarray") -> "np.ndarray":
    """(rows x len(P)) matrix of :func:`_seq_dot64` folds of every row
    of ``X`` against every row of ``P`` (hyperplanes / projection
    rows), bit-identical to folding each pair on its own."""
    out = np.empty((len(X), len(P)))
    for i, p in enumerate(P):
        out[:, i] = _seq_dot64(X, np.broadcast_to(p, X.shape))
    return out


def pair_cosine_arrow(a, b) -> Column:
    """Cosine of two vector Columns, row by row — one vectorized batch
    kernel: :func:`_seq_dot64` folds and the scalar tree
    ``dot / (sqrt(na) * sqrt(nb))``.  A NULL or zero-norm vector on
    either side scores NULL (see :func:`_f64_rows`).

    The UDF is marked non-deterministic (it is not — the kernel is
    bit-reproducible) PURELY to stop the optimizer duplicating it:
    when a filter consumes the scored column (the ``>= threshold``
    verify in ``embedding_near_duplicates``), filter pushdown
    otherwise clones the UDF below the filter and every surviving pair
    pays the kernel twice — measured as a 2x ArrowEvalPython plan
    (plans/r16/dedup_embed) and the standard workaround for this
    optimizer behaviour."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        A = _f64_rows(av)
        B = _f64_rows(bv, A.shape[1] or None)
        return pd.Series(
            _seq_dot64(A, B)
            / (np.sqrt(_seq_dot64(A, A)) * np.sqrt(_seq_dot64(B, B))))

    _cos = _cos.asNondeterministic()
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cos(a, b)


def _rank_top_k(cand: DataFrame, k: int) -> DataFrame:
    """``query_id, neighbor_id, cos_sim, rank``: each query's ``k``
    best candidates by cosine descending (a NULL cosine last), ties to
    the lower neighbor id — the ranking every search tier ends in."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def knn_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_max_queries: int = 8192,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` is a (small) subset with the same schema.  Returns
    ``query_id, neighbor_id, cos_sim, rank`` (self-matches excluded,
    ties broken by neighbor id).

    The query set is the contract's "small" side, so no pairs are
    materialized at all: the query block is a driver-collected closure
    literal (NOTE: the query set is collected EAGERLY, at call time,
    not at action time), each corpus vector crosses the Python boundary
    ONCE (not once per query), the kernel scores it against every query
    with the same ascending-index float64 accumulation as
    :func:`_seq_dot64` (bit-identical cosines), and each task emits
    only its per-query top-k candidates — the final rank shuffles
    ``n_tasks x n_queries x k`` candidate rows instead of
    ``|corpus| x |queries|`` pairs carrying two vectors each.  Partial
    top-k per task then global top-k is exact because the ordering
    ``(cos DESC, neighbor_id ASC)`` is total and deterministic.

    The collect is SIZE-GATED (same pattern as
    ``lm_broadcast_model``): at most ``broadcast_max_queries`` query
    rows are pulled to the driver; one row more and the call scores
    pair by pair after a cross join instead of risking driver/worker
    memory (the scoring kernel holds an (arrow-batch-rows x n_queries)
    float64 block per task, so 8192 queries x 10k-row batches is
    ~650 MB — the ceiling of comfortable).

    A NULL embedding on either side scores NULL ``cos_sim`` (ordered
    after every real cosine, ties by neighbor id) on both paths; a
    ragged embedding (dimension mismatch) raises with a clear message.
    """
    batch = _knn_bruteforce_batch(
        emb, queries, k, id_col=id_col, vec_col=vec_col,
        max_queries=broadcast_max_queries)
    if batch is not None:
        return batch
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    j = (emb.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("_nvec"))
         .crossJoin(q)
         .filter(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("cos_sim", pair_cosine_arrow("_qvec", "_nvec")))
    return _rank_top_k(j, k)


def _knn_bruteforce_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    max_queries: int = 8192,
) -> DataFrame | None:
    """Pair-free brute-force top-k (see :func:`knn_bruteforce`).
    Returns ``None`` when the query set exceeds ``max_queries`` rows,
    so the caller can fall back to the pair-join path instead of
    collecting an unbounded frame to the driver.

    Scoring reproduces the pair kernel bit for bit: the dot/norm
    accumulators advance in ascending array-index order in float64
    (:func:`_seq_dot64`'s order; IEEE multiply is commutative so
    ``n_j * q_j`` == ``q_j * n_j`` bitwise), and the cosine is the same
    ``dot / (sqrt(qq) * sqrt(nn))`` scalar tree.  Candidate selection
    mirrors Spark's ``(cos DESC, neighbor_id ASC)`` window ordering.
    A zero-norm vector scores NaN, and a kernel NaN becomes SQL NULL
    at the Arrow boundary (the pair kernel this path replaced coerced
    identically), so the window's ``DESC NULLS LAST`` puts such pairs
    AFTER every real cosine — the selection keys NaN as ``-inf``
    (ties by neighbor id) to match.  A NULL embedding is a NaN row in
    the kernel (:func:`_f64_rows`), which lands in the same NULLS-LAST
    regime."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    # size-gated collect: pull at most max_queries + 1 rows; one row
    # over the gate means "too big to broadcast" and the caller keeps
    # the join path (mirrors lm_broadcast_model's max_rows gate)
    qrows = (queries.select(F.col(id_col), F.col(vec_col))
             .limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        return None
    out_schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("neighbor_id", emb.schema[id_col].dataType),
        StructField("cos_sim", DoubleType()),
    ])
    if not qrows:
        return _rank_top_k(local_frame(emb.sparkSession, [], out_schema), k)
    qids = [r[0] for r in qrows]
    # a NULL query embedding becomes a NaN row: every candidate scores
    # NaN -> SQL NULL, ranked by neighbor id
    Qm = _f64_rows(pd.Series([r[1] for r in qrows], dtype=object),
                   what=f"query embeddings in column {vec_col!r}")
    dim = Qm.shape[1]
    qn = np.sqrt(_seq_dot64(Qm, Qm))
    n_q = len(qids)

    def _topk(batches):
        sc: list = [[] for _ in range(n_q)]   # per-query candidate scores
        ni: list = [[] for _ in range(n_q)]   # per-query candidate ids
        qid_arr = np.asarray(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            # dim 0: every query vector is NULL, so every cosine is NaN
            # whatever width the corpus has
            N = _f64_rows(pdf[vec_col], dim or None,
                          what=f"corpus embeddings in column {vec_col!r}")
            ids = pdf[id_col].to_numpy()
            nn = np.zeros(len(N))
            S = np.zeros((len(N), n_q))
            for j in range(dim):
                col = N[:, j]
                nn += col * col
                S += col[:, None] * Qm[:, j][None, :]
            S /= qn[None, :] * np.sqrt(nn)[:, None]
            valid = ids[:, None] != qid_arr[None, :]
            for qi in range(n_q):
                v = valid[:, qi]
                if not v.any():
                    continue
                s, nb = S[v, qi], ids[v]
                # kernel NaN -> SQL NULL at the Arrow boundary; the
                # window is DESC NULLS LAST, so key NaN as -inf
                key = np.where(np.isnan(s), -np.inf, s)
                top = np.lexsort((nb, -key))[:k]
                sc[qi].append(s[top])
                ni[qi].append(nb[top])
        out_q, out_n, out_s = [], [], []
        for qi in range(n_q):
            if not sc[qi]:
                continue
            s = np.concatenate(sc[qi])
            nb = np.concatenate(ni[qi])
            key = np.where(np.isnan(s), -np.inf, s)
            top = np.lexsort((nb, -key))[:k]
            out_q.extend([qids[qi]] * len(top))
            out_n.extend(nb[top].tolist())
            out_s.extend(s[top].tolist())
        if out_q:
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "cos_sim": out_s})

    cand = (emb.select(F.col(id_col), F.col(vec_col))
            .mapInPandas(_topk, schema=out_schema))
    return _rank_top_k(cand, k)


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def knn_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: candidates limited to vectors sharing an
    LSH bucket with the query in at least one of ``n_tables`` hash tables
    (multi-probe via independent plane sets).

    Plan shape at scale: corpus signatures computed map-side (one narrow
    projection), exploded to (table, bucket) keys, shuffled once on the
    bucket key; queries likewise; the join touches only matching buckets.
    Recall is tunable via n_planes (bucket granularity) x n_tables
    (probes).

    Bucket ids are ``sign(v . h_i)`` bits packed into an int (bit ``i``
    set when the dot is ``>= 0``): vectors with small angular distance
    collide with probability ``(1 - theta/pi)^n_planes``.  The
    hyperplanes are deterministic driver-seeded values, and both the
    signature dots and the candidate cosines use the order-preserving
    :func:`_seq_dot64` fold, so a SQL oracle re-derives every sign
    decision and every cosine bit for bit.  A NULL vector lands in
    bucket 0 of every table and scores NULL against its candidates.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray([_planes(dim, n_planes, seed + t)
                    for t in range(n_tables)])  # (tables, planes, dim)
    weights = np.int32(1) << np.arange(n_planes, dtype=np.int32)

    @pandas_udf("array<int>")
    def _sigs(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        X = _f64_rows(vs, dim)
        out = np.stack([(_seq_dot64_rows(X, P[t]) >= 0.0) @ weights
                        for t in range(n_tables)], axis=1)
        return pd.Series(list(out.astype(np.int32)))

    def with_buckets(df: DataFrame, idn: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idn),
            F.col(vec_col).alias(f"_{idn}_vec"),
            F.posexplode(_sigs(F.col(vec_col))).alias("table", "bucket"),
        )

    e = with_buckets(emb, "neighbor_id")
    q = with_buckets(queries, "query_id")
    # cosine is computed BEFORE the pair-dedup so the dedup exchange
    # carries (query_id, neighbor_id, cos_sim) — one double per pair —
    # instead of two dim-sized arrays; a pair colliding in t tables costs
    # t map-side dot products (identical doubles), far cheaper at scale
    # than shuffling the vectors
    pair_cos = pair_cosine_arrow("_query_id_vec", "_neighbor_id_vec")
    cand = (
        e.join(q, on=["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", pair_cos)
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return _rank_top_k(cand, k)


@dataclass(frozen=True, eq=False)
class Codebook:
    """A coarse (IVF) codebook held on the driver: ``ids`` (int64,
    ascending) and ``vecs``, the id-ordered (C, d) float64 centroid
    matrix (both copied and read-only).  The row norms, the
    unit-normalised matrix ``unit`` and the cosine scorer are derived
    once here; every consumer
    (:func:`knn_ivf`, :func:`pq_fit`, :func:`pq_encode`,
    :func:`knn_ivfpq`, :func:`~xclim_spark.llm.dedup.semantic_dedup`)
    carries the value in its task closures, so a codebook costs no
    Spark action after it is built.  Build one with :meth:`of` from a
    :func:`kmeans_fit` matrix, or :meth:`from_frame` from rows."""

    ids: np.ndarray
    vecs: np.ndarray
    norms: np.ndarray = field(init=False, repr=False)
    unit: np.ndarray = field(init=False, repr=False)

    def __post_init__(self):
        ids = np.array(self.ids, dtype=np.int64)
        vecs = np.array(self.vecs, dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        unit = vecs / np.maximum(norms[:, None], 1e-30)
        for name, a in (("ids", ids), ("vecs", vecs), ("norms", norms),
                        ("unit", unit)):
            a.setflags(write=False)
            object.__setattr__(self, name, a)

    @classmethod
    def of(cls, matrix) -> "Codebook":
        """Cells ``0..C-1`` over the rows of a (C, d) matrix."""
        return cls(np.arange(len(matrix)), matrix)

    @classmethod
    def from_frame(cls, df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> "Codebook":
        """Collect a (small, driver-bounded) ``(id, vector)`` frame —
        one Spark action.  Rows with a NULL id or a NULL vector are
        skipped (the rule :func:`kmeans_fit` applies to its training
        rows); duplicate ids, mixed dimensions and an empty codebook
        raise ``ValueError``."""
        rows = sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in df.select(id_col, vec_col).collect()
            if r[0] is not None and r[1] is not None)
        ids = np.array([i for i, _ in rows], dtype=np.int64)
        dup = np.unique(ids[1:][ids[1:] == ids[:-1]]).tolist()
        dims = sorted({len(v) for _, v in rows})
        bad = ("no row has a non-NULL id and vector" if not rows
               else f"duplicate ids {dup[:5]}" if dup
               else f"vectors of mixed dimensions {dims}" if len(dims) > 1
               else None)
        if bad:
            raise ValueError(f"codebook over {id_col!r}: {bad}")
        return cls(ids, [v for _, v in rows])

    def scores(self, X: np.ndarray) -> np.ndarray:
        """(rows x cells) cosine matrix of an (n, d) float64 matrix —
        one BLAS matmul.  A NaN row (a NULL vector, :func:`_f64_rows`)
        scores NaN everywhere, so ``np.argmax`` gives it the lowest
        cell id and a stable descending ``argsort`` probes cells in
        ascending id order."""
        return (X @ self.vecs.T) / (
            np.linalg.norm(X, axis=1, keepdims=True) * self.norms)


def _cell_udfs(cb: Codebook, nprobe: int = 1):
    """The ``(cell, probe_cells)`` pandas UDFs over a codebook: a
    vector's nearest-cosine cell id (ties to the lowest id), and its
    ``nprobe`` nearest."""
    from pyspark.sql.functions import pandas_udf

    dim = cb.vecs.shape[1]

    @pandas_udf("bigint")
    def _cell(vs: pd.Series) -> pd.Series:
        # np.argmax takes the first maximum -> lowest centroid id
        return pd.Series(
            cb.ids[np.argmax(cb.scores(_f64_rows(vs, dim)), axis=1)])

    # non-deterministic marking (the scorer is in fact reproducible)
    # stops the optimizer cloning the assignment UDF below the join-key
    # null filter: the captured plans evaluated _cell TWICE over the
    # whole corpus (plans/r16/knn_ivf_docs_before.txt, and
    # knn_ivfpq_docs_before.txt nodes 6+10) — the §4.4 filter-pushdown
    # duplication, here on the expensive side
    _cell = _cell.asNondeterministic()

    @pandas_udf("array<bigint>")
    def _probe_cells(vs: pd.Series) -> pd.Series:
        # stable argsort of -scores: ties keep ascending centroid order
        order = np.argsort(-cb.scores(_f64_rows(vs, dim)), axis=1,
                           kind="stable")
        return pd.Series(list(cb.ids[order[:, :nprobe]]))

    return _cell, _probe_cells


def knn_ivf(
    emb: DataFrame,
    queries: DataFrame,
    centroids: Codebook,
    k: int = 5,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every corpus vector to its nearest centroid cell; a query probes only
    its ``nprobe`` nearest cells and ranks candidates there by exact
    cosine.

    ``centroids`` is the coarse :class:`Codebook` — in production
    ``Codebook.of`` over a :func:`kmeans_fit` matrix; any deterministic
    subset (``Codebook.from_frame``) works for the plumbing.  It rides
    the task closure, so cell assignment is a zero-shuffle map-side
    pandas stage: one BLAS matmul per Arrow batch
    scores every (vector, centroid) pair (an expression fold here was
    interpreted per element and went quadratic-feeling at 400 centroids
    — 111 s for 20k vectors; the matmul is milliseconds).  Ties pick the
    lowest centroid id, and the candidate COSINES come from the
    order-preserving kernel (:func:`pair_cosine_arrow`), so the discrete
    assignment plus the ranked output stay reproducible by the SQL
    oracle.  A NULL vector scores NULL and ranks after every real
    cosine (see :meth:`Codebook.scores` for its cell).  The only
    shuffles are the (cell)-keyed candidate join and the per-query rank
    — at 100 TB the corpus never moves except for the probed cells'
    rows.

    Returns ``query_id, neighbor_id, cos_sim, rank`` (approximate:
    neighbors outside probed cells are unseen, exactly like FAISS IVF).
    """
    _cell, _probe_cells = _cell_udfs(centroids, nprobe)

    asg = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec"),
        _cell(F.col(vec_col)).alias("cell"),
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"),
        F.explode(_probe_cells(F.col(vec_col))).alias("cell"),
    ).select("query_id", "_qvec", "cell")
    cand = (
        asg.join(qs, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_nvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_top_k(
        cand.withColumn("cos_sim", pair_cosine_arrow("_qvec", "_nvec")), k)


def _spread_init(
    emb: DataFrame, k: int, id_col: str, vec_col: str, cap: int,
) -> np.ndarray:
    """Deterministic k-means++-style init: farthest-first traversal
    (Gonzalez 1985) over a hash-spread sample.

    The sample is the ``cap`` rows with the smallest ``md5(id)`` — a
    uniform, order- and partitioning-independent draw that Spark
    executes as a TopK (``TakeOrderedAndProject``), never a full sort
    shuffle.  Seeded at the sample's minimum id, each next centroid is
    the sample point FARTHEST from the chosen set (ties to the lower
    id) — spread like k-means++ but with no RNG, so the codebook is
    bit-reproducible across runs, engines and partitionings.  Driver
    cost O(cap * k * d) on a metadata-sized sample.
    """
    rows = (emb.select(F.col(id_col).cast("long").alias("_i"), vec_col)
            .withColumn("_h", F.md5(F.col("_i").cast("string")))
            .orderBy("_h", "_i").limit(cap).collect())
    samp = sorted((int(r["_i"]), [float(x) for x in r[1]]) for r in rows)
    X = np.asarray([s[1] for s in samp], dtype=np.float64)
    if len(X) < k:
        raise ValueError(f"k={k} exceeds sample size {len(X)}")
    chosen = [0]  # samp is id-sorted: index 0 IS the minimum id
    d2 = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        if d2.max() == 0.0:
            # every remaining point coincides with a chosen centroid:
            # argmax would keep returning index 0 and silently emit
            # duplicate centroids (a degenerate sub-codebook whose
            # failure surfaces later as a generic error) — name the
            # actual distinct count instead
            raise ValueError(
                f"k={k} exceeds the number of distinct points in the "
                f"init sample ({len(chosen)} distinct of {len(X)} "
                "sampled); lower k or provide more varied data")
        nxt = int(np.argmax(d2))  # argmax first-max -> lowest id on tie
        chosen.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    return X[chosen].copy()


def _nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of each row of ``X``'s nearest row of ``C`` in squared
    euclidean distance, ties to the lowest index (``argmin`` takes the
    first minimum).  ``||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2`` with the
    per-row constant ``||x||^2`` dropped: one BLAS matmul."""
    return np.argmin(-2.0 * (X @ C.T) + (C * C).sum(axis=1), axis=1)


def _first_by_id(emb: DataFrame, k: int, id_col: str,
                 vec_col: str) -> np.ndarray:
    """The first ``k`` vectors by ascending id as a (k, d) matrix — the
    deterministic Lloyd init, stable across engines and
    partitionings."""
    first = [r[1] for r in sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in
        emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect())]
    if len(first) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(first)}")
    return np.asarray(first, dtype=np.float64)


def _lloyd(emb: DataFrame, books: np.ndarray, vec_col: str, iters: int,
           prep=None) -> tuple[np.ndarray, np.ndarray]:
    """Distributed Lloyd iterations over an ``(m, ks, dsub)`` codebook
    tensor: k-means run independently on each of ``m`` subspaces of
    ``dsub`` dims (``m=1`` is plain k-means).  Returns the trained
    tensor and the final iteration's ``(m, ks)`` code counts (zero when
    ``iters=0``).

    Plan shape per iteration (the classic MapReduce k-means):

    * **assign + partial-reduce map-side**: ONE ``mapInPandas`` pass
      assigns every Arrow batch to its nearest code in all ``m``
      subspaces (:func:`_nearest`, m small BLAS matmuls against the
      closure-shipped tensor) and reduces the batch to ``<= m x ks``
      rows of ``(subspace, code, count, component sums)`` — the corpus
      itself never shuffles, and it is scanned ``iters`` times
      whatever ``m`` is;
    * **tiny combine**: the partials collect to the driver and add up
      in collected-row order in numpy — the same
      driver-bounded-small-matrix design as ``kmeans_reduce_ensemble``;
      an empty code keeps its previous entry (the standard Lloyd
      fallback).

    Iteration stops after ``iters`` rounds or once no entry moves more
    than ``1e-6``.  ``prep`` maps each batch's (n, d) float64 matrix
    into the trained space first (PQ's normalised / residual space)."""
    m, ks, dsub = books.shape
    counts = np.zeros((m, ks))
    for _ in range(iters):
        B = books  # rebind: the closure ships THIS iteration's tensor

        def _partials(it, B=B):
            for pdf in it:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                if prep is not None:
                    X = prep(X)
                out = {"sub": [], "code": [], "n": [], "s": []}
                for j in range(m):
                    Xj = X[:, j * dsub:(j + 1) * dsub]
                    a = _nearest(Xj, B[j])
                    for c in np.unique(a):
                        msk = a == c
                        out["sub"].append(j)
                        out["code"].append(int(c))
                        out["n"].append(int(msk.sum()))
                        out["s"].append(
                            [float(v) for v in Xj[msk].sum(axis=0)])
                yield pd.DataFrame(out)

        rows = emb.select(vec_col).mapInPandas(
            _partials,
            "sub int, code int, n long, s array<double>").collect()
        counts = np.zeros((m, ks))
        sums = np.zeros((m, ks, dsub))
        for r in rows:
            counts[r["sub"], r["code"]] += r["n"]
            sums[r["sub"], r["code"]] += np.asarray(r["s"])
        new = np.where(counts[..., None] > 0,
                       sums / np.maximum(counts[..., None], 1), books)
        shift = float(np.abs(new - books).max())
        books = new
        if shift <= 1e-6:
            break
    return books, counts


def kmeans_fit(
    emb: DataFrame,
    k: int,
    *,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_counts: bool = False,
    init: str = "first",
):
    """Distributed Lloyd k-means over an embedding column — the
    training pass that produces the coarse codebook :func:`knn_ivf`
    and :func:`~xclim_spark.llm.dedup.semantic_dedup` consume.  One
    map-side assign + partial-reduce pass and a tiny driver combine
    per iteration: :func:`_lloyd` with a single subspace.

    Deterministic: with ``init="first"`` (default, the oracle-gated
    path) the init is the first ``k`` vectors by ascending ``id_col``
    (stable across engines and partitionings); ``init="spread"`` is a
    deterministic k-means++-style farthest-first init over a
    hash-spread sample of ``max(8192, 2k)`` vectors (see
    :func:`_spread_init`) — real corpora often store near-duplicates
    at adjacent ids, exactly the degenerate-cluster input "first"
    produces.  Assignment ties break to the lowest cluster index, and
    iteration stops after ``iters`` rounds or when no centroid moves
    more than ``1e-6``.

    Rows with a NULL vector or a NULL id take no part in training
    (neither the init nor any Lloyd pass).

    Returns the (k, d) centroid matrix as numpy — metadata-sized;
    :meth:`Codebook.of` makes it the ``centroids=`` value of the
    consumers.  With
    ``return_counts=True`` returns ``(centroids, counts)`` where
    ``counts`` is the final iteration's per-cluster membership.
    """
    emb = emb.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
    if init == "spread":
        cents = _spread_init(emb, k, id_col, vec_col, max(8192, 2 * k))
    elif init == "first":
        cents = _first_by_id(emb, k, id_col, vec_col)
    else:
        raise ValueError(
            f"kmeans_fit: init must be 'first' or 'spread' (got {init!r})")
    books, counts = _lloyd(emb, cents[None], vec_col, iters)
    return (books[0], counts[0]) if return_counts else books[0]


def _pq_space(X: np.ndarray, cent: Codebook | None = None, idx=None):
    """The space PQ codes live in: the rows of ``X`` unit-normalised
    and, with a :class:`Codebook` ``cent``, minus their
    cell's normalised centroid — the assigned (nearest-cosine) cell, or
    row ``idx`` of the id-sorted codebook when given (an ADC table's
    probed cell).  Returns ``(cell ids or None, vectors)``; training,
    encoding and the ADC tables all go through here, so codes always
    match their codebooks."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    if cent is None:
        return None, Xn
    if idx is None:
        idx = np.argmax(cent.scores(X), axis=1)
    return cent.ids[idx], Xn - cent.unit[idx]


def pq_fit(
    emb: DataFrame,
    *,
    m: int = 4,
    ks: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Codebook | None = None,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    *Product Quantization for Nearest Neighbor Search*, TPAMI): split
    the d-dim space into ``m`` subspaces of d/m dims and train an
    independent ``ks``-entry k-means codebook per subspace over the
    L2-NORMALIZED vectors (so squared-L2 ADC ranks like cosine:
    ``cos = 1 - ||a-b||^2 / 2`` on the unit sphere).

    One FUSED Lloyd loop (:func:`_lloyd`): each iteration is a single
    map-side pass over all m subspaces — m separate :func:`kmeans_fit`
    calls would scan the corpus ``m x iters`` times; this scans it
    ``iters`` times total, independent of m.

    Deterministic init: subspace slices of the first ``ks`` vectors by
    ascending id; rows with a NULL vector or a NULL id are skipped, as
    in :func:`kmeans_fit`.  Empty codes keep their previous entry
    (standard Lloyd fallback).  Returns the (m, ks, d/m) codebook
    tensor — metadata-sized (m*ks*(d/m) = ks*d doubles).

    With ``centroids`` (the coarse IVF :class:`Codebook`), codebooks
    are trained on RESIDUALS ``v/||v|| - c/||c||`` of each vector's
    assigned cell — Jégou et al.'s actual IVFADC scheme: residuals
    concentrate near the origin, so the same ks spends its precision
    on within-cell structure instead of re-coding the cell mean.
    """
    if not (2 <= ks <= 256):
        raise ValueError(f"pq: ks must be in [2, 256] (got {ks}) — codes "
                         "are stored as one byte per subspace")
    emb = emb.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())

    def _prep(X: np.ndarray) -> np.ndarray:
        return _pq_space(X, centroids)[1]

    X0 = _prep(_first_by_id(emb, ks, id_col, vec_col))
    dim = X0.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.stack([X0[:, j * dsub:(j + 1) * dsub] for j in range(m)])
    return _lloyd(emb, books, vec_col, iters, _prep)[0]


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    centroids: Codebook | None = None,
    cell_col: str = "pq_cell",
) -> DataFrame:
    """Map-side PQ encoding: each L2-normalized vector becomes ``m``
    one-byte codes (nearest codebook entry per subspace, ties to the
    lowest code) — d x 4-byte floats compress to m bytes, the memory
    step that makes a 100-TB ANN index fit executor RAM.  Pure
    Arrow ``pandas_udf``; zero shuffle.  Codes ride as
    ``array<smallint>`` (values 0..ks-1 <= 255).

    With ``centroids`` (a :class:`Codebook`, carried in the UDF
    closure) the vector is coarse-assigned first and the RESIDUAL
    against its normalized centroid (``Codebook.unit``) is coded
    (train the codebooks with the same ``centroids=``!); the
    assignment rides along as ``cell_col`` so index build needs ONE
    Arrow pass, not separate cell and code stages."""
    from pyspark.sql.functions import pandas_udf

    m, ks, dsub = codebooks.shape
    B = codebooks

    def _encode_np(X: np.ndarray):
        cells, R = _pq_space(X, centroids)
        return cells, np.stack(
            [_nearest(R[:, j * dsub:(j + 1) * dsub], B[j]).astype(np.int16)
             for j in range(m)], axis=1)

    if centroids is None:
        @pandas_udf("array<smallint>")
        def _codes(vs: pd.Series) -> pd.Series:
            if not len(vs):
                return pd.Series([], dtype=object)
            _, codes = _encode_np(_f64_rows(vs, m * dsub))
            return pd.Series(list(codes))

        return emb.select(
            F.col(id_col), F.col(vec_col),
            _codes(F.col(vec_col)).alias(out_col))

    @pandas_udf("struct<cell: bigint, codes: array<smallint>>")
    def _cell_codes(vs: pd.Series) -> pd.DataFrame:
        if not len(vs):
            return pd.DataFrame({"cell": [], "codes": []})
        cells, codes = _encode_np(_f64_rows(vs, m * dsub))
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    # non-deterministic marking (the encoder is in fact reproducible)
    # stops the optimizer cloning the UDF below a pushed-down filter:
    # when `cell` becomes a join key, the isnotnull(cell) null filter
    # otherwise re-evaluates the WHOLE corpus encode — centroid matmul,
    # residual subtraction and m sub-space argmins — a second time
    # (plans/r16/knn_ivfpq_res_docs_before.txt, nodes 6+9; the §4.4
    # filter-pushdown duplication already fixed on knn_ivf's _cell)
    _cell_codes = _cell_codes.asNondeterministic()

    enc = emb.select(
        F.col(id_col), F.col(vec_col),
        _cell_codes(F.col(vec_col)).alias("_cc"))
    return enc.select(
        id_col, vec_col,
        F.col("_cc.cell").alias(cell_col),
        F.col("_cc.codes").alias(out_col))


def knn_ivfpq(
    emb: DataFrame,
    queries: DataFrame,
    centroids: Codebook,
    codebooks: np.ndarray,
    k: int = 5,
    *,
    nprobe: int = 2,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011): the coarse
    quantizer prunes to ``nprobe`` cells, PQ codes rank the survivors
    by asymmetric distance, and only the ``shortlist`` best per query
    are re-ranked by EXACT cosine against their full vectors.
    ``centroids`` is the coarse :class:`Codebook`; building the plan
    makes no Spark action.

    ``residual=True`` is the paper's actual IVFADC: codes are over
    ``v/||v|| - c/||c||`` residuals (train ``codebooks`` with the
    same ``centroids=``!), and each query's ADC table is built per
    PROBED CELL from ``(q_n - c_n)`` — nprobe small tables instead of
    one, still metadata-sized.  Residuals concentrate near the
    origin, so quantization error drops and tight-shortlist recall
    rises (measured in tests).

    Plan shape at 100 TB:

    * corpus side: cell assignment + PQ encoding in one map-side pass —
      what shuffles to the cell join is (cell, id, m bytes of codes),
      never the d-dim vector;
    * query side: ``nprobe`` probed cells plus a per-query ADC table of
      m x ks squared-L2 entries to the codebook (normalized space, so
      the ordering is the cosine ordering) — metadata-sized, computed
      once per query, NOT per pair;
    * ADC per candidate is an m-term expression fold over the byte
      codes (JVM-side, no Python in the pair loop);
    * only shortlist survivors (|queries| x ``shortlist`` rows) fetch
      their full vectors back — one broadcast-able semi-join against
      the corpus — for the exact cosine re-rank.

    Approximate exactly like FAISS IVFPQ: neighbors outside probed
    cells or beyond the ADC shortlist are unseen; recall tunes with
    ``nprobe`` x ``shortlist`` (measured in tests).  Returns
    ``query_id, neighbor_id, cos_sim, rank``.
    """
    from pyspark.sql.functions import pandas_udf

    if index is not None and not residual:
        raise ValueError(
            "index= carries cell + residual codes (pq_encode with "
            "centroids=); probing it requires residual=True")
    m, ks, dsub = codebooks.shape
    B = codebooks
    _cell, _probe_cells = _cell_udfs(centroids, nprobe)

    def _adc_tables(R: np.ndarray) -> pd.Series:
        # flattened (m*ks) table per row: entry j*ks+c = ||r_j -
        # B[j][c]||^2 in the PQ space (_pq_space)
        if not len(R):
            return pd.Series([], dtype=object)
        tabs = np.empty((len(R), m * ks))
        for j in range(m):
            Rj = R[:, j * dsub:(j + 1) * dsub]
            Cj = B[j]
            tabs[:, j * ks:(j + 1) * ks] = (
                (Rj * Rj).sum(axis=1, keepdims=True)
                - 2.0 * (Rj @ Cj.T) + (Cj * Cj).sum(axis=1))
        return pd.Series(list(tabs))

    @pandas_udf("array<double>")
    def _adc_table(vs: pd.Series) -> pd.Series:
        return _adc_tables(_pq_space(_f64_rows(vs, m * dsub))[1])

    if residual:
        @pandas_udf("array<double>")
        def _adc_table_res(vs: pd.Series, cells: pd.Series) -> pd.Series:
            # the probed cell's row in the id-sorted codebook
            idx = np.searchsorted(centroids.ids, cells.to_numpy())
            return _adc_tables(
                _pq_space(_f64_rows(vs, m * dsub), centroids, idx)[1])

        # a pre-built (id, pq_cell, pq_codes) index — the streaming
        # ingest path maintains one incrementally (pq_encode with
        # centroids= inside each micro-batch) and probes it here — or
        # ONE Arrow pass building cell + residual codes for the corpus
        enc = index if index is not None else pq_encode(
            emb, codebooks, id_col=id_col, vec_col=vec_col,
            centroids=centroids)
        asg = enc.select(
            F.col(id_col).alias("neighbor_id"), "pq_codes",
            F.col("pq_cell").alias("cell"))
        qs = (queries.select(
                  F.col(id_col).alias("query_id"), F.col(vec_col),
                  F.explode(_probe_cells(F.col(vec_col))).alias("cell"))
              .select("query_id", "cell",
                      _adc_table_res(F.col(vec_col), F.col("cell"))
                      .alias("_tab")))
    else:
        enc = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col)
        asg = enc.select(
            F.col(id_col).alias("neighbor_id"), "pq_codes",
            _cell(F.col(vec_col)).alias("cell"))
        qs = queries.select(
            F.col(id_col).alias("query_id"),
            _adc_table(F.col(vec_col)).alias("_tab"),
            F.explode(_probe_cells(F.col(vec_col))).alias("cell"))
    # Each corpus vector lives in exactly ONE coarse cell, so the cell
    # join emits every (query, neighbor) pair at most once — no pair
    # dedup needed.  (An earlier groupBy(query, neighbor).min(adc)
    # here added a candidate-sized exchange for nothing: ~30% of probe
    # wall-clock at sf1, see PLANS.md round 14.)  The ADC fold runs in
    # the join's own projection, so the m*ks table is dropped before
    # anything shuffles.
    # m is known at plan time, so the ADC is a STATIC m-term sum —
    # whole-stage-codegen'd — not an `aggregate` fold over a sequence
    # (higher-order functions are interpreted; measured 2-3x slower on
    # the candidate stream)
    adc = None
    for j in range(m):
        term = F.element_at(
            "_tab", (F.lit(j * ks)
                     + F.element_at("pq_codes", F.lit(j + 1)) + 1
                     ).cast("int"))
        adc = term if adc is None else adc + term
    cand = (
        asg.join(qs, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
        .select("query_id", "neighbor_id", "adc")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id"))
    short = (cand.withColumn("_r", F.row_number().over(wa))
             .filter(F.col("_r") <= shortlist)
             .select("query_id", "neighbor_id"))
    # exact re-rank: fetch full vectors for the shortlist only (the
    # shortlist side is |queries| x shortlist rows — broadcast it)
    nvec = emb.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_nvec"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("_qvec"))
    rer = (nvec.join(F.broadcast(short), on="neighbor_id")
           .join(F.broadcast(qv), on="query_id")
           .withColumn("cos_sim", pair_cosine_arrow("_qvec", "_nvec")))
    return _rank_top_k(rer, k)


def random_projection(vec, dim: int, out_dim: int, seed: int = 42) -> Column:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims —
    the standard shrink step before ANN / clustering at 100 TB
    (pairwise distances survive within 1±eps for
    out_dim = O(log n / eps^2); Achlioptas 2003 for the database-
    friendly variants).

    The projection matrix is driver-seeded (``N(0,1)/sqrt(out_dim)``,
    the same plane machinery as :func:`knn_lsh`) and each output
    coordinate one :func:`_seq_dot64` fold, all ``out_dim`` of them in
    one vectorized Arrow batch kernel — zero shuffle, and
    bit-reproducible across runs/engines (a SQL oracle restates the
    identical values and sequential fold).  A NULL vector projects to
    ``out_dim`` NULLs."""
    from pyspark.sql.functions import pandas_udf

    v = F.col(vec) if isinstance(vec, str) else vec
    scale = 1.0 / float(np.sqrt(out_dim))
    P = np.asarray([[float(x) * scale for x in p]
                    for p in _planes(dim, out_dim, seed)])  # (out_dim, dim)

    @pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        return pd.Series(list(_seq_dot64_rows(_f64_rows(vs, dim), P)))

    return _proj(v)
