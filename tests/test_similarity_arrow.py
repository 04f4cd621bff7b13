"""Bit-exact checks of the vector kernels in llm/similarity.py
(pair_cosine_arrow, knn_bruteforce, knn_lsh signatures, knn_ivf,
knn_ivfpq, random_projection) and llm/dedup.py
(embedding_near_duplicates, semantic_dedup) against a test-local
pure-Python reference.

The kernels claim BIT-IDENTICAL results, not approximate ones: every
dot product is the left-to-right float64 fold
``acc = ((0.0 + x0*y0) + x1*y1) + ...`` (similarity._seq_dot64), the
order the DuckDB oracles restate, so LSH sign decisions, threshold
comparisons and rounded outputs cannot move.  The reference below is
that fold written out in plain Python; every comparison is ``==`` on
raw doubles.  The fixtures include near-zero dot products (the
adversarial case for sign stability), a float32 source column (the
widening-cast case) and NULL vectors (scored NULL, ranked last, LSH
bucket 0, all-NULL projection).
"""

import math

import numpy as np
import pytest


def _emb_df(spark, n=60, dim=16, seed=3, dtype="float", nulls=()):
    rng = np.random.RandomState(seed)
    vecs = rng.standard_normal((n, dim))
    # vecs[1]: Gram-Schmidt residual against vecs[0] — the exact dot is
    # float rounding noise within a few ulp of zero, the adversarial
    # case for sign/threshold parity between evaluation orders
    vecs[1] = vecs[1] - (vecs[1] @ vecs[0]) / (vecs[0] @ vecs[0]) * vecs[0]
    # vecs[2]: a near-parallel clone (cosine within 1e-13 of 1.0)
    vecs[2] = vecs[0] * (1 + 1e-13)
    rows = [(i, None if i in nulls else [float(x) for x in vecs[i]])
            for i in range(n)]
    return spark.createDataFrame(
        rows, f"vec_id LONG, embedding ARRAY<{dtype.upper()}>")


def _ref_dot(x, y):
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + a * b
    return acc


def _ref_cos(x, y):
    """Cosine as the kernels evaluate it; NULL for a NULL or zero-norm
    vector (a kernel NaN crosses the Arrow boundary as SQL NULL)."""
    if x is None or y is None:
        return None
    den = math.sqrt(_ref_dot(x, x)) * math.sqrt(_ref_dot(y, y))
    return _ref_dot(x, y) / den if den else None


def _ref_rank(cands, k):
    """``{query: [(neighbor, cos)]}`` -> ``{(query, rank): (neighbor,
    cos)}`` under ``cos DESC NULLS LAST, neighbor ASC``."""
    out = {}
    for q, lst in cands.items():
        lst = sorted(lst, key=lambda t: (t[1] is None, -(t[1] or 0.0),
                                         t[0]))
        for r, (nb, c) in enumerate(lst[:k], start=1):
            out[(q, r)] = (nb, c)
    return out


def _vecs(df):
    return {r["vec_id"]: r["embedding"] for r in df.collect()}


def _ranked(rows):
    return {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
            for r in rows}


def _ref_brute(vecs, qids, k, allowed=None):
    cands = {q: [(n, _ref_cos(vecs[q], v)) for n, v in vecs.items()
                 if n != q and (allowed is None or allowed(q, n))]
             for q in qids}
    return _ref_rank(cands, k)


def _ref_lsh_buckets(v, dim, n_planes, n_tables, seed=42):
    """Per-table bucket ids: bit i set when the plane-i fold is >= 0;
    a NULL vector (NaN fold, ``NaN >= 0`` false) is bucket 0."""
    from xclim_spark.llm.similarity import _planes

    out = []
    for t in range(n_tables):
        b = 0
        for i, p in enumerate(_planes(dim, n_planes, seed + t)):
            if v is not None and _ref_dot(v, p) >= 0.0:
                b |= 1 << i
        out.append(b)
    return out


def _ref_lsh(vecs, qids, k, dim, n_planes, n_tables):
    bk = {i: _ref_lsh_buckets(v, dim, n_planes, n_tables)
          for i, v in vecs.items()}
    return _ref_brute(
        vecs, qids, k,
        allowed=lambda q, n: any(a == b for a, b in zip(bk[q], bk[n])))


def _pair_cosines(e):
    from pyspark.sql import functions as F

    from xclim_spark.llm.similarity import pair_cosine_arrow

    pairs = (e.crossJoin(e.selectExpr("vec_id AS vb", "embedding AS eb"))
             .filter(F.col("vec_id") < F.col("vb")))
    return {(r["vec_id"], r["vb"]): r["c"] for r in pairs.select(
        "vec_id", "vb",
        pair_cosine_arrow(F.col("embedding"), F.col("eb")).alias("c"),
    ).collect()}


def _assert_bits(got, want):
    assert got.keys() == want.keys() and want
    for key, w in want.items():
        g = got[key]
        # bit-for-bit, not approx
        assert g == w, (key, g, w)


@pytest.mark.parametrize("dtype", ["float", "double"])
def test_pair_cosine_arrow_bit_parity(spark, dtype):
    e = _emb_df(spark, dtype=dtype)
    vecs = _vecs(e)
    want = {(a, b): _ref_cos(vecs[a], vecs[b])
            for a in vecs for b in vecs if a < b}
    _assert_bits(_pair_cosines(e), want)


def test_pair_cosine_null_vectors(spark):
    """A NULL vector on either side scores NULL; every other pair keeps
    its reference cosine (a NULL row used to crash the batch stack)."""
    e = _emb_df(spark, n=12, dim=8, nulls=(3, 7)).repartition(2)
    vecs = _vecs(e)
    want = {(a, b): _ref_cos(vecs[a], vecs[b])
            for a in vecs for b in vecs if a < b}
    got = _pair_cosines(e)
    _assert_bits(got, want)
    assert all(got[p] is None for p in got if 3 in p or 7 in p)


def test_knn_lsh_matches_reference(spark):
    """knn_lsh buckets plus top-k against the reference: with k above
    the corpus size the output IS the bucket-collision candidate set,
    so bucket membership is pinned as well as the ranked cosines."""
    from xclim_spark.llm.similarity import knn_lsh

    e = _emb_df(spark, n=80, dim=16)
    q = e.filter("vec_id % 10 = 0 OR vec_id = 1")
    vecs = _vecs(e)
    qids = [i for i in vecs if i % 10 == 0 or i == 1]
    for k in (3, 100):
        got = _ranked(knn_lsh(e, q, k=k, dim=16, n_planes=6,
                              n_tables=3).collect())
        _assert_bits(got, _ref_lsh(vecs, qids, k, 16, 6, 3))


def test_knn_lsh_null_vectors(spark):
    """A NULL vector lands in bucket 0 of every table and scores NULL:
    it ranks after every real cosine, and a NULL query ranks its
    bucket-0 candidates by id."""
    from xclim_spark.llm.similarity import knn_lsh

    e = _emb_df(spark, n=40, dim=8, nulls=(3, 7, 11))
    q = e.filter("vec_id IN (0, 3, 5)")
    vecs = _vecs(e)
    got = _ranked(knn_lsh(e, q, k=40, dim=8, n_planes=3,
                          n_tables=2).collect())
    want = _ref_lsh(vecs, [0, 3, 5], 40, 8, 3, 2)
    _assert_bits(got, want)
    assert any(nb == 3 for nb, _ in got.values())  # NULLs are candidates
    assert all(c is None for (qid, _), (_, c) in got.items() if qid == 3)


def test_knn_ivf_and_bruteforce_arrow_match(spark):
    """knn_bruteforce (batch path, and the pair-join path forced with
    ``broadcast_max_queries=0``) and knn_ivf against the reference.
    IVF cells come from the codebook's cosine scorer (cell assignment
    is a BLAS argmax, not an oracle-restated fold); the candidate
    cosines and ranks must match the reference bit for bit."""
    from xclim_spark.llm.similarity import (
        Codebook, knn_bruteforce, knn_ivf)

    e = _emb_df(spark, n=80, dim=16)
    q = e.filter("vec_id % 10 = 0")
    cents = Codebook.from_frame(e.filter("vec_id % 7 = 0"))
    vecs = _vecs(e)
    qids = [i for i in vecs if i % 10 == 0]
    want = _ref_brute(vecs, qids, 3)
    for gate in (8192, 0):
        _assert_bits(_ranked(knn_bruteforce(
            e, q, k=3, broadcast_max_queries=gate).collect()), want)

    cids = cents.ids
    ids = list(vecs)
    sc = cents.scores(np.array([vecs[i] for i in ids]))
    cell = dict(zip(ids, cids[np.argmax(sc, axis=1)]))
    probes = {i: set(cids[np.argsort(-sc[j], kind="stable")[:2]])
              for j, i in enumerate(ids)}
    want_ivf = _ref_brute(vecs, qids, 3,
                          allowed=lambda qq, n: cell[n] in probes[qq])
    _assert_bits(_ranked(knn_ivf(e, q, cents, k=3, nprobe=2).collect()),
                 want_ivf)


def test_knn_bruteforce_join_null_embeddings(spark):
    """The pair-join path (query set over the collect gate) scores a
    NULL vector NULL and ranks it last, exactly like the batch path."""
    from xclim_spark.llm.similarity import knn_bruteforce

    e = _emb_df(spark, n=12, dim=8, nulls=(3, 7))
    q = e.filter("vec_id IN (0, 3, 5)")
    join = _ranked(knn_bruteforce(e, q, k=4,
                                  broadcast_max_queries=0).collect())
    _assert_bits(join, _ref_brute(_vecs(e), [0, 3, 5], 4))
    assert join == _ranked(knn_bruteforce(e, q, k=4).collect())


def test_knn_ivf_null_vectors(spark):
    """NULL vectors no longer crash cell assignment: a NULL corpus
    vector scores NULL and ranks after every real cosine, and a NULL
    query ranks its candidates by id with NULL scores."""
    from xclim_spark.llm.similarity import Codebook, knn_ivf

    e = _emb_df(spark, n=30, dim=8, nulls=(3, 7))
    cents = Codebook.from_frame(e.filter("vec_id IN (1, 2, 4)"))
    # nprobe = every cell: the candidates are the whole corpus
    got = _ranked(knn_ivf(e, e.filter("vec_id IN (0, 3)"), cents, k=30,
                          nprobe=3).collect())
    _assert_bits(got, _ref_brute(_vecs(e), [0, 3], 30))
    assert [got[(0, r)][0] for r in (28, 29)] == [3, 7]


def test_knn_ivfpq_null_vectors(spark):
    """A NULL vector crosses PQ encoding, the ADC table and the exact
    re-rank as a NaN row: it never crashes, and it scores NULL."""
    from xclim_spark.llm.similarity import Codebook, knn_ivfpq, pq_fit

    e = _emb_df(spark, n=40, dim=8, nulls=(3, 7))
    books = pq_fit(e.filter("embedding IS NOT NULL"), m=2, ks=4, iters=1)
    cents = Codebook.from_frame(e.filter("vec_id IN (1, 2, 4)"))
    for residual in (False, True):
        got = _ranked(knn_ivfpq(
            e, e.filter("vec_id IN (0, 3)"), cents, books, k=40,
            nprobe=3, shortlist=40, residual=residual).collect())
        # every cell probed, full shortlist: exact brute force
        _assert_bits(got, _ref_brute(_vecs(e), [0, 3], 40))


def _projections(e, out_dim=5):
    from xclim_spark.llm.similarity import random_projection

    return {r["vec_id"]: r["p"] for r in e.select(
        "vec_id",
        random_projection("embedding", dim=16, out_dim=out_dim).alias("p"),
    ).collect()}


def test_random_projection_arrow_bit_parity(spark):
    from xclim_spark.llm.similarity import _planes

    e = _emb_df(spark, n=40, dim=16)
    scale = 1.0 / float(np.sqrt(5))
    P = [[x * scale for x in p] for p in _planes(16, 5, 42)]
    want = {i: [_ref_dot(v, p) for p in P] for i, v in _vecs(e).items()}
    _assert_bits(_projections(e), want)


def test_random_projection_null_vector(spark):
    """A NULL vector projects to ``out_dim`` NULLs; the other rows are
    unaffected by sharing its Arrow batch."""
    e = _emb_df(spark, n=12, dim=16, nulls=(0, 5)).coalesce(1)
    got = _projections(e)
    assert got[0] == got[5] == [None] * 5
    full = _projections(_emb_df(spark, n=12, dim=16))
    assert {i: p for i, p in got.items() if i not in (0, 5)} == \
        {i: p for i, p in full.items() if i not in (0, 5)}


def _with_clones(spark, e):
    from pyspark.sql import functions as F

    # add exact near-clones so the verify stage has real work
    clones = e.filter("vec_id % 10 = 0").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x * F.lit(1.0001).cast("float"))
        .alias("embedding"))
    return e.unionByName(clones)


def test_embedding_near_duplicates_matches_reference(spark):
    """Every pair at or above the threshold — all pairs, scored by the
    reference — and nothing else, with bit-identical cosines."""
    from xclim_spark.llm.dedup import embedding_near_duplicates

    u = _with_clones(spark, _emb_df(spark, n=60, dim=16))
    vecs = _vecs(u)
    want = {(a, b): c for a in vecs for b in vecs if a < b
            for c in [_ref_cos(vecs[a], vecs[b])]
            if c is not None and c >= 0.98}
    got = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in embedding_near_duplicates(
               u, threshold=0.98, dim=16, n_planes=6,
               n_tables=3).collect()}
    _assert_bits(got, want)


def test_embedding_near_duplicates_null_vectors(spark):
    """NULL vectors never form a verified pair and never crash the
    bucketing; ``dim=None`` sizes the planes from the first non-NULL
    vector, and an all-NULL or empty frame gives an empty result."""
    from xclim_spark.llm.dedup import embedding_near_duplicates

    u = _with_clones(spark, _emb_df(spark, n=30, dim=8, nulls=(0, 7)))
    kw = dict(threshold=0.98, n_planes=4, n_tables=3)
    want = {(r["id_a"], r["id_b"], r["cos_sim"])
            for r in embedding_near_duplicates(
                u.filter("embedding IS NOT NULL"), dim=8, **kw).collect()}
    assert want  # the clones of 10 and 20 survive
    for d in (8, None):  # None: the first row (id 0) is NULL
        got = {(r["id_a"], r["id_b"], r["cos_sim"])
               for r in embedding_near_duplicates(u, dim=d, **kw)
               .collect()}
        assert got == want
    for empty in (u.filter("embedding IS NULL"), u.limit(0)):
        out = embedding_near_duplicates(empty, **kw)
        assert out.columns == ["id_a", "id_b", "cos_sim"]
        assert out.collect() == []


def test_knn_bruteforce_batch_partial_topk_edges(spark):
    """The batch scorer's per-task partial top-k must compose into the
    same global top-k the window computes, across many partitions and
    at the edges: ties at the k boundary (broken by neighbor id ASC),
    a query with fewer than k non-self neighbors, and a zero-norm
    (NaN-cosine) corpus vector, whose kernel NaN crosses the Arrow
    boundary as SQL NULL and so sorts LAST under the window's
    ``DESC NULLS LAST`` — the kernel's partial top-k must agree."""
    from xclim_spark.llm.similarity import knn_bruteforce

    # 6 identical vectors -> every pairwise cosine ties at 1.0 exactly;
    # one zero vector -> NaN cosine against everything
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)]
    rows.append((6, [0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>").repartition(5)
    q = df.filter("vec_id IN (0, 6)")

    got = knn_bruteforce(df, q, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert len(got) == 6
    # a kernel NaN crosses the Arrow boundary as SQL NULL, and the
    # rank window is DESC NULLS LAST: the zero vector loses to every
    # real cosine — query 0 keeps the exact 1.0 ties by ascending id
    by_q0 = [r["neighbor_id"] for r in sorted(got, key=key)
             if r["query_id"] == 0]
    assert by_q0 == [1, 2, 3]
    # the zero-vector query: every cosine NULL, ties by ascending id
    q6 = [r for r in sorted(got, key=key) if r["query_id"] == 6]
    assert [r["neighbor_id"] for r in q6] == [0, 1, 2]
    assert all(r["cos_sim"] is None for r in q6)
    # the kernel must not let NULL-scored candidates crowd out real
    # ones inside a partition: one partition holding the zero vector
    # plus real neighbors, k = 2 -> both slots go to real cosines
    one = spark.createDataFrame(
        [(0, [1.0, 0.0]), (7, [0.0, 0.0]), (8, [0.9, 0.1]),
         (9, [0.8, 0.2])],
        "vec_id LONG, embedding ARRAY<FLOAT>").coalesce(1)
    out1 = knn_bruteforce(one, one.filter("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in
            sorted(out1, key=key)] == [8, 9]

    # fewer than k non-self neighbors: 2-doc corpus, k=5
    small = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        "vec_id LONG, embedding ARRAY<FLOAT>").repartition(3)
    out = knn_bruteforce(small, small.filter("vec_id = 0"), k=5).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(1, 1)]

    # partial-vs-global composition: 40 docs over 7 partitions must
    # equal the single-partition answer row for row
    df40 = _emb_df(spark, n=40, dim=8, seed=11)
    q40 = df40.filter("vec_id % 13 = 0")
    a = knn_bruteforce(df40.repartition(7), q40, k=4).collect()
    b = knn_bruteforce(df40.coalesce(1), q40, k=4).collect()
    am = {key(r): (r["neighbor_id"], r["cos_sim"]) for r in a}
    bm = {key(r): (r["neighbor_id"], r["cos_sim"]) for r in b}
    assert am == bm and len(am) > 0


def test_knn_bruteforce_query_collect_size_gate(spark):
    """The batch scorer's driver collect is size-gated: a query frame
    over ``broadcast_max_queries`` rows must take the pair-join path
    (no unbounded collect, plan carries the join) and still return the
    identical top-k."""
    from xclim_spark.llm.similarity import knn_bruteforce

    e = _emb_df(spark, n=50, dim=8, seed=7)
    q = e.filter("vec_id % 5 = 0")  # 10 query rows

    gated = knn_bruteforce(e, q, k=3, broadcast_max_queries=4)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan  # fell back to the pair join
    assert "ArrowEvalPython" in plan, plan  # ...which scores per pair

    batch = knn_bruteforce(e, q, k=3)  # default gate: batch path
    bplan = batch._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in bplan, bplan

    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    gm = {key(r): (r["neighbor_id"], r["cos_sim"])
          for r in gated.collect()}
    bm = {key(r): (r["neighbor_id"], r["cos_sim"])
          for r in batch.collect()}
    assert gm == bm and len(gm) == 30


def test_knn_bruteforce_batch_null_embeddings(spark):
    """NULL embeddings must not crash the batch kernel: a NULL corpus
    vector scores NULL cos_sim (ordered after every real cosine), and
    a NULL query vector ranks its candidates by neighbor id with NULL
    scores — the same ordering as the pair-join path."""
    from xclim_spark.llm.similarity import knn_bruteforce

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None),
            (3, [0.5, 0.5]), (4, None)]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>").repartition(3)

    # NULL corpus vectors only surface when real candidates run out
    out = knn_bruteforce(df, df.filter("vec_id = 0"), k=4).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got = [(r["neighbor_id"], r["cos_sim"] is None)
           for r in sorted(out, key=key)]
    assert [n for n, _ in got] == [1, 3, 2, 4]
    assert [isnull for _, isnull in got] == [False, False, True, True]

    # NULL query vector: all candidates NULL-scored, ties by id ASC
    outq = knn_bruteforce(df, df.filter("vec_id = 2"), k=3).collect()
    gq = [(r["neighbor_id"], r["cos_sim"] is None)
          for r in sorted(outq, key=key)]
    assert gq == [(0, True), (1, True), (3, True)]


def test_semantic_dedup_null_vectors(spark):
    """semantic_dedup shares knn_ivf's cell UDF: a NULL vector joins
    the lowest-id cluster, is always kept, and changes nothing for the
    other rows."""
    from xclim_spark.llm.dedup import semantic_dedup
    from xclim_spark.llm.similarity import Codebook

    u = _with_clones(spark, _emb_df(spark, n=30, dim=8, nulls=(0, 7)))
    cents = Codebook.from_frame(u.filter("vec_id IN (1, 2, 4)"))
    got = {r["id"]: (r["cluster"], r["keep"], r["dup_of"])
           for r in semantic_dedup(u, cents, threshold=0.98).collect()}
    want = {r["id"]: (r["cluster"], r["keep"], r["dup_of"])
            for r in semantic_dedup(u.filter("embedding IS NOT NULL"),
                                    cents, threshold=0.98).collect()}
    nulls = {i for i, v in _vecs(u).items() if v is None}
    assert nulls == {0, 7, 1000}  # 1000 is the clone of NULL vector 0
    assert all(got[i] == (1, True, None) for i in nulls)
    assert {i: v for i, v in got.items() if i not in nulls} == want
    assert any(not keep for _, keep, _ in want.values())


def test_semantic_dedup_split_null_vector(spark):
    """on_oversize='split' reassigns a NULL vector of an oversized
    cluster (a NaN row) to the lowest sub-cluster id instead of
    crashing, and every other row lands as without it."""
    from xclim_spark.llm.dedup import semantic_dedup
    from xclim_spark.llm.similarity import Codebook

    rng = np.random.RandomState(31)
    X = np.concatenate([rng.randn(30, 8) * 0.5 + np.r_[5.0, np.zeros(7)],
                        rng.randn(30, 8) * 0.5 + np.r_[0.0, 5.0,
                                                       np.zeros(6)]])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)]
        + [(100, None)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    # one centroid: a 61-row cluster, split into 3 either way
    cents = Codebook.from_frame(emb.filter("vec_id = 0"))

    def dedup(df):
        return {r["id"]: (r["cluster"], r["keep"], r["dup_of"])
                for r in semantic_dedup(
                    df, cents, threshold=0.999, max_cluster_size=50,
                    on_oversize="split").collect()}

    got = dedup(emb)
    want = dedup(emb.filter("embedding IS NOT NULL"))
    assert got.pop(100) == (min(c for c, _, _ in want.values()), True,
                            None)
    assert got == want
    assert len({c for c, _, _ in want.values()}) == 3


def _with_null_id(spark, e):
    """``e`` plus one far-off vector under a NULL id (an ascending sort
    puts it first, where it would reach every init)."""
    return e.unionByName(
        spark.createDataFrame([(None, [100.0] * 8)], e.schema))


@pytest.mark.parametrize("init", ["first", "spread"])
def test_kmeans_fit_skips_null_vectors(spark, init):
    """Training ignores NULL vectors and NULL ids: the codebook is the
    one trained on the frame without them (the NULL-vector row sits
    among the first k ids, so it would also reach the "first" init)."""
    from xclim_spark.llm.similarity import kmeans_fit

    e = _emb_df(spark, n=20, dim=8, nulls=(1, 17))
    got = kmeans_fit(_with_null_id(spark, e), 3, iters=5, init=init)
    want = kmeans_fit(e.filter("embedding IS NOT NULL"), 3, iters=5,
                      init=init)
    assert np.array_equal(got, want)


def test_pq_fit_skips_null_vectors(spark):
    from xclim_spark.llm.similarity import Codebook, pq_fit

    e = _emb_df(spark, n=20, dim=8, nulls=(1, 17))
    kept = e.filter("embedding IS NOT NULL")
    for cents in (None,
                  Codebook.from_frame(kept.filter("vec_id IN (2, 5)"))):
        got = pq_fit(_with_null_id(spark, e), m=2, ks=4, iters=3,
                     centroids=cents)
        want = pq_fit(kept, m=2, ks=4, iters=3, centroids=cents)
        assert np.array_equal(got, want)


def test_codebook_from_frame_collects_once(spark, last_sql_execution):
    """Codebook.from_frame is one Spark action: ids ascending, the
    vectors in id order, the unit matrix at unit length, and the
    scorer gives each centroid cosine 1 against itself."""
    from xclim_spark.llm.similarity import Codebook

    cents = _emb_df(spark, n=6, dim=8).filter("vec_id IN (5, 0, 3)")
    before = last_sql_execution()
    cb = Codebook.from_frame(cents)
    assert last_sql_execution() - before == 1
    vecs = _vecs(cents)
    assert cb.ids.tolist() == [0, 3, 5]
    raw = np.array([vecs[i] for i in (0, 3, 5)])
    assert np.array_equal(cb.vecs, raw)
    assert np.array_equal(
        cb.unit, raw / np.linalg.norm(raw, axis=1, keepdims=True))
    assert np.allclose(np.diag(cb.scores(raw)), 1.0)


def test_codebook_consumers_make_no_collect(spark, last_sql_execution):
    """Building pq_fit(centroids=), pq_encode(centroids=) and
    knn_ivfpq(residual=True) collects no codebook: residual training
    makes the same actions as plain training (the first-k init and
    one Lloyd pass), and the two plans build with no action at all."""
    from xclim_spark.llm.similarity import (
        Codebook, knn_ivfpq, pq_encode, pq_fit)

    e = _emb_df(spark, n=40, dim=8)
    cb = Codebook.from_frame(e.filter("vec_id IN (1, 2, 4)"))
    for cents in (None, cb):
        before = last_sql_execution()
        books = pq_fit(e, m=2, ks=4, iters=1, centroids=cents)
        assert last_sql_execution() - before == 2
    before = last_sql_execution()
    pq_encode(e, books, centroids=cb)
    knn_ivfpq(e, e.filter("vec_id < 4"), cb, books, k=3, nprobe=2,
              shortlist=8, residual=True)
    assert last_sql_execution() == before


def test_codebook_skips_null_rows(spark):
    """Rows with a NULL id or a NULL vector are not cells: knn_ivf and
    semantic_dedup give the same output as over the codebook without
    those rows."""
    from xclim_spark.llm.dedup import semantic_dedup
    from xclim_spark.llm.similarity import Codebook, knn_ivf

    e = _emb_df(spark, n=30, dim=8, nulls=(4,))
    kept = e.filter("vec_id IN (1, 2, 5)")
    with_nulls = e.filter("vec_id IN (1, 2, 4, 5)").unionByName(
        spark.createDataFrame([(None, [1.0] * 8)], e.schema))
    got, want = (Codebook.from_frame(f) for f in (with_nulls, kept))
    assert got.ids.tolist() == [1, 2, 5]
    assert np.array_equal(got.vecs, want.vecs)
    q = e.filter("vec_id % 10 = 0")
    assert _ranked(knn_ivf(e, q, got, k=4).collect()) \
        == _ranked(knn_ivf(e, q, want, k=4).collect())
    u = _with_clones(spark, e)

    def dedup(cb):
        return {r["id"]: (r["cluster"], r["keep"], r["dup_of"])
                for r in semantic_dedup(u, cb, threshold=0.98).collect()}

    assert dedup(got) == dedup(want)


@pytest.mark.parametrize("case, match", [
    ("duplicate", "duplicate ids \\[2\\]"),
    ("mixed", "mixed dimensions \\[2, 3\\]"),
    ("empty", "no row"),
])
def test_codebook_rejects_bad_rows(spark, case, match):
    """Duplicate ids, mixed dimensions and an empty codebook (here
    every row NULL) raise a ValueError naming the id column."""
    from xclim_spark.llm.similarity import Codebook

    rows = {"duplicate": [(2, [1.0, 0.0]), (1, [0.0, 1.0]),
                          (2, [1.0, 1.0])],
            "mixed": [(1, [1.0, 0.0]), (2, [1.0, 0.0, 1.0])],
            "empty": [(None, [1.0, 0.0]), (1, None)]}[case]
    df = spark.createDataFrame(rows, "cid LONG, v ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match=f"'cid'.*{match}"):
        Codebook.from_frame(df, "cid", "v")
