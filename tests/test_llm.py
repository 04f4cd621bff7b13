"""LLM-pipeline operator tests: dedup, similarity, text analysis."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xclim_spark.llm import dedup as dd
from xclim_spark.llm import similarity as sim
from xclim_spark.llm import text as tx


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def test_word_shingles(spark):
    df = _docs(spark, ["a b c d", "a b"])
    out = df.select(dd.word_shingles("text", 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == []  # shorter than n


def test_exact_duplicates(spark):
    df = _docs(spark, ["x y", "x y", "z"])
    out = {r["keep_id"]: r["dup_count"]
           for r in dd.exact_duplicates(df).collect()}
    assert out == {0: 2, 2: 1}


def test_near_duplicates_matches_exact_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        base,
        base + " extra",                     # very high overlap
        "completely different words here entirely unrelated content okay",
        base.replace("quick", "slow"),       # high overlap
        "another unrelated document about spark window functions",
    ]
    out = dd.near_duplicates(
        _docs(spark, texts), threshold=0.3, num_perm=128, bands=64
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    # exact jaccard of word-trigram sets, computed in python
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    expect = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = sh(texts[i]), sh(texts[j])
            jac = len(a & b) / len(a | b)
            if jac >= 0.3:
                expect[(i, j)] = jac
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert got[k] == pytest.approx(v)


def test_minhash_estimates_jaccard(spark):
    # signature agreement ~ Jaccard (within sampling error at k=256)
    a = " ".join(f"w{i}" for i in range(60))
    b = " ".join(f"w{i}" for i in range(30, 90))  # J = 28/92 on trigrams
    df = _docs(spark, [a, b])
    sigs = df.select(
        "doc_id",
        dd.minhash_signature(
            dd.shingle_hashes(dd.word_shingles("text", 3)), 256, 7
        ).alias("sig"),
    ).collect()
    s0, s1 = sigs[0]["sig"], sigs[1]["sig"]
    est = sum(x == y for x, y in zip(s0, s1)) / 256
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    true_j = len(sh(a) & sh(b)) / len(sh(a) | sh(b))
    assert est == pytest.approx(true_j, abs=0.12)


def test_simhash_hamming(spark):
    a = " ".join(f"tok{i}" for i in range(50))
    b = a.replace("tok25", "changed")       # near-dup
    c = " ".join(f"other{i}" for i in range(50))
    df = _docs(spark, [a, b, c])
    rows = dd.simhash(df).orderBy("doc_id").collect()
    out = [r["simhash"] for r in rows]
    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(out[0], out[1]) < ham(out[0], out[2])
    assert ham(out[0], out[1]) <= 16


def _emb(spark, n=60, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    # clustered vectors so knn is meaningful
    centers = rng.standard_normal((5, dim)) * 3
    rows = []
    for i in range(n):
        v = centers[i % 5] + rng.standard_normal(dim) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_knn_bruteforce_matches_numpy(spark):
    df = _emb(spark)
    q = df.filter(F.col("vec_id") < 3)
    out = sim.knn_bruteforce(df, q, k=4).collect()
    rows = df.orderBy("vec_id").collect()
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        top = np.argsort(-s, kind="stable")[:4]
        got = [r["neighbor_id"] for r in out if r["query_id"] == qid]
        assert got == list(top), qid


def test_knn_lsh_recall(spark):
    df = _emb(spark, n=100)
    q = df.filter(F.col("vec_id") < 5)
    exact = sim.knn_bruteforce(df, q, k=3).collect()
    approx = sim.knn_lsh(df, q, k=3, dim=16, n_planes=6, n_tables=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, recall
    # LSH never invents similarities: every returned cos is exact
    bycos = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in bycos:
            assert r["cos_sim"] == pytest.approx(bycos[key], rel=1e-12)


def test_text_functions(spark):
    df = _docs(spark, ["The cat and the dog, in a house!",
                       "le chat et le chien de la maison est gros"])
    r = df.select(
        tx.token_count("text").alias("n"),
        tx.type_token_ratio("text").alias("ttr"),
        tx.punct_ratio("text").alias("punct"),
        tx.language_id("text").alias("lang"),
        tx.stopword_ratio("text", "en").alias("sw"),
    ).collect()
    assert r[0]["n"] == 8
    assert r[0]["ttr"] == pytest.approx(7 / 8)  # 'the' twice (case-folded)
    assert r[0]["punct"] == pytest.approx(2 / 32)
    assert r[0]["lang"] == "en" and r[1]["lang"] == "fr"
    assert r[0]["sw"] == pytest.approx(5 / 8)  # the, and, the, in, a


def test_quality_score_orders_garbage_below_prose(spark):
    good = ("The quick brown fox jumps over the lazy dog near the river "
            "bank while birds sing in the warm morning light of spring")
    spam = "buy buy buy buy buy buy buy buy buy buy buy buy buy buy"
    symbols = "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) ___ +++ === ~~~"
    df = _docs(spark, [good, spam, symbols])
    out = [r["q"] for r in
           df.select("doc_id", tx.quality_score("text").alias("q"))
           .orderBy("doc_id").collect()]
    assert out[0] > out[1] > out[2]


def test_winnowing_fingerprints_overlap(spark):
    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(f"w{i}" for i in range(10, 50))  # shares a long span
    c = " ".join(f"x{i}" for i in range(40))
    df = _docs(spark, [a, b, c])
    fps = [set(r["fp"]) for r in df.select(
        tx.winnowing_fingerprints("text").alias("fp")).collect()]
    assert fps[0] & fps[1]          # overlapping spans share fingerprints
    assert not (fps[0] & fps[2])    # disjoint texts don't


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def _bin_df(spark):
    docs = _docs(spark, ["hello world " * 10, "AAAA", ""])
    return docs.withColumn("data", F.encode("text", "UTF-8")).drop("text")


def test_with_image_meta(spark):
    from xclim_spark.llm import multimodal as mm

    df = mm.with_image_meta(_bin_df(spark), "data", mime="image/fake")
    row = df.filter(F.col("doc_id") == 1).collect()[0]
    assert row["data_meta"]["mime"] == "image/fake"
    assert row["data_meta"]["n_bytes"] == 4
    assert row["data_meta"]["width"] is None


def test_byte_histogram_and_entropy(spark):
    from xclim_spark.llm import multimodal as mm

    df = _bin_df(spark)
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        mm.byte_histogram("data").alias("hist"),
        mm.byte_entropy("data").alias("ent"),
    ).collect()}
    # "AAAA" = 0x41 x4 -> all mass in nibble 4, entropy 0
    assert out[1]["hist"][4] == pytest.approx(1.0)
    assert out[1]["ent"] == 0.0
    assert sum(out[0]["hist"]) == pytest.approx(1.0)
    assert out[0]["ent"] > 2.0
    assert out[2]["ent"] == 0.0  # empty payload


def test_decode_image_fake_and_stub(spark):
    from xclim_spark.llm import multimodal as mm

    df = _bin_df(spark)
    out = {r["doc_id"]: r for r in
           mm.decode_image(df, "data", fake=True).collect()}
    # deterministic fake dims from the first two bytes
    assert out[1]["width"] == (ord("A") % 64) + 1
    assert out[1]["mean_pixel"] == pytest.approx(float(ord("A")))
    assert out[2]["width"] is None  # sub-2-byte payload
    with pytest.raises(NotImplementedError):
        mm.decode_image(df, "data", fake=False)


def test_resize_and_frames_fake(spark):
    from xclim_spark.llm import multimodal as mm

    df = _bin_df(spark).filter(F.col("doc_id") < 2)
    resized = mm.resize_images(df, "data", size=(8, 8), fake=True).collect()
    assert all(len(r["data"]) == 64 for r in resized)
    frames = mm.sample_frames(df, "data", n_frames=4, fake=True)
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[0]) == 4
    assert sorted(r["frame_idx"] for r in by_doc[0]) == [0, 1, 2, 3]
    assert all(len(r["frame"]) > 0 for r in rows)


def test_simhash_pairs_finds_near_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain falls softly on the quiet green meadow today")
    texts = [
        base,
        base + " indeed",                      # near-dup of 0
        base.replace("quick", "slow"),         # near-dup of 0 and 1
        "completely different words here entirely unrelated content okay "
        "nothing shared at all with anything else in this tiny corpus",
        "another unrelated document about spark window functions and "
        "structured streaming state stores with watermarks and triggers",
    ]
    out = dd.simhash_pairs(
        _docs(spark, texts), bits=60, max_hamming=12, bands=13,
        hasher=dd.md5_hash60,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert all(a in (0, 1, 2) and b in (0, 1, 2) for a, b in pairs)
    for r in out:
        assert 0 <= r["hamming"] <= 12


def test_simhash_pairs_band_guarantee_validated():
    # bands=4 guarantees recall only to hamming 3
    with pytest.raises(ValueError):
        dd.simhash_pairs(None, max_hamming=4, bands=4)


def test_char_ngrams(spark):
    df = _docs(spark, ["abcdef", "abc"])
    out = df.select(dd.char_ngrams("text", 5).alias("g")).collect()
    assert out[0]["g"] == ["abcde", "bcdef"]
    assert out[1]["g"] == []


def test_ngram_jaccard_pairs_matches_exact(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dot",   # 1-char change
        "a wholly different sentence with no shared substrings xyzw",
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
    ]
    t = 0.5
    out = dd.ngram_jaccard_pairs(_docs(spark, texts), n=5,
                                 threshold=t).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}

    def grams(s):
        return {s[i:i + 5] for i in range(len(s) - 4)}

    expect = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = grams(texts[i]), grams(texts[j])
            jac = len(a & b) / len(a | b)
            if jac >= t:
                expect[(i, j)] = jac
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-12
    assert got[(0, 3)] == 1.0


def test_embedding_near_duplicates(spark):
    rng = np.random.RandomState(0)
    vecs = rng.standard_normal((30, 16)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # plant two near-identical clones
    rows.append((100, [float(x) * 1.0001 for x in vecs[3]]))
    rows.append((101, [float(x) * 0.9999 for x in vecs[7]]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = dd.embedding_near_duplicates(
        df, threshold=0.99, n_planes=8, n_tables=4, dim=16).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (3, 100) in pairs and (7, 101) in pairs
    assert len(pairs) == 2
    for r in out:
        assert r["cos_sim"] > 0.999


def test_knn_ivf_candidates_come_from_probed_cells(spark):
    rng = np.random.RandomState(1)
    # three well-separated clusters of 10 vectors
    centers = np.eye(3, 8) * 10
    rows = []
    for c in range(3):
        for i in range(10):
            v = centers[c] + rng.standard_normal(8) * 0.05
            rows.append((c * 10 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = sim.Codebook.from_frame(
        df.filter(F.col("vec_id").isin([0, 10, 20])))
    qs = df.filter(F.col("vec_id").isin([5, 15]))
    out = sim.knn_ivf(df, qs, cents, k=3, nprobe=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # with nprobe=1 every neighbour comes from the query's own cluster
    for qid, neigh in by_q.items():
        cluster = qid // 10
        assert len(neigh) == 3
        for r in neigh:
            assert r["neighbor_id"] // 10 == cluster
            assert r["cos_sim"] > 0.99
    # ranks are 1..3 ordered by cosine desc
    for qid, neigh in by_q.items():
        ranked = sorted(neigh, key=lambda r: r["rank"])
        coss = [r["cos_sim"] for r in ranked]
        assert coss == sorted(coss, reverse=True)


# ---------------------------------------------------------------------------
# pipeline tier: decontamination + mixture sampling
# ---------------------------------------------------------------------------

def test_word_ngrams_short_doc_empty(spark):
    from xclim_spark.llm import pipeline as pl

    df = _docs(spark, ["a b c", "a b c d"])
    out = df.select(pl.word_ngrams("text", 4).alias("g")).collect()
    assert out[0]["g"] == []            # 3 tokens < n=4
    assert out[1]["g"] == ["a b c d"]


def test_decontaminate_flags_overlap(spark):
    from xclim_spark.llm import pipeline as pl

    bench = _docs(spark, ["secret eval question about spark joins"])
    corpus = _docs(spark, [
        "totally clean document with no overlap at all",
        "contains the secret eval question about spark joins verbatim",
        "ab",  # shorter than n -> zero grams, never contaminated
    ])
    out = {r["doc_id"]: r for r in
           pl.decontaminate(corpus, bench, n=5).collect()}
    assert not out[0]["contaminated"]
    assert out[1]["contaminated"] and out[1]["dirty_grams"] >= 1
    assert out[2]["total_grams"] == 0 and not out[2]["contaminated"]


def test_hex_threshold_bounds():
    from xclim_spark.llm.pipeline import hex_threshold

    assert hex_threshold(0.0) == "00000000"
    assert hex_threshold(0.5) == "80000000"
    assert hex_threshold(1.0) == "gggggggg"  # > any hex digest
    assert hex_threshold(0.25) == "40000000"


def test_mixture_sample_deterministic_and_monotone(spark):
    from xclim_spark.llm import pipeline as pl

    rows = [(i, "s%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    half = pl.mixture_sample(df, {"s0": 0.5, "s1": 1.0}, key_col="doc_id",
                             default_rate=0.0)
    full = pl.mixture_sample(df, {"s0": 1.0, "s1": 1.0}, key_col="doc_id",
                             default_rate=0.0)
    ids_half = {r["doc_id"] for r in half.collect()}
    ids_full = {r["doc_id"] for r in full.collect()}
    # deterministic: re-running yields the same sample
    assert ids_half == {r["doc_id"] for r in half.collect()}
    # monotone: raising a rate only adds documents
    assert ids_half <= ids_full
    # s1 kept wholesale, s2 dropped wholesale
    assert {i for i in range(300) if i % 3 == 1} <= ids_full
    assert all(i % 3 != 2 for i in ids_full)
    # rate=0.5 keeps roughly half of s0 (100 docs; binomial 3-sigma)
    n_s0 = sum(1 for i in ids_half if i % 3 == 0)
    assert 30 <= n_s0 <= 70


def test_map_over_nodes_tags_and_unions(spark):
    from xclim_spark.indicators import registry
    from xclim_spark.indicators.datatree import map_over_nodes
    from xclim_spark.testing import timeseries

    d = timeseries(spark, [28.0, 31.0, 35.0, 29.0], start="2000-01-01")
    res = map_over_nodes(
        registry["tx_days_above"], {"a": d, "b": d}, tasmax="value",
        thresh="30 degC", freq="YS", time="time", cells=[], missing=None,
    )
    rows = res.df.collect()
    assert sorted(r["node"] for r in rows) == ["a", "b"]
    assert all(r["tx_days_above"] == 2 for r in rows)
    assert "history" in res.attrs


def test_repetition_stats(spark):
    from xclim_spark.llm import pipeline as pl

    df = _docs(spark, [
        "a a a a",            # one word repeated
        "a b c d",            # all distinct
        "x y x y x y",        # dominant bigram
    ])
    out = {r["doc_id"]: r for r in pl.repetition_stats(df).collect()}
    assert out[0]["top_word_frac"] == pytest.approx(1.0)
    assert out[0]["distinct_word_frac"] == pytest.approx(0.25)
    assert out[0]["top_bigram_frac"] == pytest.approx(1.0)  # 'a a' x3
    assert out[1]["top_word_frac"] == pytest.approx(0.25)
    assert out[1]["distinct_word_frac"] == pytest.approx(1.0)
    # 'x y' appears 3 of 5 bigrams
    assert out[2]["top_bigram_frac"] == pytest.approx(3 / 5)


def test_pack_sequences_chunking(spark):
    from xclim_spark.llm import pipeline as pl

    # 4 docs of 3 tokens each, context 5: cumsum starts 0,3,6,9
    df = spark.createDataFrame(
        [(i, "a b c", "s") for i in range(4)],
        "doc_id LONG, text STRING, source STRING")
    rows = {r["doc_id"]: r["pack_id"]
            for r in pl.pack_sequences(df, 5).collect()}
    assert rows == {0: 0, 1: 0, 2: 1, 3: 1}
    # deterministic: same result on re-run
    assert rows == {r["doc_id"]: r["pack_id"]
                    for r in pl.pack_sequences(df, 5).collect()}
    # independent streams restart at pack 0
    df2 = spark.createDataFrame(
        [(0, "a b c", "s1"), (1, "a b c", "s2")],
        "doc_id LONG, text STRING, source STRING")
    out = {(r["source"], r["pack_id"])
           for r in pl.pack_sequences(df2, 5).collect()}
    assert out == {("s1", 0), ("s2", 0)}


def test_rolling_gram_hashes_jaccard_parity(spark):
    """Byte rolling-hash shingles must reproduce char-gram Jaccard on
    ASCII text (same 31-bit domain; prime base so no structured
    collisions)."""
    from pyspark.sql import functions as F
    from xclim_spark.llm import dedup as dd

    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated text with other grams here")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    hashed = dd.rolling_gram_hashes(
        docs.select(F.col("doc_id").alias("_id"), "text"), n=5)
    got = {r["_id"]: set(r["_sh"]) for r in hashed.collect()}
    grams = {i: set(t[j:j + 5] for j in range(len(t) - 4))
             for i, t in rows}
    for i in (1, 2, 3):
        assert len(got[i]) == len(grams[i])  # no within-doc collisions
    for a, b in ((1, 2), (1, 3)):
        j_gram = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
        j_hash = len(got[a] & got[b]) / len(got[a] | got[b])
        assert abs(j_gram - j_hash) < 1e-12


def test_near_duplicates_bytes_shingler_matches_expr(spark):
    from pyspark.sql import functions as F
    from xclim_spark.llm import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(threshold=0.7, num_perm=64, bands=16, parallelism=4)
    a = dd.near_duplicates(
        docs, tokenizer=lambda t: dd.char_ngrams(t, 5), **kw)
    b = dd.near_duplicates(docs, shingler="bytes", char_n=5, **kw)
    pa = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in a.collect())
    pb = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in b.collect())
    assert pa == pb and len(pa) > 0


def test_connected_components_chain_and_islands(spark):
    from xclim_spark.llm import dedup as dd

    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 7), (10, 11), (5, 6), (6, 5)],
        "id_a long, id_b long")
    out = {r["id"]: r["component"]
           for r in dd.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    from xclim_spark.llm import dedup as dd

    # a 12-node path needs ~diameter rounds of min propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    out = dd.connected_components(edges).collect()
    assert all(r["component"] == 0 for r in out) and len(out) == 13


def test_connected_components_star_deep_chain_bounded_rounds(
        spark, last_sql_execution):
    """The adversarial case for label propagation: a 50-deep chain
    closes in O(log n) star rounds, not O(diameter).  A round is two
    SQL executions (its checkpoint and its signature), after the edge
    checkpoint and the first signature.  Also checks the label map
    against the analytic answer."""
    from xclim_spark.llm import dedup as dd

    n = 50
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")
    before = last_sql_execution()
    labels = dd.connected_components_star(edges)
    rounds = (last_sql_execution() - before - 2) / 2
    out = labels.collect()
    assert len(out) == n + 1
    assert all(r["component"] == 0 for r in out)
    # ceil(log2(50)) ~ 6; allow slack for the alternation + the
    # confirming fixpoint round, but far below the 50 a label
    # propagation needs
    assert 1 <= rounds <= 12, rounds


def _union_find_components(pairs):
    """Pure-Python reference closure: every non-NULL id of an edge is
    labelled with the least id connected to it."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


@pytest.mark.parametrize("side", ["driver", "star"])
def test_connected_components_matches_union_find_reference(
        spark, last_sql_execution, monkeypatch, side):
    """Both sides of the edge cap give the pure-Python union-find's
    labels on one graph holding a chain, a star, a clique, islands,
    reversed and duplicate edges, self-loops, NULL ids and a seeded
    random graph, in disjoint id ranges.  Every non-NULL id gets one
    row; a self-loop id or an id with a NULL partner is a singleton.
    Below the cap the closure is one SQL execution."""
    import numpy as np

    from xclim_spark.llm import dedup as dd

    if side == "star":
        monkeypatch.setattr(dd, "_LOCAL_MAX_EDGES", 0)
    pairs = [(i, i + 1) for i in range(100, 112)]            # chain
    pairs += [(200, i) for i in range(201, 209)]             # star
    pairs += [(i, j) for i in range(300, 305)                # clique
              for j in range(300, 305) if i < j]
    pairs += [(401, 400), (402, 403), (403, 402), (402, 403)]  # islands
    pairs += [(None, 505), (505, 506), (507, None), (508, 508),
              (509, 508), (None, None)]                      # self / NULL
    pairs += [(608, 608), (601, 602)]                         # lone loop
    rng = np.random.RandomState(123)
    pairs += sorted({(int(a), int(b)) for a, b in
                     rng.randint(1000, 1120, size=(90, 2)) if a != b})
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    before = last_sql_execution()
    out = dd.connected_components(edges)
    if side == "driver":
        assert last_sql_execution() - before == 1
    assert out.schema.simpleString() == \
        "struct<id:bigint,component:bigint>"
    got = sorted(tuple(r) for r in out.collect())
    ref = _union_find_components(pairs)
    assert (505, 505) in ref and (507, 507) in ref and (608, 608) in ref
    assert got == ref


def test_minhash_lsh_jaccard_recall_measured(spark):
    """MEASURED MinHash-LSH recall against the exact-Jaccard pair set
    (not just the band-math bound): a seeded ~1k-doc corpus built to
    concentrate pair similarities in the hard zone around the 0.6
    threshold (word swaps in 40-word docs put shingle-Jaccard at ~0.5,
    ~0.6, ~0.7, ~0.85).  The exact pair set is computed independently
    in pure python over all C(n,2) shingle-set pairs; the banded join
    (gate-scale 32 perms / 16 bands, the driver's sf0.01 config —
    predicted candidate recall at J=0.6: 1-(1-0.6^2)^16 ~= 0.9992) must
    find >= 95% of them, and every pair it returns must verify exactly."""
    import numpy as np

    from xclim_spark.llm import dedup as dd

    rng = np.random.RandomState(20240815)  # committed corpus seed
    vocab = [f"w{i:04d}" for i in range(2000)]
    docs = []
    did = 0
    for fam in range(150):
        base = [vocab[j] for j in rng.randint(0, 2000, size=40)]
        docs.append((did, " ".join(base))); did += 1
        for n_swap in rng.choice([1, 2, 3, 4], size=2, replace=False):
            var = list(base)
            for pos in rng.choice(40, size=n_swap, replace=False):
                var[pos] = vocab[rng.randint(0, 2000)]
            docs.append((did, " ".join(var))); did += 1
    # background singletons
    for _ in range(550):
        docs.append((did, " ".join(
            vocab[j] for j in rng.randint(0, 2000, size=40))))
        did += 1

    # independent exact pair set: python shingle sets, all pairs
    def sh(words):
        w = words.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = {i: sh(t) for i, t in docs}
    exact = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        sx = sets[ids[x]]
        for y in range(x + 1, len(ids)):
            sy = sets[ids[y]]
            inter = len(sx & sy)
            if inter == 0:
                continue
            j = inter / (len(sx) + len(sy) - inter)
            if j >= 0.6:
                exact[(ids[x], ids[y])] = j
    assert len(exact) >= 150, len(exact)  # the corpus genuinely pairs up
    # and the hard zone is populated
    assert sum(1 for v in exact.values() if v < 0.75) >= 40

    df = spark.createDataFrame(docs, "doc_id long, text string")
    found = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dd.near_duplicates(
                 df, threshold=0.6, num_perm=32, bands=16).collect()}

    # no false positives: verification is exact Jaccard
    for k, v in found.items():
        assert k in exact, k
        assert v == pytest.approx(exact[k], abs=1e-9)
    recall = len(set(found) & set(exact)) / len(exact)
    assert recall >= 0.95, (recall, len(exact), len(found))


def test_connected_components_star_nonconvergence_raises(
        spark, monkeypatch):
    """The star rewrite must refuse to emit labels from a non-fixpoint
    edge set (it can carry conflicting component rows per id)."""
    import xclim_spark.llm.dedup as dd

    monkeypatch.setattr(dd, "_STAR_MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a LONG, id_b LONG")
    with pytest.raises(RuntimeError, match="fixpoint"):
        dd.connected_components_star(edges)


def test_semantic_dedup_marks_clones(spark):
    """SemDeDup: perturbed clones must be marked dup_of their base
    (same cluster, cos >> threshold); unrelated vectors keep."""
    import numpy as np

    import xclim_spark.llm.dedup as dd

    rng = np.random.RandomState(9)
    base = rng.randn(40, 16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # clones of ids 0..4, perturbed 0.1%
    rows += [(100 + i, [float(x * 1.001) for x in base[i]])
             for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = sim.Codebook.from_frame(
        emb.filter("vec_id % 10 = 3 AND vec_id < 100"))
    out = {r["id"]: r for r in
           dd.semantic_dedup(emb, cents, threshold=0.999).collect()}
    assert len(out) == 45
    for i in range(5):
        assert out[100 + i]["keep"] is False
        assert out[100 + i]["dup_of"] == i
        assert out[i]["keep"] is True
    # random 16-dim vectors never hit 0.999 pairwise
    assert sum(not r["keep"] for r in out.values()) == 5


def test_pii_counts_and_redaction(spark):
    from pyspark.sql import functions as F

    from xclim_spark.llm.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [("mail a@b.co and x.y@z.org ip 10.1.2.3 ssn 123-45-6789 "
          "tel +44-123-4567-890 clean text",),
         ("nothing sensitive here",)],
        "text STRING")
    out = df.select(
        *[c.alias(k) for k, c in pii_counts(F.col("text")).items()],
        redact_pii("text").alias("red")).collect()
    assert (out[0]["email"], out[0]["ipv4"], out[0]["ssn"],
            out[0]["phone"]) == (2, 1, 1, 1)
    assert out[0]["red"] == ("mail [EMAIL] and [EMAIL] ip [IPV4] ssn "
                             "[SSN] tel [PHONE] clean text")
    assert out[1]["red"] == "nothing sensitive here"
    assert out[1]["email"] == 0


def test_duplicate_spans_exact_substr(spark):
    """Lee-et-al-style exact substring spans: two docs sharing a 10-token
    run must each report one maximal span covering it; a doc with no
    cross-doc n-gram emits nothing."""
    import xclim_spark.llm.dedup as dd

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, "alpha beta " + shared + " gamma"),
        (2, shared + " delta epsilon zeta"),
        (3, "totally unrelated words with no overlap at all here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in
           dd.duplicate_spans(docs, n=8, min_docs=2).collect()}
    assert set(out) == {1, 2}
    # doc 1: shared tokens at positions 2..11 -> grams at 2,3,4
    assert (out[1]["span_start"], out[1]["span_end"],
            out[1]["n_grams"]) == (2, 11, 3)
    # doc 2: shared tokens at 0..9 -> grams at 0,1,2
    assert (out[2]["span_start"], out[2]["span_end"],
            out[2]["n_grams"]) == (0, 9, 3)


def test_kmeans_fit_matches_numpy_lloyd(spark):
    """The distributed trainer must reproduce a plain numpy Lloyd loop:
    same init (first k by id), same tie rule, same empty-cluster
    fallback, run to convergence on separated blobs."""
    import numpy as np

    from xclim_spark.llm.similarity import kmeans_fit

    rng = np.random.RandomState(17)
    blobs = np.concatenate([
        rng.randn(40, 8) * 0.1 + mu
        for mu in ([5, 0, 0, 0, 0, 0, 0, 0],
                   [0, 5, 0, 0, 0, 0, 0, 0],
                   [0, 0, 5, 0, 0, 0, 0, 0])])
    order = rng.permutation(len(blobs))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in blobs[order[i]]])
         for i in range(len(blobs))],
        "vec_id LONG, embedding ARRAY<DOUBLE>").repartition(4)

    got = kmeans_fit(emb, 3, iters=20)

    X = blobs[order]
    C = X[:3].astype(float).copy()
    for _ in range(20):
        scores = -2.0 * (X @ C.T) + (C * C).sum(axis=1)
        a = np.argmin(scores, axis=1)
        new = np.stack([X[a == c].mean(axis=0) if (a == c).any()
                        else C[c] for c in range(3)])
        if np.abs(new - C).max() <= 1e-6:
            C = new
            break
        C = new
    assert np.allclose(got, C, atol=1e-9)
    # converged blob centers: every centroid near one true mean
    mus = np.array([[5, 0, 0, 0, 0, 0, 0, 0],
                    [0, 5, 0, 0, 0, 0, 0, 0],
                    [0, 0, 5, 0, 0, 0, 0, 0]], dtype=float)
    d = np.linalg.norm(got[:, None, :] - mus[None], axis=2).min(axis=1)
    assert (d < 0.2).all()


def test_kmeans_fit_feeds_ivf_and_semantic_dedup(spark):
    """Trained centroids, wrapped once with Codebook.of, slot into the
    centroids= contract of knn_ivf and semantic_dedup."""
    import numpy as np

    from xclim_spark.llm.dedup import semantic_dedup
    from xclim_spark.llm.similarity import Codebook, kmeans_fit, knn_ivf

    rng = np.random.RandomState(23)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents_np = kmeans_fit(emb, 4, iters=3)
    cents = Codebook.of(cents_np)
    out = knn_ivf(emb, emb.filter("vec_id < 3"), cents, k=2)
    assert out.count() == 6
    sd = semantic_dedup(emb, cents, threshold=0.99)
    assert sd.count() == 60


def test_duplicate_spans_null_text_and_id_contract(spark):
    import pytest as _pt

    import xclim_spark.llm.dedup as dd

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, shared), (2, shared), (3, None)],
        "doc_id LONG, text STRING")
    out = dd.duplicate_spans(docs, n=8, min_docs=2).collect()
    assert {r["doc_id"] for r in out} == {1, 2}

    sdocs = spark.createDataFrame(
        [("u1", shared)], "doc_id STRING, text STRING")
    with _pt.raises(ValueError, match="integral"):
        dd.duplicate_spans(sdocs, n=8)


def test_duplicate_spans_null_ids_count_as_one_doc(spark):
    """All NULL-id rows are ONE document for the ``min_docs`` count:
    two NULL-id copies of a text are not a cross-document duplicate,
    and a NULL-id row that sorts first in its gram's partition still
    counts as a document."""
    import xclim_spark.llm.dedup as dd

    shared = "one two three four five six seven eight"
    schema = "doc_id LONG, text STRING"
    two_nulls = spark.createDataFrame(
        [(None, shared), (None, shared), (1, shared)], schema)
    assert dd.duplicate_spans(two_nulls, n=8, min_docs=3).collect() == []
    assert {r["doc_id"] for r in
            dd.duplicate_spans(two_nulls, n=8, min_docs=2).collect()} \
        == {None, 1}
    null_first = spark.createDataFrame([(None, shared), (1, shared)],
                                       schema)
    assert {r["doc_id"] for r in
            dd.duplicate_spans(null_first, n=8, min_docs=2).collect()} \
        == {None, 1}


def test_kmeans_fit_iters_zero_returns_init(spark):
    import numpy as np

    from xclim_spark.llm.similarity import kmeans_fit

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents, counts = kmeans_fit(emb, 2, iters=0, return_counts=True)
    assert np.allclose(cents, [[0.0, 0.0], [1.0, 0.0]])
    assert (counts == 0).all()
    with pytest.raises(ValueError, match="init"):
        kmeans_fit(emb, 2, init="random")


def test_semantic_dedup_skew_guard_raises(spark):
    """A cluster above max_cluster_size must raise loudly, naming the
    cluster and its size — not run a silent O(m^2) single task."""
    import pytest as _pt

    import xclim_spark.llm.dedup as dd

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = sim.Codebook.from_frame(emb.filter("vec_id = 0"))
    with _pt.raises(ValueError, match=r"0 \(30 vectors\)"):
        dd.semantic_dedup(emb, cents, max_cluster_size=10)


def test_semantic_dedup_skew_guard_splits(spark):
    """on_oversize='split': an oversized cluster is re-clustered with a
    fresh sub-codebook (ids above the originals); exact clones stay
    co-clustered so duplicates are still found after the split."""
    import numpy as np

    import xclim_spark.llm.dedup as dd

    rng = np.random.RandomState(31)
    blob_a = rng.randn(30, 8) * 0.5 + np.r_[5.0, np.zeros(7)]
    blob_b = rng.randn(30, 8) * 0.5 + np.r_[0.0, 5.0, np.zeros(6)]
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(np.concatenate([blob_a, blob_b]))]
    rows.append((100, rows[0][1]))  # exact clone of id 0
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    # ONE centroid -> one 61-row cluster
    cents = sim.Codebook.from_frame(emb.filter("vec_id = 0"))
    out = {r["id"]: r for r in
           dd.semantic_dedup(emb, cents, threshold=0.999,
                             max_cluster_size=40,
                             on_oversize="split").collect()}
    assert len(out) == 61
    # sub-cluster ids were allocated above the single original id (0)
    assert all(r["cluster"] > 0 for r in out.values())
    assert len({r["cluster"] for r in out.values()}) >= 2
    # the exact clone is still caught inside its sub-cluster
    assert out[100]["keep"] is False and out[100]["dup_of"] == 0
    assert sum(not r["keep"] for r in out.values()) == 1


def test_semantic_dedup_split_unsplittable_raises(spark):
    """All-identical vectors defeat every codebook: split must raise
    rather than loop or silently hand back the oversized cluster —
    and the farthest-first init names the distinct-point shortfall
    up front instead of emitting duplicate centroids that only fail
    later as a generic 'could not reduce'."""
    import pytest as _pt

    import xclim_spark.llm.dedup as dd
    from xclim_spark.llm.similarity import _spread_init

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = sim.Codebook.from_frame(emb.filter("vec_id = 0"))
    with _pt.raises(ValueError, match="distinct points"):
        dd.semantic_dedup(emb, cents, max_cluster_size=10,
                          on_oversize="split")
    with _pt.raises(ValueError,
                    match=r"1 distinct of 30 sampled"):
        _spread_init(emb, 6, "vec_id", "embedding", 64)


def _three_blobs(rng, mus=None):
    import numpy as np

    if mus is None:
        mus = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    pts = np.concatenate([rng.randn(30, 4) * 0.1 + mu for mu in mus])
    return np.asarray(mus, dtype=float), pts


def test_kmeans_spread_init_beats_first_on_adjacent_ids(spark):
    """Real corpora store near-duplicates at adjacent ids; init='first'
    then seeds every centroid inside one blob, and with the two far
    blobs in the SAME direction Lloyd merges them (a stable local
    optimum: two centroids split blob 0, one sits between blobs 1 and
    2).  The deterministic farthest-first 'spread' init must seed all
    three blobs and strictly beat 'first' on within-cluster SSE."""
    import numpy as np

    from xclim_spark.llm.similarity import kmeans_fit

    rng = np.random.RandomState(41)
    # ids 0-29 are ALL blob 0; blobs 1 and 2 far away, same direction
    mus, pts = _three_blobs(rng, mus=[[0.0, 0, 0, 0],
                                      [20.0, 0, 0, 0],
                                      [26.0, 0, 0, 0]])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")

    def sse(C):
        d2 = ((pts[:, None, :] - C[None]) ** 2).sum(axis=2)
        return float(d2.min(axis=1).sum())

    # the init itself (iters=0): 'first' seeds all of blob 0, 'spread'
    # covers all three blobs
    i_first = kmeans_fit(emb, 3, iters=0)
    i_spread = kmeans_fit(emb, 3, iters=0, init="spread")
    assert (np.abs(i_first[:, 0]) < 1.0).all()
    d0 = np.linalg.norm(i_spread[:, None, :] - mus[None], axis=2)
    assert len(set(d0.argmin(axis=1))) == 3

    c_first = kmeans_fit(emb, 3, iters=25)
    c_spread = kmeans_fit(emb, 3, iters=25, init="spread")
    # spread lands one centroid on each blob mean
    d = np.linalg.norm(c_spread[:, None, :] - mus[None], axis=2)
    assert (d.min(axis=1) < 0.5).all()
    assert len(set(d.argmin(axis=1))) == 3
    assert sse(c_spread) < sse(c_first)
    # the INIT is bit-deterministic across partitionings (TopK sample +
    # driver-side traversal); the trained codebook agrees to fp noise
    # (per-batch partial sums add in partition order)
    i_again = kmeans_fit(emb.repartition(7), 3, iters=0, init="spread")
    assert np.array_equal(i_spread, i_again)
    c_again = kmeans_fit(emb.repartition(7), 3, iters=25, init="spread")
    assert np.allclose(c_spread, c_again, atol=1e-9)


def test_remove_duplicate_spans_cuts_and_keeps(spark):
    """Lee-et-al removal: duplicated spans are CUT, the remainder kept;
    untouched docs keep their text byte-identical (even odd spacing)."""
    import xclim_spark.llm.dedup as dd

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, "alpha beta " + shared + " gamma"),
        (2, shared + " delta epsilon zeta"),
        (3, "totally  unrelated words\twith no overlap at all here now"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in
           dd.remove_duplicate_spans(docs, n=8, min_docs=2).collect()}
    assert out[1]["text"] == "alpha beta gamma"
    assert out[1]["n_tokens_removed"] == 10
    assert out[2]["text"] == "delta epsilon zeta"
    assert out[2]["n_tokens_removed"] == 10
    # untouched text passes through byte-identical (double space + tab)
    assert out[3]["text"] == rows[2][1]
    assert out[3]["n_tokens_removed"] == 0
    assert out[4]["text"] is None


def test_remove_duplicate_spans_overlapping_union(spark):
    """Token ranges of two maximal spans can overlap; removal must cut
    the UNION (each token dropped once) — brute-force checked."""
    import xclim_spark.llm.dedup as dd

    # doc 10 contains two shared 8-gram runs whose token ranges overlap:
    # grams at positions {0,1,2} (tokens 0-9) and {4,5} (tokens 4-12)
    a = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9".split()      # shared run A
    b = "w4 w5 w6 w7 w8 w9 x0 x1 x2".split()         # shared run B
    doc10 = a + ["x0", "x1", "x2", "tail1", "tail2"]  # A at 0, B at 4
    rows = [
        (10, " ".join(doc10)),
        (11, " ".join(a) + " unrelated filler words here"),
        (12, "prefix words " + " ".join(b)),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    spans = [(r["span_start"], r["span_end"]) for r in
             dd.duplicate_spans(docs, n=8, min_docs=2)
             .filter("doc_id = 10").collect()]
    covered = set()
    for s, e in spans:
        covered |= set(range(s, e + 1))
    out = {r["doc_id"]: r for r in
           dd.remove_duplicate_spans(docs, n=8, min_docs=2).collect()}
    toks = doc10
    expect = " ".join(t for i, t in enumerate(toks) if i not in covered)
    assert out[10]["text"] == expect
    assert out[10]["n_tokens_removed"] == len(covered)
    # brute-force n_removed for every doc: union of its span ranges
    for did, txt in rows:
        sp = [(r["span_start"], r["span_end"]) for r in
              dd.duplicate_spans(docs, n=8, min_docs=2)
              .filter(f"doc_id = {did}").collect()]
        cov = set()
        for s, e in sp:
            cov |= set(range(s, e + 1))
        assert out[did]["n_tokens_removed"] == len(cov)


def test_parse_image_header_roundtrip():
    from xclim_spark.llm.multimodal import (
        make_image_header,
        parse_image_header,
    )

    for fmt in ("png", "gif", "bmp", "jpeg"):
        b = make_image_header(fmt, 640, 481)
        assert parse_image_header(b) == (fmt, 640, 481), fmt
        # payload bytes after the header don't confuse the probe
        assert parse_image_header(b + b"\x00" * 100) == (fmt, 640, 481)
    # BMP top-down (negative height) reports abs(height)
    import struct

    bm = (b"BM" + struct.pack("<IHHI", 26, 0, 0, 54)
          + struct.pack("<Iii", 40, 320, -200))
    assert parse_image_header(bm) == ("bmp", 320, 200)
    # JPEG with fill bytes before the SOF marker
    j = make_image_header("jpeg", 12, 34)
    j = j[:2] + b"\xff" + j[2:]
    assert parse_image_header(j) == ("jpeg", 12, 34)
    # garbage / truncated / None
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\0\0") is None
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00") is None
    assert parse_image_header(None) is None
    # 'BM' text is NOT a bitmap: reserved words + header size gate it
    assert parse_image_header(
        b"BMW dealers reported record sales this quarter again") is None


def test_image_dims_and_probed_meta(spark):
    from xclim_spark.llm import multimodal as mm

    rows = [
        (0, mm.make_image_header("png", 100, 50)),
        (1, mm.make_image_header("gif", 7, 9)),
        (2, mm.make_image_header("bmp", 64, 32)),
        (3, mm.make_image_header("jpeg", 1920, 1080)),
        (4, b"plain text bytes, no image here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, data BINARY")
    got = {r["doc_id"]: r["d"] for r in
           df.select("doc_id", mm.image_dims("data").alias("d")).collect()}
    assert (got[0]["format"], got[0]["width"], got[0]["height"]) == \
        ("png", 100, 50)
    assert (got[3]["format"], got[3]["width"], got[3]["height"]) == \
        ("jpeg", 1920, 1080)
    assert got[4]["format"] is None and got[4]["width"] is None
    assert got[5]["format"] is None

    meta = {r["doc_id"]: r["data_meta"] for r in
            mm.with_image_meta(df, "data", probe=True).collect()}
    assert meta[1]["mime"] == "image/gif"
    assert (meta[1]["width"], meta[1]["height"]) == (7, 9)
    assert meta[2]["n_bytes"] == 26
    assert meta[4]["mime"] == "application/octet-stream"
    assert meta[4]["width"] is None
    # non-probed path unchanged
    m0 = {r["doc_id"]: r["data_meta"] for r in
          mm.with_image_meta(df, "data").collect()}
    assert m0[0]["width"] is None and m0[0]["mime"].startswith("application")


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule must fire on a crafted violator and pass on
    clean prose; `keep` is the conjunction."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.text import gopher_quality_flags

    prose = ("the quick brown fox jumps over the lazy dog and runs to "
             "the river that flows past the old mill with water and "
             "stones and birds that have nests near the bank of the "
             "stream where children play every sunny afternoon in "
             "summer holidays together happily ") * 2
    rows = [
        (0, prose),                                     # clean: keep
        (1, "too short to have fifty words"),           # word count
        (2, " ".join(["a"] * 60)),                       # mean word len < 3
        (3, prose + " " + "#" * 1 + " #" * 30),          # symbol ratio
        (4, "\n".join(["- bullet item " + str(i) for i in range(10)])
            + "\n" + prose),                             # bullets (10/11 > 0.9? 10 of 11 lines)
        (5, "\n".join([prose] + ["trailing words..."] * 9)),  # ellipsis
        (6, prose + " " + " ".join(["1234"] * 80)),      # alpha word frac
        (7, " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 15)),
        (8, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    flags = gopher_quality_flags(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[c.alias(k) for k, c in flags.items()]).collect()}
    assert got[0]["keep"] is True
    assert got[1]["keep"] is False and got[1]["n_words"] < 50
    assert got[2]["keep"] is False and got[2]["mean_word_len"] < 3.0
    assert got[3]["keep"] is False and got[3]["symbol_ratio"] > 0.1
    assert got[4]["keep"] is False and got[4]["bullet_line_frac"] > 0.9
    assert got[5]["keep"] is False and got[5]["ellipsis_line_frac"] > 0.3
    assert got[6]["keep"] is False and got[6]["alpha_word_frac"] < 0.8
    # doc 7: no required function words at all
    assert got[7]["required_hits"] == 0 and got[7]["keep"] is False
    assert got[8]["keep"] is None


def test_gopher_quality_flags_leading_whitespace(spark):
    """Text starting with a tab/newline must not grow a phantom empty
    token (F.trim strips only ASCII spaces): word stats and required
    hits match the space-led twin exactly."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.text import gopher_quality_flags

    prose = ("the quick brown fox jumps over the lazy dog and runs to "
             "the river that flows past the old mill with water and "
             "stones and birds that have nests near the bank of the "
             "stream where children play every sunny afternoon") * 2
    docs = spark.createDataFrame(
        [(0, prose), (1, "\t" + prose), (2, "\n" + prose + "\n")],
        "doc_id LONG, text STRING")
    flags = gopher_quality_flags(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[c.alias(k) for k, c in flags.items()]).collect()}
    for k in ("n_words", "mean_word_len", "alpha_word_frac",
              "required_hits", "keep"):
        assert got[1][k] == got[0][k], k
        assert got[2][k] == got[0][k], k
    # required-word detection is token-exact: punctuation-glued
    # occurrences ('the,') do not count, capitalized bare ones do
    glued = " ".join(["word"] * 60) + " the, of. The WITH"
    g = spark.createDataFrame([(0, glued)], "doc_id LONG, text STRING")
    hits = g.select(gopher_quality_flags(F.col("text"))
                    ["required_hits"].alias("h")).first()["h"]
    assert hits == 2  # 'The' + 'WITH'; 'the,'/'of.' excluded


def test_c4_quality_flags_rules(spark):
    """Each C4 rule (Raffel et al. 2020 s2.2) fires on a crafted
    violator and passes on clean prose; the line filter is the
    intervention, `keep` the page-level conjunction."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.text import c4_clean_lines, c4_quality_flags

    good = ("The quick brown fox jumps over the lazy dog today.\n"
            "Another fine sentence carries more than five words easily.\n"
            "A third one closes the paragraph with proper punctuation!")
    rows = [
        (0, good),                                     # clean: keep
        (1, good + "\nshort line."),                   # <5 words: dropped
        (2, good + "\nno terminal punctuation in this line"),
        (3, good + "\nPlease enable javascript to continue reading."),
        (4, "One sentence only lives on this page."),  # <3 sentences
        (5, good + "\nSome Lorem Ipsum filler appears right here."),
        (6, good + " { int x = 0; }"),                 # curly brace
        (7, good + "\nWell shit happens to everyone sometimes sadly."),
        (8, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    flags = c4_quality_flags(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[c.alias(k) for k, c in flags.items()]).collect()}
    assert got[0]["keep"] is True and got[0]["n_sentences"] == 3
    # line-filter interventions: offending line removed, page keeps
    for i in (1, 2, 3):
        assert got[i]["clean_text"] == good, i
        assert got[i]["kept_line_frac"] < 1.0, i
        assert got[i]["keep"] is True, i
    assert got[4]["keep"] is False and got[4]["n_sentences"] == 1
    assert got[5]["keep"] is False and got[5]["has_lorem"] is True
    assert got[6]["keep"] is False and got[6]["has_brace"] is True
    assert got[7]["keep"] is False and got[7]["has_bad_word"] is True
    assert got[8]["keep"] is None
    # bad-word match is whole-token: a containing word does not fire
    b = spark.createDataFrame(
        [(0, good + " The shitake mushroom is edible.")],
        "doc_id LONG, text STRING")
    assert b.select(c4_quality_flags(F.col("text"))["has_bad_word"]
                    .alias("x")).first()["x"] is False
    # c4_clean_lines is the same intervention as flags['clean_text']
    same = docs.filter(F.col("text").isNotNull()).select(
        (c4_clean_lines(F.col("text"))
         == c4_quality_flags(F.col("text"))["clean_text"]).alias("eq"))
    assert all(r["eq"] for r in same.collect())


def test_canonicalize_url(spark):
    """Case, default ports, fragments, tracking params, and param
    order all normalize away; distinct resources stay distinct."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.urls import canonicalize_url, registered_domain

    rows = [
        (0, "HTTP://Example.COM:80/a/B?utm_source=x&b=2&a=1#frag"),
        (1, "http://example.com/a/B?a=1&b=2"),
        (2, "https://example.com:443/a/B?a=1&b=2"),   # scheme differs
        (3, "http://example.com:8080/a/B?a=1&b=2"),   # real port kept
        (4, "http://example.com"),                    # empty path -> /
        (5, "not a url at all"),                      # passthrough
        (6, "http://sub.shop.example.co.uk/x?fbclid=abc"),
        (7, "http://example.com/p#/route?tab=1"),     # '?' inside frag
        (8, "http://example.com/p?a=1#frag?b=2"),     # frag after query
    ]
    df = spark.createDataFrame(rows, "i LONG, url STRING")
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonicalize_url("url").alias("c")).collect()}
    assert got[0] == got[1] == "http://example.com/a/B?a=1&b=2"
    assert got[2] == "https://example.com/a/B?a=1&b=2"
    assert got[3] == "http://example.com:8080/a/B?a=1&b=2"
    assert got[4] == "http://example.com/"
    assert got[5] == "not a url at all"
    assert got[6] == "http://sub.shop.example.co.uk/x"
    # fragment content must never resurface as a query string
    assert got[7] == "http://example.com/p"
    assert got[8] == "http://example.com/p?a=1"
    doms = {r["i"]: r["d"] for r in df.select(
        "i", registered_domain(F.regexp_replace(F.regexp_extract(
            canonicalize_url("url"),
            r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1), ":.*", ""))
        .alias("d")).collect()}
    assert doms[0] == "example.com"
    assert doms[6] == "example.co.uk"   # multi-part suffix


def test_url_dedup_and_domain_counts(spark):
    from pyspark.sql import functions as F

    from xclim_spark.llm.urls import domain_counts, url_dedup

    rows = [
        (10, "HTTP://A.com/x?utm_source=1"),
        (11, "http://a.com:80/x"),
        (12, "http://a.com/y"),
        (13, "https://b.org/z#top"),
        (14, "https://b.org/z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, url STRING")
    got = {r["canon_url"]: r for r in url_dedup(docs).collect()}
    assert got["http://a.com/x"]["kept_doc_id"] == 10
    assert got["http://a.com/x"]["n_dups"] == 2
    assert got["https://b.org/z"]["n_dups"] == 2
    assert got["http://a.com/y"]["n_dups"] == 1
    dc = {r["domain"]: r["n_docs"] for r in domain_counts(docs).collect()}
    assert dc == {"a.com": 2, "b.org": 1}
    raw = {r["domain"]: r["n_docs"]
           for r in domain_counts(docs, dedup_first=False).collect()}
    assert raw == {"a.com": 3, "b.org": 2}


def _pq_corpus(spark, n=200, dim=16, n_blobs=8, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    means = rng.standard_normal((n_blobs, dim)) * 3.0
    X = means[np.arange(n) % n_blobs] + rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    return df, X


def test_pq_fit_matches_per_subspace_kmeans(spark):
    """The fused one-scan-per-iteration PQ trainer must produce the
    codebooks of a plain numpy Lloyd loop run on each normalized
    subspace slice — same init (first ks by id), same empty-code
    fallback, same stop rule (largest shift over all subspaces
    <= 1e-6)."""
    import numpy as np

    from xclim_spark.llm.similarity import pq_fit

    df, X = _pq_corpus(spark, n=120, dim=16)
    m, ks, iters = 4, 8, 10
    books = pq_fit(df, m=m, ks=ks, iters=iters)
    assert books.shape == (m, ks, 16 // m)
    X32 = X.astype(np.float32).astype(np.float64)  # the stored floats
    Xn = X32 / np.linalg.norm(X32, axis=1, keepdims=True)
    S = np.stack(np.split(Xn, m, axis=1))  # (m, n, dsub)
    ref = S[:, :ks].copy()
    for _ in range(iters):
        new = ref.copy()
        for j in range(m):
            d2 = ((S[j][:, None, :] - ref[j][None]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for c in range(ks):
                if (a == c).any():
                    new[j, c] = S[j][a == c].mean(axis=0)
        shift = np.abs(new - ref).max()
        ref = new
        if shift <= 1e-6:
            break
    for j in range(m):
        assert np.allclose(books[j], ref[j], atol=1e-9), f"subspace {j}"


def test_pq_encode_codes(spark):
    import numpy as np

    from xclim_spark.llm.similarity import pq_encode, pq_fit

    df, X = _pq_corpus(spark, n=100, dim=16)
    books = pq_fit(df, m=4, ks=8, iters=2)
    enc = pq_encode(df, books).collect()
    assert len(enc) == 100
    for r in enc:
        codes = r["pq_codes"]
        assert len(codes) == 4
        assert all(0 <= c < 8 for c in codes)
    # deterministic: re-encode gives identical codes
    enc2 = {r["vec_id"]: r["pq_codes"] for r in pq_encode(df, books).collect()}
    for r in enc:
        assert enc2[r["vec_id"]] == r["pq_codes"]
    # parameter validation
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not divisible"):
        pq_fit(df, m=5, ks=8, iters=1)
    with _pytest.raises(ValueError, match="ks must be"):
        pq_fit(df, m=4, ks=300, iters=1)


def test_knn_ivfpq_exact_and_recall(spark):
    """With every cell probed and the full corpus shortlisted the PQ
    path must return EXACTLY the brute-force top-k (the re-rank is
    exact cosine); with tight nprobe/shortlist the measured recall on
    blobby data stays high — the honest approximate-index number."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.similarity import (
        Codebook, kmeans_fit, knn_bruteforce, knn_ivfpq, pq_fit)

    df, _ = _pq_corpus(spark, n=200, dim=16)
    q = df.filter(F.col("vec_id") % 20 == 0)   # 10 queries
    cents_np = kmeans_fit(df, 8, iters=1)
    cents = Codebook.of(cents_np)
    books = pq_fit(df, m=4, ks=16, iters=2)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in knn_bruteforce(df, q, k=5).collect()}

    full = {(r["query_id"], r["neighbor_id"]) for r in knn_ivfpq(
        df, q, cents, books, k=5, nprobe=8, shortlist=200).collect()}
    assert full == exact

    tight = {(r["query_id"], r["neighbor_id"]) for r in knn_ivfpq(
        df, q, cents, books, k=5, nprobe=2, shortlist=12).collect()}
    recall = len(tight & exact) / len(exact)
    assert recall >= 0.7, f"tight-parameter recall {recall:.2f}"


def test_c4_span_dedup(spark):
    """First (doc_id, start) occurrence of a duplicated 3-sentence
    span survives; later occurrences (cross-doc AND within-doc) are
    cut; unterminated tails and untouched docs stay byte-identical."""
    from xclim_spark.llm.dedup import c4_span_dedup

    A = " Alpha one is here."
    B = " Beta two follows on."
    G = " Gamma three closes it."
    rows = [
        (0, "Doc zero opener." + A + B + G + " Unique zero closer."),
        (1, "Doc one opener." + A + B + G),          # dup of doc 0's span
        (2, "Doc two opener." + A + B + G + " tail no terminal"),
        (3, "Doc three stands alone. Nothing shared here."),
        (4, "Doc four opener." + A + B + G + A + B + G),  # twice in one doc
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in c4_span_dedup(docs, n=3).collect()}
    # doc 0 holds the first occurrence -> byte-identical
    assert got[0]["text"] == rows[0][1]
    assert got[0]["n_sentences_removed"] == 0
    # docs 1/2 lose the span; doc 2 keeps its unterminated tail
    assert got[1]["text"] == "Doc one opener."
    assert got[1]["n_sentences_removed"] == 3
    assert got[2]["text"] == "Doc two opener. tail no terminal"
    assert got[2]["n_sentences_removed"] == 3
    # untouched doc byte-identical
    assert got[3]["text"] == rows[3][1]
    assert got[3]["n_sentences_removed"] == 0
    # doc 4: its FIRST copy is a non-first occurrence (doc 0 wins) and
    # the second copy duplicates too -> both cut
    assert got[4]["text"] == "Doc four opener."
    assert got[4]["n_sentences_removed"] == 6


def test_stratified_topn(spark):
    """Exact per-group quotas, hash-decided (order-independent), and
    monotone in n (raising a quota only adds rows)."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.pipeline import stratified_topn

    rows = [(i, f"src{i % 3}") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    got = stratified_topn(docs, 5).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert all(len(v) == 5 for v in by_src.values())
    # order/partitioning independence: same draw from a shuffled input
    got2 = stratified_topn(
        docs.orderBy(F.desc("doc_id")).repartition(7), 5).collect()
    assert {(r["doc_id"], r["source"]) for r in got2} \
        == {(r["doc_id"], r["source"]) for r in got}
    # monotone: n=5 sample is a subset of n=10
    big = {(r["doc_id"], r["source"])
           for r in stratified_topn(docs, 10).collect()}
    assert {(r["doc_id"], r["source"]) for r in got} <= big
    # a group smaller than the quota survives whole
    small = spark.createDataFrame(
        [(1, "only"), (2, "only")], "doc_id LONG, source STRING")
    assert len(stratified_topn(small, 5).collect()) == 2


def test_unicode_normalize(spark):
    import unicodedata

    from pyspark.sql import functions as F

    import pytest as _pytest

    from xclim_spark.llm.text import unicode_normalize

    rows = [
        (0, "café"),          # NFC composes
        (1, "café"),           # already composed: unchanged
        (2, "ﬁle"),            # ligature: NFC keeps, NFKC expands
        (3, None),
    ]
    df = spark.createDataFrame(rows, "i LONG, t STRING")
    nfc = {r["i"]: r["n"] for r in df.select(
        "i", unicode_normalize("t").alias("n")).collect()}
    assert nfc[0] == nfc[1] == "café"
    assert nfc[2] == "ﬁle"
    assert nfc[3] is None
    nfkc = {r["i"]: r["n"] for r in df.select(
        "i", unicode_normalize("t", "NFKC").alias("n")).collect()}
    assert nfkc[2] == "file"
    assert nfkc[0] == unicodedata.normalize("NFKC", rows[0][1])
    with _pytest.raises(ValueError, match="unknown form"):
        unicode_normalize("t", "NFX")


def test_bm25_topk(spark):
    """Hand-checkable BM25 on a tiny corpus: rarer terms weigh more,
    repeated terms saturate, non-matching docs are excluded, ties
    break on id; plan stays broadcast + TakeOrderedAndProject."""
    import math

    import pytest as _pytest

    from xclim_spark.llm.search import bm25_topk

    rows = [
        (0, "apple banana banana cherry"),
        (1, "apple apple apple apple"),
        (2, "banana cherry cherry cherry"),
        (3, "durian elderberry fig grape"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = bm25_topk(docs, ["cherry"], k=10).collect()
    # docs 0 and 2 match; doc 2 has higher tf -> higher score
    assert [r["doc_id"] for r in got] == [2, 0]
    n, df, avgdl = 4, 2, 4.0
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    exp2 = idf * 3 / (3 + 1.2 * (1 - 0.75 + 0.75 * 4 / avgdl))
    assert abs(got[0]["score"] - round(exp2, 6)) < 1e-9
    # multi-term: docs 0 and 2 both match both terms; doc 2's
    # tf profile (1+3 vs 2+1) wins under saturation
    multi = bm25_topk(docs, ["banana", "cherry"], k=10).collect()
    assert [r["doc_id"] for r in multi] == [2, 0]
    with _pytest.raises(ValueError, match="empty query"):
        bm25_topk(docs, [])
    plan = bm25_topk(docs, ["cherry"], k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_audio_header_probe(spark):
    """WAV/FLAC stream parameters recovered from real header structs;
    non-audio payloads keep NULLs and the caller's mime; 'RIFF'-text
    false positives rejected (no WAVE tag)."""
    from xclim_spark.llm.multimodal import (
        make_audio_header, parse_audio_header, with_audio_meta)

    # builder <-> parser round trip, both formats, odd parameters
    assert parse_audio_header(
        make_audio_header("wav", 22050, 1, 7) + b"x") \
        == ("wav", 22050, 1, 16, 7)
    assert parse_audio_header(
        make_audio_header("flac", 96000, 8, (1 << 35), bits=32)) \
        == ("flac", 96000, 8, 32, 1 << 35)
    assert parse_audio_header(b"RIFF from the river") is None
    assert parse_audio_header(b"fLaC") is None  # truncated
    # trailing payload bytes past the declared RIFF container must not
    # be parsed as chunks — a fake 'fmt ' there cannot overwrite the
    # real stream parameters
    import struct as _struct
    evil = (make_audio_header("wav", 22050, 1, 7)
            + b"fmt " + _struct.pack("<I", 16)
            + _struct.pack("<HHIIHH", 1, 9, 99, 99 * 18, 18, 64))
    assert parse_audio_header(evil) == ("wav", 22050, 1, 16, 7)
    # an under-sized fmt chunk (declared < 16 bytes) is ignored
    tiny = (b"RIFF" + _struct.pack("<I", 4 + 8 + 8 + 8) + b"WAVE"
            + b"fmt " + _struct.pack("<I", 8) + b"\x00" * 8
            + b"data" + _struct.pack("<I", 0))
    assert parse_audio_header(tiny) is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="out of range"):
        make_audio_header("flac", 1 << 21, 1, 1)

    rows = [
        (0, make_audio_header("wav", 16000, 2, 8000)),
        (1, make_audio_header("flac", 44100, 1, 44100)),
        (2, b"just some bytes"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, data BINARY")
    got = {r["doc_id"]: r["data_meta"] for r in
           with_audio_meta(df, "data", probe=True).collect()}
    assert got[0]["mime"] == "audio/wav"
    assert (got[0]["sample_rate"], got[0]["channels"],
            got[0]["n_samples"]) == (16000, 2, 8000)
    assert got[1]["mime"] == "audio/flac"
    assert got[1]["n_samples"] == 44100
    assert got[2]["mime"] == "application/octet-stream"
    assert got[2]["sample_rate"] is None
    assert got[3]["n_bytes"] is None
    # non-probed path: NULL params, JVM-side byte count
    raw = {r["doc_id"]: r["data_meta"] for r in
           with_audio_meta(df, "data").collect()}
    assert raw[0]["sample_rate"] is None and raw[2]["n_bytes"] == 15


def test_gopher_repetition_flags(spark):
    """Hand-computed Table-A1 statistics on crafted docs: dup line/para
    (+char) fractions, top-gram coverage, and the TRUE interval union
    for duplicate n-grams (overlapping occurrences counted once)."""
    from xclim_spark.llm.pipeline import gopher_repetition_flags

    rows = [
        # 4 lines, 'dup' twice: dup_line_frac 1/4; chars 3/(3+3+5+6)
        (0, "dup\ndup\nlineb\nlinecc"),
        # paragraphs: 'para one' twice of 3 -> 1/3; chars 8/(8+8+5)
        (1, "para one\n\npara one\n\nother"),
        # 'a b a b a b' -> top bigram 'a b' count 3 wait: tokens
        # [a,b,a,b,a,b]; bigrams: ab ba ab ba ab -> 'a b' x3, len 3
        # stream total = 6*1 + 5 = 11 -> top2 = 3*3/11
        (2, "a b a b a b"),
        # dup 5-gram: 'x1..x5' twice, overlapping runs unioned:
        # tokens x1..x5 y x1..x5 -> the 5-gram 'x1 x2 x3 x4 x5'
        # occurs at 0 and 6; each covers 14 chars; no overlap ->
        # 28/total; total = 11 tokens * 2 chars + 10 = 32
        (3, "x1 x2 x3 x4 x5 yy x1 x2 x3 x4 x5"),
        # overlapping dup 5-grams: 'z z z z z z' -> 5-gram 'z z z z z'
        # at 0 and 1, intervals [0,9) and [2,11) union = 11 = total
        (4, "z z z z z z"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in
           gopher_repetition_flags(docs).collect()}
    assert abs(got[0]["dup_line_frac"] - 1 / 4) < 1e-12
    assert abs(got[0]["dup_line_char_frac"] - 3 / 17) < 1e-12
    assert abs(got[1]["dup_para_frac"] - 1 / 3) < 1e-12
    assert abs(got[1]["dup_para_char_frac"] - 8 / 21) < 1e-12
    assert abs(got[2]["top_2gram_char_frac"] - 9 / 11) < 1e-12
    assert abs(got[3]["dup_5gram_char_frac"] - 28 / 32) < 1e-12
    assert abs(got[4]["dup_5gram_char_frac"] - 1.0) < 1e-12
    assert got[4]["keep"] is False     # saturated repetition
    assert got[5]["keep"] is None
    # a repetition-free doc of realistic length keeps (a VERY short
    # doc legitimately fails top-n-gram: one singleton bigram can
    # cover >20% of a 45-char stream — Gopher's 50-word minimum
    # filters those upstream)
    clean = spark.createDataFrame(
        [(9, " ".join(f"word{i:03d}" for i in range(60)))],
        "doc_id LONG, text STRING")
    r9 = gopher_repetition_flags(clean).collect()[0]
    assert r9["keep"] is True
    assert r9["dup_10gram_char_frac"] == 0.0
    assert r9["dup_line_frac"] == 0.0


def test_dedup_paragraphs(spark):
    """First occurrence of a repeated paragraph survives (cross-doc AND
    within-doc); short paragraphs are immune; untouched docs stay
    byte-identical including empty-paragraph structure."""
    from xclim_spark.llm.dedup import dedup_paragraphs

    boiler = "this boilerplate paragraph repeats across documents"
    rows = [
        (0, "first document opening paragraph text\n\n" + boiler),
        (1, "second document opening paragraph here\n\n" + boiler),
        (2, boiler + "\n\n" + boiler),          # within-doc repeat
        (3, "short\n\nshort\n\nunique paragraph long enough to count"),
        (4, "untouched document with nothing shared at all\n\n\n\nx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in
           dedup_paragraphs(docs, min_chars=20).collect()}
    assert got[0]["text"] == rows[0][1]          # holds first occurrence
    assert got[0]["n_paras_removed"] == 0
    assert got[1]["text"] == "second document opening paragraph here"
    assert got[1]["n_paras_removed"] == 1
    assert got[2]["text"] == ""                  # both copies beaten by doc 0
    assert got[2]["n_paras_removed"] == 2
    # 'short' (< 20 chars) repeats but is immune
    assert got[3]["text"] == rows[3][1]
    assert got[3]["n_paras_removed"] == 0
    assert got[4]["text"] == rows[4][1]          # byte-identical incl \n\n\n\n


@pytest.mark.slow
def test_knn_ivfpq_residual(spark):
    """IVFADC residual encoding: exact at generous parameters, and at
    TIGHT parameters residual codes beat (or match) plain codes on
    blobby data — residuals spend precision on within-cell structure
    instead of re-coding the cell mean."""
    from pyspark.sql import functions as F

    from xclim_spark.llm.similarity import (
        Codebook, kmeans_fit, knn_bruteforce, knn_ivfpq, pq_fit)

    df, _ = _pq_corpus(spark, n=200, dim=16)
    q = df.filter(F.col("vec_id") % 20 == 0)
    cents_np = kmeans_fit(df, 8, iters=1)
    cents = Codebook.of(cents_np)
    plain = pq_fit(df, m=4, ks=8, iters=2)
    res = pq_fit(df, m=4, ks=8, iters=2, centroids=cents)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in knn_bruteforce(df, q, k=5).collect()}

    full = {(r["query_id"], r["neighbor_id"]) for r in knn_ivfpq(
        df, q, cents, res, k=5, nprobe=8, shortlist=200,
        residual=True).collect()}
    assert full == exact

    def recall(books, residual):
        got = {(r["query_id"], r["neighbor_id"]) for r in knn_ivfpq(
            df, q, cents, books, k=5, nprobe=3, shortlist=8,
            residual=residual).collect()}
        return len(got & exact) / len(exact)

    r_plain, r_res = recall(plain, False), recall(res, True)
    assert r_res >= 0.6
    assert r_res >= r_plain - 0.08, (r_plain, r_res)


def test_random_projection_preserves_distances(spark):
    """JL property sanity: projected pairwise distances stay within a
    loose multiplicative band of the originals (deterministic seeded
    matrix, so this is a fixed numeric check, not a flaky one), and
    the projection is bit-reproducible across calls."""
    import numpy as np

    from xclim_spark.llm.similarity import random_projection

    rng = np.random.RandomState(11)
    X = rng.standard_normal((40, 32))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = {r["vec_id"]: np.asarray(r["p"]) for r in df.select(
        "vec_id",
        random_projection("embedding", dim=32, out_dim=16).alias("p")
    ).collect()}
    assert all(len(v) == 16 for v in out.values())
    ratios = []
    for a in range(0, 40, 7):
        for b in range(a + 1, 40, 7):
            d0 = np.linalg.norm(X[a] - X[b])
            d1 = np.linalg.norm(out[a] - out[b])
            ratios.append(d1 / d0)
    r = np.asarray(ratios)
    assert 0.5 < r.min() and r.max() < 1.6, (r.min(), r.max())
    out2 = {r["vec_id"]: list(r["p"]) for r in df.select(
        "vec_id",
        random_projection("embedding", dim=32, out_dim=16).alias("p")
    ).collect()}
    assert all(list(out[k]) == out2[k] for k in out)


# ---------------------------------------------------------------- BPE


def _ref_bpe(corpus, num_merges, min_count=2):
    """Independent pure-Python Sennrich-style reference: word-frequency
    dict, per-occurrence pair counts, (count desc, pair asc) argmax,
    greedy left-fold merge application."""
    wc = {}
    for t in corpus:
        for w in t.strip().lower().split():
            wc[w] = wc.get(w, 0) + 1
    st = {w: tuple(list(w) + ["</w>"]) for w in wc}
    merges = []
    for _ in range(num_merges):
        pc = {}
        for w, syms in st.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), c = best
        merges.append((a, b, c))
        nxt = {}
        for w, syms in st.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            nxt[w] = tuple(out)
        st = nxt
    return merges, st


@pytest.fixture(params=["local", "distributed"])
def bpe_side(request, monkeypatch):
    """Run BPE training on either side of its size gate: the
    distributed rounds run when no word table fits the driver."""
    from xclim_spark.llm import tokenizer

    if request.param == "distributed":
        monkeypatch.setattr(tokenizer, "_LOCAL_MAX_WORDS", 0)
    return request.param


def test_bpe_train_matches_reference(spark, bpe_side):
    """Spark-trained merges match the independent pure-Python BPE on a
    crafted corpus: exact merge order, pair counts, tie-breaks, early
    stop, and final per-word segmentations."""
    from xclim_spark.llm.tokenizer import (
        bpe_encode_counts, bpe_encode_words, bpe_train)

    corpus = [
        "low low low low low lower lower newest newest",
        "newest newest newest widest widest widest wider",
        "low lowest newest wide wide wider",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id LONG, text STRING")
    ref_merges, ref_st = _ref_bpe(corpus, 12)
    got = bpe_train(docs, num_merges=12)
    assert got == ref_merges
    # encoder parity: token counts per doc against the reference state
    mg = [(a, b) for a, b, _ in got]
    counts = {r["doc_id"]: (r["n_words"], r["n_tokens"]) for r in
              bpe_encode_counts(docs, got).collect()}
    for i, t in enumerate(corpus):
        words = t.strip().lower().split()
        exp_tok = sum(len(ref_st[w]) for w in words)
        assert counts[i] == (len(words), exp_tok)
    # unseen word: encoder applies merges without a vocabulary entry
    enc = bpe_encode_words("lowwide", mg)
    assert enc and "".join(enc[0]).replace("</w>", "") == "lowwide"
    # NULL / whitespace-only docs keep zero counts
    docs2 = spark.createDataFrame(
        [(0, None), (1, "   ")], "doc_id LONG, text STRING")
    z = {r["doc_id"]: (r["n_words"], r["n_tokens"]) for r in
         bpe_encode_counts(docs2, got).collect()}
    assert z == {0: (0, 0), 1: (0, 0)}


def test_bpe_early_stop_and_run_merging(spark, bpe_side):
    """min_count stops training; runs of identical symbols merge
    greedily left-to-right (the fold-never-cascades contract)."""
    from xclim_spark.llm.tokenizer import bpe_encode_words, bpe_train

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa"), (1, "zq")], "doc_id LONG, text STRING")
    ref_merges, _ = _ref_bpe(["aaaa aaaa", "zq"], 50)
    got = bpe_train(docs, num_merges=50)
    assert got == ref_merges
    assert len(got) < 50  # early stop fired
    # greedy pairing on runs: "aaaa" + </w>; first merge is (a,a)
    assert (got[0][0], got[0][1]) == ("a", "a")
    enc = bpe_encode_words("aaaaaa", [("a", "a")])
    assert enc[0] == ["aa", "aa", "aa", "</w>"]
    enc5 = bpe_encode_words("aaaaa", [("a", "a")])
    assert enc5[0] == ["aa", "aa", "a", "</w>"]


def test_bpe_train_action_count(spark, bpe_side, last_sql_execution):
    """Local training makes two Spark actions (the word-table
    checkpoint and the capped collect) whatever the round count; each
    distributed round adds its argmax collect and its checkpoint."""
    from xclim_spark.llm.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [(0, "low lower lowest newer newest wider widest " * 3)],
        "doc_id LONG, text STRING")
    before = last_sql_execution()
    got = bpe_train(docs, num_merges=12, min_count=1)
    assert len(got) == 12  # no early stop
    want = 2 if bpe_side == "local" else 2 * 12 + 2
    assert last_sql_execution() - before == want


# -------------------------------------------------------------- Bloom


def test_bloom_membership_and_fp_rate(spark):
    """No false negatives ever; measured FP rate on disjoint probe keys
    tracks the closed form; sizing helper round-trips."""
    from xclim_spark.llm.bloom import (
        bloom_build, bloom_dense, bloom_fp_rate, bloom_parameters,
        bloom_probe)

    m, k = bloom_parameters(500, 0.01)
    assert m % 63 == 0 and k >= 1
    # theoretical rate at the designed load is ~the requested rate
    assert bloom_fp_rate(500, m, k) < 0.02

    num_bits, num_hashes = 63 * 64, 5
    seen = spark.range(300).select(
        F.concat(F.lit("seen-"), F.col("id")).alias("key"))
    dense = bloom_dense(
        bloom_build(seen, key_col="key", num_bits=num_bits,
                    num_hashes=num_hashes),
        num_bits=num_bits)
    arr = dense.first()["bloom"]
    assert len(arr) == num_bits // 63

    probe = spark.range(2300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 300, F.concat(F.lit("seen-"), F.col("id")))
        .when(F.col("id") == 2299, F.lit(None))
        .otherwise(F.concat(F.lit("new-"), F.col("id"))).alias("key"))
    out = bloom_probe(probe, dense, key_col="key", num_bits=num_bits,
                      num_hashes=num_hashes).collect()
    got = {r["doc_id"]: r["maybe_member"] for r in out}
    assert all(got[i] is True for i in range(300))       # no false neg
    assert got[2299] is None                             # NULL key
    fps = sum(1 for i in range(300, 2299) if got[i])
    expected = bloom_fp_rate(300, num_bits, num_hashes)
    # 1999 Bernoulli trials at ~2.8%: allow a generous band
    assert fps / 1999 < max(4 * expected, 0.02), (fps, expected)
    # zero-shuffle probe: no Exchange in the probe plan
    plan = bloom_probe(
        probe, dense, key_col="key", num_bits=num_bits,
        num_hashes=num_hashes)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "ShuffleExchange" not in plan.replace(
        "BroadcastExchange", "")


def test_knn_ivfpq_prebuilt_index(spark):
    """Probing a pre-built (cell, codes) index returns exactly what the
    inline encode path returns; a plain-codes probe of a residual index
    is rejected."""
    import pytest as _pytest

    from xclim_spark.llm.similarity import (
        Codebook, kmeans_fit, knn_ivfpq, pq_encode, pq_fit)

    docs, _ = _pq_corpus(spark, n=120, dim=16, n_blobs=6)
    cents_np = kmeans_fit(docs, 6, iters=1)
    cents = Codebook.of(cents_np)
    books = pq_fit(docs, m=4, ks=8, iters=2, centroids=cents)
    q = docs.filter(F.col("vec_id") % 40 == 0)
    inline = knn_ivfpq(docs, q, cents, books, k=3, nprobe=3,
                       shortlist=20, residual=True).collect()
    idx = pq_encode(docs, books, centroids=cents) \
        .select("vec_id", "pq_cell", "pq_codes")
    via_index = knn_ivfpq(docs, q, cents, books, k=3, nprobe=3,
                          shortlist=20, residual=True,
                          index=idx).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in inline)) \
        == sorted(((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in via_index))
    with _pytest.raises(ValueError, match="residual=True"):
        knn_ivfpq(docs, q, cents, books, index=idx)

    # shortlist = k: the answer is the ADC top 3, against a numpy
    # IVFADC where each probed cell's table is built from the query's
    # residual against THAT cell
    import numpy as np

    X = np.array([r["embedding"] for r in docs.orderBy("vec_id").collect()])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Cn = cents_np / np.linalg.norm(cents_np, axis=1, keepdims=True)
    cos = Xn @ Cn.T
    cell = cos.argmax(axis=1)
    R = Xn - Cn[cell]
    codes = np.stack(
        [((R[:, None, 4 * j:4 * j + 4] - books[j][None]) ** 2).sum(axis=2)
         .argmin(axis=1) for j in range(4)], axis=1)
    want = set()
    for qi in range(0, len(X), 40):
        cand = []
        for c in np.argsort(-cos[qi], kind="stable")[:3]:
            r = Xn[qi] - Cn[c]
            tab = [((r[4 * j:4 * j + 4] - books[j]) ** 2).sum(axis=1)
                   for j in range(4)]
            cand += [(sum(tab[j][codes[n, j]] for j in range(4)), n)
                     for n in np.flatnonzero(cell == c) if n != qi]
        want |= {(qi, n) for _, n in sorted(cand)[:3]}
    tight = knn_ivfpq(docs, q, cents, books, k=3, nprobe=3, shortlist=3,
                      residual=True, index=idx).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in tight} == want


def test_bloom_verdict_matches_probe(spark):
    """The plan-baked literal-array form (streaming ingest) returns the
    same verdicts as the broadcast-join form, including NULL keys."""
    from xclim_spark.llm.bloom import (
        bloom_build, bloom_dense, bloom_probe, bloom_verdict)

    nb, k = 63 * 32, 5
    seen = spark.range(150).select(
        F.concat(F.lit("s-"), F.col("id")).alias("key"))
    dense_df = bloom_dense(
        bloom_build(seen, key_col="key", num_bits=nb, num_hashes=k),
        num_bits=nb)
    arr = dense_df.first()["bloom"]
    probe = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 150, F.concat(F.lit("s-"), F.col("id")))
        .when(F.col("id") == 399, F.lit(None))
        .otherwise(F.concat(F.lit("n-"), F.col("id"))).alias("key"))
    a = {r["doc_id"]: r["maybe_member"] for r in bloom_probe(
        probe, dense_df, key_col="key", num_bits=nb,
        num_hashes=k).collect()}
    b = {r["doc_id"]: r["v"] for r in probe.select(
        "doc_id", bloom_verdict("key", arr, num_bits=nb,
                                num_hashes=k).alias("v")).collect()}
    assert a == b
    assert a[399] is None


def test_lm_perplexity_matches_hand_reference(spark):
    """Bigram stupid-backoff scores pinned against a hand-computed
    reference: seen bigrams score c(prev,w)/c(prev), unseen contexts
    and document starts take the smoothed backoff unigram, OOV stays
    finite, token-less docs keep NULLs, buckets split by (ppl, id)."""
    import math

    from xclim_spark.llm.lm import (
        BACKOFF_ALPHA, lm_buckets, lm_score, lm_train_counts)

    ref = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran"), (2, "the dog sat")],
        "doc_id LONG, text STRING")
    uni, big, sc = lm_train_counts(ref)
    U = {r["w"]: r["cu"] for r in uni.collect()}
    assert U == {"the": 3, "cat": 2, "dog": 1, "sat": 2, "ran": 1}
    B = {r["bg"]: r["cb"] for r in big.collect()}
    assert B["the\x1fcat"] == 2 and B["cat\x1fsat"] == 1
    T, V = 9, 5

    def uniscore(w):
        return math.log(
            BACKOFF_ALPHA * (U.get(w, 0) + 0.5) / (T + 0.5 * V))

    docs = spark.createDataFrame(
        [(10, "the cat sat"),      # all bigrams seen
         (11, "the zebra sat"),    # OOV token mid-doc
         (12, None), (13, "   ")],
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in
           lm_score(docs, uni, big, sc).collect()}
    exp10 = (uniscore("the") + math.log(2 / 3) + math.log(1 / 2)) / 3
    assert got[10]["n_tokens"] == 3
    assert abs(got[10]["avg_logprob"] - round(exp10, 6)) < 1e-9
    assert got[10]["ppl"] == round(math.exp(-round(exp10, 6)), 4)
    exp11 = (uniscore("the") + uniscore("zebra") + uniscore("sat")) / 3
    assert abs(got[11]["avg_logprob"] - round(exp11, 6)) < 1e-9
    assert got[12]["n_tokens"] == 0 and got[12]["ppl"] is None
    assert got[13]["n_tokens"] == 0 and got[13]["avg_logprob"] is None
    bucketed = {r["doc_id"]: r["ppl_bucket"] for r in
                lm_buckets(lm_score(docs, uni, big, sc),
                           n_buckets=2).collect()}
    assert bucketed[10] == 1          # fluent doc in the head bucket
    assert bucketed[11] == 2
    assert bucketed[12] is None


def test_lm_threshold_buckets_track_ntile(spark):
    """The sort-free threshold bucketing (approxQuantile cutoffs +
    map-side compare) is monotone in ppl and matches the exact ntile
    split within one row per boundary on tie-free data."""
    from collections import Counter

    from xclim_spark.llm.lm import (
        lm_bucket_thresholds, lm_buckets, lm_buckets_by_threshold,
        lm_score, lm_train_counts)

    ref = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * (1 + i % 3))
         for i in range(6)], "doc_id LONG, text STRING")
    uni, big, sc = lm_train_counts(ref)
    docs = spark.createDataFrame(
        [(i, " ".join(["alpha", "beta", "gamma", "nu"][: 1 + i % 4]
                      * (1 + i % 5)) + f" unique{i}")
         for i in range(60)] + [(999, None)],
        "doc_id LONG, text STRING")
    scored = lm_score(docs, uni, big, sc).localCheckpoint()
    exact = {r["doc_id"]: r["ppl_bucket"]
             for r in lm_buckets(scored).collect()}
    cuts = lm_bucket_thresholds(scored, relative_error=1e-6)
    assert len(cuts) == 2 and cuts[0] <= cuts[1]
    approx = {r["doc_id"]: r["ppl_bucket"] for r in
              lm_buckets_by_threshold(scored, cuts).collect()}
    assert approx[999] is None
    # monotone: bucket order agrees with ppl order
    ppls = {r["doc_id"]: r["ppl"] for r in scored.collect()}
    sd = [d for d in approx if approx[d] is not None]
    for a in sd:
        for b in sd:
            if ppls[a] < ppls[b]:
                assert approx[a] <= approx[b]
    # sizes within 1 per boundary of the exact split
    ce, ca = Counter(exact[d] for d in sd), Counter(approx[d] for d in sd)
    for k in (1, 2, 3):
        assert abs(ce[k] - ca[k]) <= 2, (ce, ca)


@pytest.mark.slow
def test_lm_buckets_matches_ntile(spark):
    """The single-window ntile arithmetic in lm_buckets reproduces the
    filter + F.ntile + self-join implementation row-for-row — over
    remainder/no-remainder splits, fewer rows than buckets, null ppl
    mixed in, and the empty frame."""
    import random

    from pyspark.sql import Window

    from xclim_spark.llm.lm import lm_buckets

    def old(scored, n_buckets):
        w = Window.orderBy(F.asc("ppl"), F.asc("doc_id"))
        ranked = (scored.where(F.col("ppl").isNotNull())
                  .withColumn("ppl_bucket",
                              F.ntile(n_buckets).over(w).cast("int"))
                  .select("doc_id", "ppl_bucket"))
        return scored.join(ranked, on="doc_id", how="left")

    rng = random.Random(7)
    for n, nb in [(0, 3), (1, 3), (2, 3), (3, 2), (4, 7), (9, 3),
                  (10, 4), (101, 3), (97, 7)]:
        rows = [(i, None if rng.random() < 0.25
                 else round(rng.random() * 100, 4)) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, ppl double")
        a = {r["doc_id"]: r["ppl_bucket"]
             for r in lm_buckets(df, n_buckets=nb).collect()}
        b = {r["doc_id"]: r["ppl_bucket"]
             for r in old(df, nb).collect()}
        assert a == b, (n, nb)


def test_lm_score_arrow_matches_joins(spark):
    """The broadcast-model Arrow scorer and the join scorer agree
    value-for-value (same rounded avg_logprob/ppl, same n_tokens) on a
    fixture covering null text, empty text, whitespace-only text,
    all-OOV docs, and seen-bigram docs — and the size gate falls back
    to the join plan when the model exceeds the row budget."""
    from xclim_spark.llm.lm import (
        lm_broadcast_model, lm_score, lm_train_counts)

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat"),
         (3, "cat and dog and cat")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "the cat sat"), (11, "unseen words entirely"), (12, None),
         (13, ""), (14, "   \t  "), (15, "the the the"), (16, "mat"),
         (17, "cat sat on the dog and the mat")],
        "doc_id long, text string")
    uni, big, sc = lm_train_counts(ref)
    arrow = lm_score(docs, uni, big, sc)          # auto -> broadcast
    joins = lm_score(docs, uni, big, sc, broadcast_model=False)
    ra = {r["doc_id"]: tuple(r) for r in arrow.collect()}
    rb = {r["doc_id"]: tuple(r) for r in joins.collect()}
    assert ra == rb
    assert ra[12][1] == 0 and ra[12][2] is None   # null text
    assert ra[14][1] == 0 and ra[14][3] is None   # whitespace-only
    # plan shapes: arrow = one MapInPandas, no joins; gated-out = joins
    ap = arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in ap and "Join" not in ap
    gated = lm_score(docs, uni, big, sc, broadcast_max_rows=3)
    gp = gated._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in gp and "Join" in gp
    assert {r["doc_id"]: tuple(r) for r in gated.collect()} == ra
    # an over-budget model collects to None (callers keep the join path)
    assert lm_broadcast_model(uni, big, max_rows=3) is None


def test_lm_score_degenerate_reference_model(spark):
    """A token-less reference corpus trains a (NULL, 0) scalars row;
    lm_broadcast_model must return None (not raise) so auto mode falls
    back to the join path's graceful NULL scores."""
    from xclim_spark.llm.lm import (
        lm_broadcast_model, lm_score, lm_train_counts)

    ref = spark.createDataFrame(
        [(1, None), (2, "   ")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "anything at all"), (11, None)],
        "doc_id long, text string")
    uni, big, sc = lm_train_counts(ref)
    assert lm_broadcast_model(uni, big) is None
    out = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["ppl"])
           for r in lm_score(docs, uni, big, sc).collect()}
    # auto mode did not raise; every score is the join path's NULL
    assert set(out) == {10, 11}
    assert all(v[1] is None and v[2] is None for v in out.values())


def test_lm_broadcast_model_gate_both_sides(spark, last_sql_execution):
    """The size gate costs one action (a capped read) on either side: a
    model that fits is built from the rows it read, a model over the
    gate returns None.  Both sides score like the join path."""
    from xclim_spark.llm.lm import (
        LmBroadcastModel, lm_broadcast_model, lm_score, lm_train_counts)

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "the cat sat"), (11, "dog on mat"), (12, None)],
        "doc_id long, text string")
    uni, big, sc = lm_train_counts(ref)
    n_rows = uni.count() + big.count()   # 6 unigrams + 6 bigrams

    def actions(max_rows):
        before = last_sql_execution()
        bm = lm_broadcast_model(uni, big, max_rows=max_rows)
        return bm, last_sql_execution() - before

    fits, n_fit = actions(n_rows)
    assert isinstance(fits, LmBroadcastModel) and n_fit == 1
    unid, bigd, total, vocab = fits.bc.value
    assert (total, vocab) == tuple(sc.first())
    assert len(unid) + len(bigd) == n_rows

    over, n_over = actions(n_rows - 1)
    assert over is None and n_over == 1

    def rows(df):
        return {r["doc_id"]: tuple(r) for r in df.collect()}

    joins = rows(lm_score(docs, uni, big, sc, broadcast_model=False))
    assert rows(lm_score(docs, uni, big, sc, broadcast_model=fits)) == joins
    assert rows(lm_score(docs, uni, big, sc,
                         broadcast_max_rows=n_rows - 1)) == joins


@pytest.mark.slow
def test_exact_first_components_match_naive(spark):
    """The exact-dedup-first composition yields the SAME component
    partition as closing the naive pair graph — exact copies have
    identical shingle sets — on a corpus with clone groups, cross-group
    near-dups, shingle-ineligible short docs, and NULLs."""
    from xclim_spark.llm.dedup import (
        connected_components, near_dup_components, near_duplicates)

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away tonight")
    near = ("the quick brown fox jumps over the lazy dog and runs far "
            "away today")
    rows = []
    for i in range(6):                      # clone group A (6 copies)
        rows.append((i, base))
    for i in range(6, 9):                   # clone group B (3 copies)
        rows.append((i, near))
    rows += [(9, "completely different text about spark engines and "
                 "parquet files at scale"),
             (10, "one two"),               # < 3 words: ineligible
             (11, None)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    naive = connected_components(near_duplicates(
        docs, threshold=0.5, num_perm=64, bands=32))
    comp = near_dup_components(
        docs, threshold=0.5, num_perm=64, bands=32)
    a = {r["id"]: r["component"] for r in naive.collect()}
    b = {r["id"]: r["component"] for r in comp.collect()}
    assert a == b
    assert set(a) == set(range(9))          # A+B merge; 9/10/11 absent
    assert len(set(a.values())) == 1


@pytest.mark.slow
def test_near_dup_components_default_is_exact_first(spark):
    """near_dup_components is the production front door: its
    exact-first composition must agree on the partition with closing
    the raw pair graph."""
    from xclim_spark.llm.dedup import (
        connected_components, near_dup_components, near_duplicates)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu")
    rows = [(i, base) for i in range(5)]
    rows += [(5, base.replace("mu", "nu")),
             (6, "entirely unrelated words about distributed query "
                 "planning and shuffles")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    kw = dict(threshold=0.5, num_perm=64, bands=32)

    default = {r["id"]: r["component"]
               for r in near_dup_components(docs, **kw).collect()}
    raw = {r["id"]: r["component"]
           for r in connected_components(
               near_duplicates(docs, **kw)).collect()}
    assert default == raw
    assert set(default) == set(range(6))
