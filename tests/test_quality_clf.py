"""Parity tests for the hashed-n-gram quality classifier
(llm/quality_clf.py) against a pure-numpy reference implementing the
identical contract: [a-z]+ tokens, _-joined bigrams, md5-prefix
feature hashing, count/ng features, intercept-as-feature, full-batch
GD with 9-decimal per-epoch weight rounding."""
import hashlib
import math
import re

import numpy as np
import pytest

from xclim_spark.llm import quality_clf as qc

CORPUS = [
    (0, "The quick brown fox jumps over the lazy dog near the river", 1),
    (1, "Buy cheap pills now best price click here now now", 0),
    (2, "A thoughtful essay on the history of the printing press and "
        "its impact on the spread of ideas in early modern Europe", 1),
    (3, "win win win free free free money money casino casino", 0),
    (4, "She walked along the shore while the tide pulled the light "
        "sand from under her feet", 1),
    (5, "CLICK subscribe smash like CLICK subscribe smash like", 0),
    (6, "Measurements of the cosmic microwave background constrain "
        "the curvature of the universe", 1),
    (7, "zzz qqq xxx zzz qqq xxx", 0),
    (8, "In the beginning the committee reviewed the proposal and "
        "the budget for the coming year", 1),
    (9, "lol lol lol omg omg wow", 0),
]
DIM = 64
EPOCHS = 10
LR = 5.0


def _np_feats(text, dim=DIM):
    toks = re.findall(r"[a-z]+", text.lower())
    grams = toks + [a + "_" + b for a, b in zip(toks, toks[1:])]
    ng = len(grams)
    xs = {}
    for g in grams:
        idx = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % dim
        xs[idx] = xs.get(idx, 0.0) + 1.0 / ng
    xs[dim] = 1.0
    return xs


def _np_train(rows, dim=DIM, epochs=EPOCHS, lr=LR, n=None):
    feats = [( _np_feats(t, dim), float(y)) for _, t, y in rows]
    n = n or len(feats)
    w = np.zeros(dim + 1)
    for _ in range(epochs):
        grad = np.zeros(dim + 1)
        for xs, y in feats:
            m = sum(x * w[j] for j, x in xs.items())
            r = 1.0 / (1.0 + math.exp(-m)) - y
            for j, x in xs.items():
                grad[j] += r * x
        w = np.array([round(wj - lr * gj / n, 9)
                      for wj, gj in zip(w, grad)])
    return w


@pytest.fixture(params=["local", "distributed"])
def side(request, monkeypatch):
    """Run training on either side of its size gate: the distributed
    loop runs when no feature table fits the driver."""
    if request.param == "distributed":
        monkeypatch.setattr(qc, "_LOCAL_MAX_ROWS", 0)
    return request.param


def test_train_matches_numpy_reference(spark, side):
    docs = spark.createDataFrame(
        CORPUS, "doc_id LONG, text STRING, label INT")
    got = np.array(qc.quality_clf_train(
        docs, label_col="label", dim=DIM, epochs=EPOCHS, lr=LR))
    want = _np_train(CORPUS)
    np.testing.assert_allclose(got, want, atol=2e-9)
    assert got[DIM] != 0.0                      # intercept moved
    assert np.count_nonzero(got[:DIM]) > 10     # features learned


def test_train_action_count(spark, side, last_sql_execution):
    """The capped collect is the only Spark action of local training,
    whatever the epoch count; distributed training adds one per epoch
    (the document count rides epoch 1's aggregation)."""
    docs = spark.createDataFrame(
        CORPUS, "doc_id LONG, text STRING, label INT")
    before = last_sql_execution()
    qc.quality_clf_train(docs, label_col="label", dim=DIM, epochs=EPOCHS,
                         lr=LR)
    want = 1 if side == "local" else EPOCHS + 1
    assert last_sql_execution() - before == want


def test_train_null_label_adds_no_gradient(spark, side):
    """A document with a NULL label counts toward ``n`` but adds no
    gradient, on both sides.  Its one gram hashes to a feature no other
    document has, whose gradient is therefore all NULL: that weight
    stays 0."""
    docs = spark.createDataFrame(
        CORPUS + [(10, "urchin", None)],
        "doc_id LONG, text STRING, label INT")
    assert set(_np_feats("urchin")) - set().union(
        *(_np_feats(t) for _, t, _ in CORPUS)) == {50}
    got = qc.quality_clf_train(docs, label_col="label", dim=DIM,
                               epochs=EPOCHS, lr=LR)
    n = len(CORPUS) + 1
    np.testing.assert_allclose(got, _np_train(CORPUS, n=n), atol=2e-9)
    assert got[50] == 0.0


def test_train_no_trainable_documents_raises(spark, side,
                                             last_sql_execution):
    docs = spark.createDataFrame(
        [(0, None, 1), (1, "", 0), (2, "123 !!", 1)],
        "doc_id LONG, text STRING, label INT")
    before = last_sql_execution()
    with pytest.raises(ValueError, match="no trainable documents"):
        qc.quality_clf_train(docs, label_col="label", dim=DIM)
    assert last_sql_execution() - before == 1


def test_score_matches_numpy_and_separates(spark):
    docs = spark.createDataFrame(
        CORPUS, "doc_id LONG, text STRING, label INT")
    w = qc.quality_clf_train(
        docs, label_col="label", dim=DIM, epochs=EPOCHS, lr=LR)
    scored = {r["doc_id"]: r["quality_score"]
              for r in qc.quality_clf_score(docs, w).collect()}
    wv = np.array(w)
    for did, text, _y in CORPUS:
        xs = _np_feats(text)
        m = sum(x * wv[j] for j, x in xs.items())
        want = 1.0 / (1.0 + math.exp(-m))
        assert scored[did] == pytest.approx(want, abs=1e-9)
    pos = np.mean([scored[d] for d, _, y in CORPUS if y == 1])
    neg = np.mean([scored[d] for d, _, y in CORPUS if y == 0])
    assert pos > neg + 0.1                     # it actually classifies


def test_score_zero_gram_doc_gets_intercept_only(spark):
    docs = spark.createDataFrame(
        CORPUS + [(99, "12345 678", 0)],
        "doc_id LONG, text STRING, label INT")
    w = qc.quality_clf_train(
        docs.where("doc_id < 99"), label_col="label", dim=DIM)
    got = {r["doc_id"]: r["quality_score"]
           for r in qc.quality_clf_score(docs, w).collect()}
    b = w[DIM]
    assert got[99] == pytest.approx(1.0 / (1.0 + math.exp(-b)), abs=1e-12)


UNICODE_CORPUS = [
    (0, "The QUICK Brown FOX — naïve café RÉSUMÉ über straße", 1),
    (1, None, 0),
    (2, "", 0),
    (3, "İstanbul KK kelvin-sign and DOTTED İ edge cases", 1),
    (4, "plain lowercase words repeat repeat repeat", 0),
    (5, "MiXeD CaSe BiGrAm BoUnDaRiEs 123 separated456by789digits", 1),
    (6, "  nbsp separated words and\ttabs\nnewlines", 0),
    (7, "a", 1),                       # single token: no bigrams
    (8, "zz " * 500, 0),               # clone-heavy: cache hits
]


def test_score_matches_jvm_feature_fold(spark):
    """The scorer tokenizes and hashes in Python (``re``,
    ``str.lower``, hashlib md5) where training derives its feature
    indices in the JVM (``regexp_extract_all``, ``lower``, ``md5``).
    Scores on mixed-case/Unicode/NULL fixtures must equal a plain fold
    over the JVM indices — ``acc = ((0.0 + w[i0]) + w[i1]) + ...``,
    ``acc / n_grams + b``, sigmoid — bit for bit, so any tokenizer
    divergence between the two engines shows up here."""
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in UNICODE_CORPUS],
        "doc_id LONG, text STRING")
    w = _np_train(CORPUS).tolist()
    jvm_idx = {r["doc_id"]: r["gi"] or [] for r in docs.select(
        "doc_id",
        qc.hashed_gram_indices(qc._gram_array("text"), DIM).alias("gi"),
    ).collect()}
    ids = sorted(jvm_idx)
    margins = []
    for did in ids:
        acc = 0.0
        for i in jvm_idx[did]:
            acc = acc + w[i]
        n = len(jvm_idx[did])
        margins.append((acc / n if n else 0.0) + w[DIM])
    want = dict(zip(ids, 1.0 / (1.0 + np.exp(-np.asarray(margins)))))
    got = {r["doc_id"]: r["quality_score"]
           for r in qc.quality_clf_score(docs, w).collect()}
    assert set(got) == set(want) == {i for i, _, _ in UNICODE_CORPUS}
    for did in want:
        assert got[did] == want[did], (did, got[did], want[did])


def test_score_arrow_matches_numpy_reference(spark):
    docs = spark.createDataFrame(
        CORPUS, "doc_id LONG, text STRING, label INT")
    w = qc.quality_clf_train(
        docs, label_col="label", dim=DIM, epochs=EPOCHS, lr=LR)
    scored = {r["doc_id"]: r["quality_score"]
              for r in qc.quality_clf_score(docs, w).collect()}
    wv = np.array(w)
    for did, text, _y in CORPUS:
        xs = _np_feats(text)
        m = sum(x * wv[j] for j, x in xs.items())
        want = 1.0 / (1.0 + math.exp(-m))
        assert scored[did] == pytest.approx(want, abs=1e-9)


def test_feature_build_hashes_grams_once_above_exchange(spark):
    """Token-less documents are dropped before the document shuffle, so
    Catalyst has no gram filter to push below it: the md5 feature hash
    runs only above the Exchange.  Those documents still do not count
    toward ``n``: training with them added gives the same weights."""
    extra = [(10, None, 1), (11, "", 0), (12, "123 456 !!", 1)]
    docs = spark.createDataFrame(
        CORPUS + extra, "doc_id LONG, text STRING, label INT")
    feats = qc._doc_features(docs, text_col="text", id_col="doc_id",
                             label_col="label", dim=DIM, bigrams=True)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines)
              if "Exchange hashpartitioning(_id" in ln)
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    below = []
    for ln in lines[at + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        below.append(ln)
    assert below and not any("md5" in ln for ln in below), plan
    assert any("md5" in ln for ln in lines[:at]), plan
    assert {r["_id"] for r in feats.collect()} == {i for i, _, _ in CORPUS}
    got = qc.quality_clf_train(docs, label_col="label", dim=DIM,
                               epochs=EPOCHS, lr=LR)
    np.testing.assert_allclose(got, _np_train(CORPUS), atol=2e-9)
