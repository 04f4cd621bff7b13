"""Hypothesis property tests for driver-side kernels.

These fuzz invariants that randomized-example tests can miss: the scalar
and vectorized CFFWIS kernels must agree bitwise on ANY state (they
diverged once, on the Eq.27b negative-BUI corner), and the sampling
threshold must be monotone and exact at the boundaries.
"""

import math

import numpy as np
import pytest

# brute-force equivalence fuzzes: minutes of opt-in wall clock
pytestmark = pytest.mark.slow
from hypothesis import example, given, settings
from hypothesis import strategies as st

from xclim_spark.operators import fire


finite = dict(allow_nan=False, allow_infinity=False)


@settings(max_examples=300, deadline=None)
@given(
    t=st.floats(-45.0, 45.0, **finite),
    p=st.floats(0.0, 120.0, **finite),
    w=st.floats(0.0, 80.0, **finite),
    h=st.floats(0.0, 99.9, **finite),
    f0=st.floats(0.0, 101.0, **finite),
    dm0=st.floats(0.0, 400.0, **finite),
    dc0=st.floats(0.0, 900.0, **finite),
    mth=st.integers(1, 12),
)
@example(
    t=-2.0,
    p=0.0,
    w=0.0,
    h=0.0,
    f0=0.0,
    dm0=0.0,
    dc0=5e-324,
    mth=1,
).via('discovered failure')
def test_scalar_and_vector_cffwis_kernels_agree(t, p, w, h, f0, dm0, dc0,
                                                mth):
    lat = 47.0
    f_s = fire._ffmc(t, p, w, h, f0)
    f_v = fire._ffmc_v(*[np.array([x]) for x in (t, p, w, h, f0)])[0]
    assert f_v == pytest.approx(f_s, rel=1e-12, abs=1e-12)

    dl = fire._day_length(lat, mth)
    m_s = fire._dmc(t, p, h, mth, lat, dm0)
    m_v = fire._dmc_v(np.array([t]), np.array([p]), np.array([h]),
                      np.array([dl]), np.array([dm0]))[0]
    assert m_v == pytest.approx(m_s, rel=1e-12, abs=1e-12)

    fl = fire._day_length_factor(lat, mth)
    c_s = fire._dc(t, p, mth, lat, dc0)
    c_v = fire._dc_v(np.array([t]), np.array([p]), np.array([fl]),
                     np.array([dc0]))[0]
    assert c_v == pytest.approx(c_s, rel=1e-12, abs=1e-12)

    isi_s = fire._isi(w, f_s)
    bui_s = fire._bui(m_s, c_s)
    fwi_s = fire._fwi(isi_s, bui_s)
    isi_v = fire._isi_v(np.array([w]), np.array([f_s]))[0]
    bui_v = fire._bui_v(np.array([m_s]), np.array([c_s]))[0]
    fwi_v = fire._fwi_v(np.array([isi_s]), np.array([bui_s]))[0]
    assert isi_v == pytest.approx(isi_s, rel=1e-12)
    assert bui_v == pytest.approx(bui_s, rel=1e-12, abs=1e-12)
    assert fwi_v == pytest.approx(fwi_s, rel=1e-12, abs=1e-12)
    assert fwi_s >= 0.0 and not math.isnan(fwi_s)


@settings(max_examples=200, deadline=None)
@given(r1=st.floats(0.0, 1.0, **finite), r2=st.floats(0.0, 1.0, **finite))
def test_hex_threshold_monotone(r1, r2):
    from xclim_spark.llm.pipeline import hex_threshold

    lo, hi = sorted([r1, r2])
    assert hex_threshold(lo) <= hex_threshold(hi)
    assert hex_threshold(0.0) == "00000000"
    assert hex_threshold(1.0) > "f" * 8


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(st.floats(-50.0, 50.0, **finite), min_size=1,
                  max_size=60),
    thresh=st.floats(-20.0, 20.0, **finite),
)
def test_overwintering_dc_vector_matches_scalar(vals, thresh):
    dcf = np.array(vals)
    wpr = np.abs(dcf) + abs(thresh)
    v = fire._overwinter_dc_v(np.maximum(dcf, 0.0), wpr, 0.75, 0.75, 15.0)

    def scalar(d, w):
        qf = 800.0 * math.exp(-d / 400.0)
        qs = 0.75 * qf + 0.75 * 3.94 * w
        return max(400.0 * math.log(800.0 / qs), 15.0)

    for i, (d, w) in enumerate(zip(np.maximum(dcf, 0.0), wpr)):
        assert v[i] == pytest.approx(scalar(d, w), rel=1e-12)


@settings(max_examples=200, deadline=None)
@given(
    stride=st.integers(1, 5),
    ratio=st.sampled_from([1, 3, 5, 7]),
    y0=st.integers(1900, 2050),
    nyears=st.integers(1, 80),
)
def test_unstack_ownership_partitions_years(stride, ratio, y0, nyears):
    """The unstack keep-rule must assign every covered year to EXACTLY
    one period (pure-python mirror of calendar.unstack_periods's
    section arithmetic)."""
    window = stride * ratio
    years = list(range(y0, y0 + nyears))
    # stack: labels L (multiples of stride) fully inside the data span
    labels = [L for L in range(((y0 - window + 1) // stride) * stride,
                               y0 + nyears + stride, stride)
              if L % stride == 0 and L >= y0
              and L + window - 1 <= y0 + nyears - 1]
    if not labels:
        return
    lmin, lmax = min(labels), max(labels)
    mid = (ratio - 1) // 2
    owners = {}
    for L in labels:
        for y in range(L, L + window):
            sec = (y - L) // stride
            keep = (sec == mid) or (L == lmin and sec <= mid) \
                or (L == lmax and sec >= mid)
            if keep:
                owners.setdefault(y, []).append(L)
    covered = [y for y in years if lmin <= y <= lmax + window - 1]
    for y in covered:
        assert len(owners.get(y, [])) == 1, (y, owners.get(y))


@settings(max_examples=150, deadline=None)
@given(
    a=st.lists(st.floats(0.05, 300.0, allow_nan=False,
                         allow_infinity=False), min_size=1, max_size=8),
    x=st.floats(0.0, 500.0, allow_nan=False, allow_infinity=False),
)
def test_gammainc_array_shape_matches_scalar(a, x):
    """The array-shape gammainc_p (round-5 vectorization) must agree
    elementwise with per-element scalar calls."""
    from xclim_spark.stats.distributions import gammainc_p

    arr = np.array(a)
    vec = gammainc_p(arr, np.full(len(a), x))
    for i, ai in enumerate(a):
        assert vec[i] == pytest.approx(
            float(np.asarray(gammainc_p(ai, np.array([x])))[0]),
            rel=1e-12, abs=1e-300)


@settings(max_examples=200, deadline=None)
@given(s=st.text(alphabet=st.characters(min_codepoint=32,
                                        max_codepoint=126),
                 min_size=5, max_size=400))
def test_rolling_hash_gram_count_matches_char_grams(s):
    """The byte rolling hash must produce exactly one hash per distinct
    5-gram on ASCII text (no structured collisions — the base-256
    defect class this round fixed)."""
    M31 = (1 << 31) - 1
    base = 1_000_003
    pows = np.array([pow(base, 4 - i, M31) for i in range(5)],
                    dtype=np.int64)
    b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64)
    w = np.lib.stride_tricks.sliding_window_view(b, 5)
    h = np.unique((w * pows[None, :]).sum(axis=1) % M31)
    grams = set(s[i:i + 5] for i in range(len(s) - 4))
    assert len(h) == len(grams)


@settings(max_examples=150, deadline=None)
@given(
    c=st.floats(0.3, 20.0, **finite),
    scale=st.floats(0.01, 1e4, **finite),
    q=st.floats(0.001, 0.999, **finite),
)
def test_weibull_cdf_ppf_roundtrip_and_monotone(c, scale, q):
    from xclim_spark.stats import distributions as D

    p = (c, 0.0, scale)
    x = float(D.ppf(p, "weibull_min", [q])[0])
    assert x > 0
    back = float(D.cdf(p, "weibull_min", [x])[0])
    assert back == pytest.approx(q, abs=1e-9)
    # monotone: a higher quantile maps to a higher value
    x2 = float(D.ppf(p, "weibull_min", [min(q + 1e-3, 0.9995)])[0])
    assert x2 >= x


@settings(max_examples=150, deadline=None)
@example(skew=5.960464477539063e-08, loc=0.0, scale=1.0, q=0.25)
@given(
    skew=st.floats(-3.0, 3.0, **finite),
    loc=st.floats(-100.0, 100.0, **finite),
    scale=st.floats(0.01, 100.0, **finite),
    q=st.floats(0.01, 0.99, **finite),
)
def test_pearson3_cdf_ppf_roundtrip(skew, loc, scale, q):
    from xclim_spark.stats import distributions as D

    p = (skew, loc, scale)
    x = float(D.ppf(p, "pearson3", [q])[0])
    assert math.isfinite(x)
    back = float(D.cdf(p, "pearson3", [x])[0])
    # bisection ppf + series/CF cdf round-trips to 5e-5 across the whole
    # skew range; the worst corner is a tiny-but-nonzero skew (pinned
    # example: alpha = 4/skew^2 ~ 1e15, where the Wilson-Hilferty
    # asymptotic carries ~2e-6 in q — far inside any climate use)
    assert back == pytest.approx(q, abs=5e-5)


@settings(max_examples=100, deadline=None)
@given(
    data=st.lists(st.floats(0.1, 1e3, **finite), min_size=8,
                  max_size=60),
    method=st.sampled_from(["PWM", "ML"]),
)
def test_weibull_fit_never_invalid(data, method):
    """Any positive sample yields either finite valid params (c>0,
    scale>0) or all-NaN — never a crash, never a mixed row."""
    from xclim_spark.stats import distributions as D

    p = D.fit_params(np.asarray(data), "weibull_min", method)
    assert len(p) == 3
    if np.isnan(p).any():
        assert np.isnan(p).all()
    else:
        assert p[0] > 0 and p[2] > 0


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n=st.integers(30, 400),
    ncuts=st.integers(1, 5),
    mode=st.sampled_from(["plain", "season", "season_ow", "season_cfs"]),
)
def test_cffwis_block_resume_chunking_invariant(seed, n, ncuts, mode):
    """The streaming substrate's core invariant, fuzzed: running
    cffwis_block over ANY partition of the time axis with
    state0/return_state threading must be bit-identical to one
    full-series call — across the plain, seasonal, overwintering and
    CFS-dry-start paths, with NaN-poisoned inputs and random season
    flips included."""
    import numpy as np

    from xclim_spark.operators.fire import cffwis_block

    rng = np.random.RandomState(seed)
    k = 3
    tas = rng.normal(12, 10, (n, k))
    pr = np.maximum(0.0, rng.normal(0, 4, (n, k)))
    hurs = np.clip(rng.normal(60, 15, (n, k)), 1, 100)
    ws = np.clip(rng.normal(10, 4, (n, k)), 0, None)
    tas[rng.rand(n, k) < 0.02] = np.nan  # poison a few slots
    months = rng.randint(1, 13, n)
    present = rng.rand(n, k) > 0.1
    seasonal = mode != "plain"
    smask = (rng.rand(n, k) > 0.4) if seasonal else None
    kw = dict(season_mask=smask,
              overwintering=(mode == "season_ow"),
              dry_start="CFS" if mode == "season_cfs" else None)

    full = cffwis_block(tas, pr, hurs, ws, months, 47.0,
                        present=present, **kw)

    cuts = sorted(set(rng.randint(1, n, ncuts))) + [n]
    lo = 0
    state = None
    for hi in cuts:
        sl = slice(lo, hi)
        res, state = cffwis_block(
            tas[sl], pr[sl], hurs[sl], ws[sl], months[sl], 47.0,
            present=present[sl],
            season_mask=smask[sl] if seasonal else None,
            overwintering=kw["overwintering"],
            dry_start=kw["dry_start"],
            state0=state, return_state=True)
        for key in full:
            np.testing.assert_array_equal(
                res[key], full[key][sl],
                err_msg=f"{mode} chunk [{lo}:{hi}] {key}")
        lo = hi


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=12, deadline=None)
def test_duplicate_spans_matches_bruteforce(spark, seed):
    """duplicate_spans vs a brute-force python reference on random small
    corpora over a tiny vocabulary (so cross-doc n-gram collisions occur
    naturally): identical span tables."""
    import numpy as np

    from xclim_spark.llm.dedup import duplicate_spans

    rng = np.random.RandomState(seed)
    vocab = ["a", "b", "c", "d"]
    n = 3
    docs = []
    for i in range(rng.randint(2, 9)):
        L = rng.randint(1, 15)
        docs.append((i, " ".join(rng.choice(vocab, L))))

    # brute-force reference
    from collections import defaultdict
    gram_docs = defaultdict(set)
    gram_pos = defaultdict(list)
    for d, t in docs:
        w = t.split()
        for p in range(len(w) - n + 1):
            gkey = tuple(w[p:p + n])
            gram_docs[gkey].add(d)
            gram_pos[d].append((p, gkey))
    expected = set()
    for d, _ in docs:
        dup_pos = sorted(p for p, gk in gram_pos[d]
                         if len(gram_docs[gk]) >= 2)
        if not dup_pos:
            continue
        start = prev = dup_pos[0]
        cnt = 1
        for p in dup_pos[1:]:
            if p == prev + 1:
                prev = p
                cnt += 1
                continue
            expected.add((d, start, prev + n - 1, cnt))
            start = prev = p
            cnt = 1
        expected.add((d, start, prev + n - 1, cnt))

    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
           for r in duplicate_spans(
               spark.createDataFrame(docs, "doc_id LONG, text STRING"),
               n=n, min_docs=2).collect()}
    assert got == expected


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=8, deadline=None)
def test_semantic_dedup_matches_bruteforce(spark, seed):
    """semantic_dedup vs brute force: same nearest-centroid assignment
    (first-max tie rule) and same min-id-over-threshold dup labels."""
    import numpy as np

    from xclim_spark.llm.dedup import semantic_dedup
    from xclim_spark.llm.similarity import Codebook

    rng = np.random.RandomState(seed)
    m = rng.randint(6, 25)
    X = rng.randn(m, 6)
    # force some near-duplicates
    for j in range(0, m, 4):
        if j + 1 < m:
            X[j + 1] = X[j] * (1 + 1e-4)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(m)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    # centroid candidates exclude the forced clones: two PARALLEL
    # centroids make the nearest-centroid argmax a mathematically exact
    # tie, where fp summation order (BLAS vs python dot) legitimately
    # decides — not a defect either engine can pin
    cand = [i for i in range(m) if i % 4 != 1]
    cents_idx = sorted(rng.choice(cand, size=min(3, len(cand)),
                                  replace=False))
    cents = Codebook(cents_idx, X[cents_idx])

    C = X[cents_idx]
    cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    asg = np.array([int(cents_idx[np.argmax(xn[i] @ cn.T)])
                    for i in range(m)])
    thr = 0.999
    exp = {}
    for j in range(m):
        over = [i for i in range(m)
                if i < j and asg[i] == asg[j]
                and float(xn[i] @ xn[j]) >= thr]
        exp[j] = (int(asg[j]), min(over) if over else None)

    got = {r["id"]: (r["cluster"], r["dup_of"])
           for r in semantic_dedup(emb, cents, threshold=thr).collect()}
    assert got == exp



_WS = " \t\n\r\x0b\x0c"


def _ref_c4_span(docs, n):
    """Brute-force reference of c4_span_dedup's documented semantics:
    first (doc, start) occurrence of a duplicated n-sentence span
    survives, removals union overlaps, the unterminated tail rides."""
    import re

    split = {d: re.findall(r"[^.!?]*[.!?]", t) for d, t in docs}
    first: dict[tuple, tuple] = {}
    for d, t in sorted(docs):
        ss = split[d]
        for p in range(max(len(ss) - n + 1, 0)):
            key = tuple(x.strip(_WS) for x in ss[p:p + n])
            first.setdefault(key, (d, p))
    expected = {}
    for d, t in docs:
        ss = split[d]
        drop = set()
        for p in range(max(len(ss) - n + 1, 0)):
            key = tuple(x.strip(_WS) for x in ss[p:p + n])
            cnt = sum(
                1 for dd, _ in docs
                for q in range(max(len(split[dd]) - n + 1, 0))
                if tuple(x.strip()
                         for x in split[dd][q:q + n]) == key)
            if cnt >= 2 and first[key] != (d, p):
                drop.update(range(p, p + n))
        if drop:
            kept = "".join(s for j, s in enumerate(ss) if j not in drop)
            tail = t[sum(len(s) for s in ss):]
            expected[d] = (kept + tail, len(drop))
        else:
            expected[d] = (t, 0)
    return expected


def _ref_paragraphs(docs, min_chars):
    """Brute-force reference of dedup_paragraphs: first (doc, position)
    occurrence of a duplicated >=min_chars paragraph survives."""
    first: dict[str, tuple] = {}
    for d, t in sorted(docs):
        for p, v in enumerate(t.split("\n\n")):
            if len(v.strip(_WS)) >= min_chars:
                first.setdefault(v.strip(_WS), (d, p))
    counts: dict[str, int] = {}
    for d, t in docs:
        for v in t.split("\n\n"):
            if len(v.strip(_WS)) >= min_chars:
                counts[v.strip(_WS)] = counts.get(v.strip(_WS), 0) + 1
    expected = {}
    for d, t in docs:
        parts = t.split("\n\n")
        kept, removed = [], 0
        for p, v in enumerate(parts):
            key = v.strip(_WS)
            if (len(key) >= min_chars and counts[key] >= 2
                    and first[key] != (d, p)):
                removed += 1
            else:
                kept.append(v)
        expected[d] = ("\n\n".join(kept) if removed else t, removed)
    return expected


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=8, deadline=None)
def test_c4_span_dedup_matches_bruteforce(spark, seed):
    """c4_span_dedup vs a brute-force python reference on random small
    corpora built from a tiny sentence vocabulary (so duplicated
    3-sentence spans occur naturally, within and across docs):
    identical cleaned text and removal counts."""
    import numpy as np

    from xclim_spark.llm.dedup import c4_span_dedup

    rng = np.random.RandomState(seed)
    sents = ["Aa bb.", "Cc dd!", "Ee ff?", "Gg hh."]
    n = 3
    docs = []
    for i in range(rng.randint(2, 8)):
        L = rng.randint(0, 9)
        body = " ".join(rng.choice(sents, L))
        if rng.rand() < 0.3:
            body += " tail no mark"
        docs.append((i, body))

    expected = _ref_c4_span(docs, n)

    got = {r["doc_id"]: (r["text"], r["n_sentences_removed"])
           for r in c4_span_dedup(
               spark.createDataFrame(docs, "doc_id LONG, text STRING"),
               n=n).collect()}
    assert got == expected


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=8, deadline=None)
def test_dedup_paragraphs_matches_bruteforce(spark, seed):
    """dedup_paragraphs vs a brute-force python reference on random
    small corpora from a tiny paragraph vocabulary (duplicates occur
    within and across docs; some paragraphs below min_chars)."""
    import numpy as np

    from xclim_spark.llm.dedup import dedup_paragraphs

    rng = np.random.RandomState(seed)
    paras = ["this paragraph is long enough to dedup",
             "another sufficiently long paragraph here",
             "short one",  # below min_chars: immune
             ""]
    min_chars = 20
    docs = []
    for i in range(rng.randint(2, 8)):
        L = rng.randint(1, 6)
        docs.append((i, "\n\n".join(rng.choice(paras, L))))

    expected = _ref_paragraphs(docs, min_chars)

    got = {r["doc_id"]: (r["text"], r["n_paras_removed"])
           for r in dedup_paragraphs(
               spark.createDataFrame(docs, "doc_id LONG, text STRING"),
               min_chars=min_chars).collect()}
    assert got == expected


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=6, deadline=None)
def test_para_then_c4_span_composition_matches_bruteforce(spark, seed):
    """The curation-pipeline COMPOSITION — paragraph dedup feeding
    3-sentence-span dedup — matches composing the two brute-force
    references: the intermediate cleaned text must be byte-identical
    or the span hashing downstream diverges silently."""
    import numpy as np

    from xclim_spark.llm.dedup import c4_span_dedup, dedup_paragraphs

    rng = np.random.RandomState(seed)
    paras = [
        "Aa bb. Cc dd! Ee ff? Gg hh.",          # sentence-rich
        "Cc dd! Ee ff? Gg hh. Aa bb.",          # same spans, shifted
        "one long paragraph with no marks at all",
        "tiny.",                                 # below min_chars
    ]
    min_chars, n = 10, 3
    docs = []
    for i in range(rng.randint(2, 7)):
        L = rng.randint(1, 5)
        docs.append((i, "\n\n".join(rng.choice(paras, L))))

    mid_ref = [(d, _ref_paragraphs(docs, min_chars)[d][0])
               for d, _ in docs]
    expected = _ref_c4_span(mid_ref, n)

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    mid = dedup_paragraphs(df, min_chars=min_chars) \
        .select("doc_id", "text")
    got = {r["doc_id"]: (r["text"], r["n_sentences_removed"])
           for r in c4_span_dedup(mid, n=n).collect()}
    assert got == expected


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=6, deadline=None)
def test_bpe_train_matches_bruteforce(spark, seed):
    """bpe_train vs the independent pure-Python Sennrich reference on
    random corpora over a tiny alphabet (rich pair-count ties exercise
    the (count desc, pair asc) tie-break and the fold semantics)."""
    import numpy as np

    from xclim_spark.llm.tokenizer import bpe_encode_words, bpe_train
    from tests.test_llm import _ref_bpe

    rng = np.random.RandomState(seed)
    alphabet = list("abc")
    corpus = []
    for _ in range(rng.randint(1, 5)):
        words = []
        for _ in range(rng.randint(1, 12)):
            L = rng.randint(1, 6)
            words.append("".join(rng.choice(alphabet, L)))
        corpus.append(" ".join(words))
    num_merges = int(rng.randint(1, 9))

    ref_merges, ref_st = _ref_bpe(corpus, num_merges)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id LONG, text STRING")
    got = bpe_train(docs, num_merges=num_merges)
    assert got == ref_merges
    # encoder agrees with the reference final state on every word
    mg = [(a, b) for a, b, _ in got]
    for w, syms in ref_st.items():
        assert tuple(bpe_encode_words(w, mg)[0]) == syms


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=6, deadline=None)
def test_lm_perplexity_matches_bruteforce(spark, seed):
    """lm_train_counts + lm_score vs a pure-Python stupid-backoff
    reference on random tiny-vocabulary corpora (seen bigrams, unseen
    contexts, OOV tokens, and empty docs all occur naturally)."""
    import math

    import numpy as np

    from xclim_spark.llm.lm import BACKOFF_ALPHA, lm_score, lm_train_counts

    rng = np.random.RandomState(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    def mk(n_docs, extra):
        out = []
        for i in range(n_docs):
            L = rng.randint(0, 8)
            words = list(rng.choice(vocab + extra, L))
            out.append((i, " ".join(words)))
        return out
    ref_docs = mk(rng.randint(1, 5), [])
    score_docs = mk(rng.randint(1, 6), ["zz"])  # zz is OOV

    U, B = {}, {}
    for _, t in ref_docs:
        ws = t.split()
        for w in ws:
            U[w] = U.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            B[(a, b)] = B.get((a, b), 0) + 1
    T, V = sum(U.values()), len(U)

    def doc_score(t):
        ws = t.split()
        if not ws:
            return 0, None
        lps = []
        prev = None
        for w in ws:
            if prev is not None and (prev, w) in B and prev in U:
                lps.append(math.log(B[(prev, w)] / U[prev]))
            else:
                lps.append(math.log(
                    BACKOFF_ALPHA * (U.get(w, 0) + 0.5)
                    / (T + 0.5 * V)))
            prev = w
        return len(ws), round(sum(lps) / len(lps), 6)

    rdf = spark.createDataFrame(ref_docs, "doc_id LONG, text STRING")
    sdf = spark.createDataFrame(score_docs, "doc_id LONG, text STRING")
    uni, big, sc = lm_train_counts(rdf)
    if T == 0:
        return  # degenerate: empty reference corpus, model undefined
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
           for r in lm_score(sdf, uni, big, sc).collect()}
    for d, t in score_docs:
        n, a = doc_score(t)
        assert got[d][0] == n
        if a is None:
            assert got[d][1] is None
        else:
            assert abs(got[d][1] - a) < 2e-6, (d, t, got[d][1], a)


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=10, deadline=None)
def test_canonicalize_url_matches_bruteforce(spark, seed):
    """canonicalize_url vs an independent pure-Python implementation of
    its documented spec, over randomly assembled messy URLs (case,
    default/real ports, fragments containing '?' and '&', tracking
    params, duplicate '?', empty paths, non-URL passthrough)."""
    import re

    import numpy as np

    from xclim_spark.llm.urls import (
        TRACKING_PARAMS_PATTERN, canonicalize_url)

    def ref(u):
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", u)
        if not m:
            return u
        scheme = m.group(1).lower()
        rest = u[m.end():]
        am = re.match(r"^([^/?#]*)", rest)
        auth = am.group(1).lower()
        if scheme == "http":
            auth = re.sub(r":80$", "", auth)
        elif scheme == "https":
            auth = re.sub(r":443$", "", auth)
        after = rest[am.end():]
        path = re.match(r"^([^?#]*)", after).group(1) or "/"
        nofrag = re.sub(r"#.*$", "", u)
        q = ""
        if "?" in nofrag:
            raw = nofrag.split("?", 1)[1]
            kept = sorted(p for p in raw.split("&")
                          if p and not re.search(
                              TRACKING_PARAMS_PATTERN, p))
            q = "&".join(kept)
        return f"{scheme}://{auth}{path}" + (f"?{q}" if q else "")

    rng = np.random.RandomState(seed)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp", ""]
    hosts = ["Example.COM", "a.b.example.co.uk", "X9.net:80",
             "site.org:443", "h.io:8080"]
    paths = ["", "/", "/A/b", "/p%20q", "/x/y/z/"]
    queries = ["", "?b=2&a=1", "?utm_source=x&a=1", "?a=1?b=2",
               "?fbclid=1", "?a=&&b=1", "?a=1&a=0"]
    frags = ["", "#sec", "#/route?tab=1&x=2", "#f?q=1"]
    urls = ["not a url", "relative/path?x=1#f"]
    for _ in range(40):
        s = schemes[rng.randint(len(schemes))]
        u = (f"{s}://" if s else "") + \
            hosts[rng.randint(len(hosts))] + \
            paths[rng.randint(len(paths))] + \
            queries[rng.randint(len(queries))] + \
            frags[rng.randint(len(frags))]
        urls.append(u)
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i LONG, url STRING")
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonicalize_url("url").alias("c")).collect()}
    for i, u in enumerate(urls):
        assert got[i] == ref(u), (u, got[i], ref(u))


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=5, deadline=None)
def test_bloom_lm_bpe_chain_matches_bruteforce(spark, seed):
    """The ingest-chain COMPOSITION from examples/llm_pipeline.py —
    Bloom cross-snapshot screen -> LM-perplexity bucket filter -> BPE
    training + exact token accounting — against composing the
    pure-Python references stage by stage.  The Bloom stage asserts
    the no-false-negative contract (every snapshot member MUST drop);
    the survivor set then feeds both engines so any drift in the
    intermediate representation (tokenization, bucket boundaries,
    NULL-bucket handling) surfaces as a merge-table or token-count
    mismatch downstream."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from xclim_spark.llm import bloom as bl
    from xclim_spark.llm.lm import (BACKOFF_ALPHA, lm_buckets, lm_score,
                                    lm_train_counts)
    from xclim_spark.llm.tokenizer import bpe_encode_counts, bpe_train
    from tests.test_llm import _ref_bpe

    rng = np.random.RandomState(seed)
    vocab = ["aa", "bb", "ab", "ba", "abab"]
    docs = []
    for i in range(rng.randint(8, 17)):
        L = rng.randint(0, 9)
        docs.append((i, " ".join(rng.choice(vocab, L))))
    snap_texts = {t for i, t in docs if i % 3 == 0}
    num_merges = int(rng.randint(1, 7))

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    # --- stage 1: Bloom screen (Spark), no-false-negative contract ---
    nb, nh = bl.bloom_parameters(max(len(snap_texts), 1), 0.001)
    snap = df.filter(F.col("doc_id") % 3 == 0) \
        .select(F.md5("text").alias("key"))
    dense = bl.bloom_dense(
        bl.bloom_build(snap, key_col="key", num_bits=nb, num_hashes=nh),
        num_bits=nb)
    surv_rows = (bl.bloom_probe(df.withColumn("key", F.md5("text")),
                                dense, key_col="key", num_bits=nb,
                                num_hashes=nh)
                 .filter(~F.coalesce("maybe_member", F.lit(False)))
                 .select("doc_id", "text").collect())
    surv = sorted((r["doc_id"], r["text"]) for r in surv_rows)
    for did, t in surv:
        assert t not in snap_texts          # no false negatives
    if not surv:
        return

    sdf = spark.createDataFrame(surv, "doc_id LONG, text STRING")

    # --- stage 2: LM bucket filter, Spark vs pure-Python ---
    U, B = {}, {}
    for _, t in surv:
        ws = t.split()
        for w in ws:
            U[w] = U.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            B[(a, b)] = B.get((a, b), 0) + 1
    T, V = sum(U.values()), len(U)
    if T == 0:
        return                               # model undefined

    def ref_ppl(t):
        ws = t.split()
        if not ws:
            return None
        lps = []
        prev = None
        for w in ws:
            if prev is not None and (prev, w) in B:
                lps.append(math.log(B[(prev, w)] / U[prev]))
            else:
                lps.append(math.log(
                    BACKOFF_ALPHA * (U.get(w, 0) + 0.5)
                    / (T + 0.5 * V)))
            prev = w
        avg = round(sum(lps) / len(lps), 6)
        return round(math.exp(-avg), 4)

    ppls = [(did, ref_ppl(t)) for did, t in surv]
    eligible = sorted(((p, d) for d, p in ppls if p is not None))
    n, k = len(eligible), 3
    base, rem = divmod(n, k)
    ref_bucket = {}
    pos = 0
    for b in range(1, k + 1):
        size = base + (1 if b <= rem else 0)
        for _p, d in eligible[pos:pos + size]:
            ref_bucket[d] = b
        pos += size
    ref_kept = sorted(d for d, p in ppls
                      if p is None or ref_bucket[d] <= 2)

    uni, big, sc = lm_train_counts(sdf)
    bucketed = lm_buckets(lm_score(sdf, uni, big, sc))
    got_kept = sorted(
        r["doc_id"] for r in bucketed
        .filter("ppl_bucket <= 2 OR ppl_bucket IS NULL").collect())
    assert got_kept == ref_kept

    # --- stage 3: BPE train + exact accounting on the kept docs ---
    kept_texts = dict(surv)
    kept = [(d, kept_texts[d]) for d in ref_kept]
    ref_merges, _ = _ref_bpe([t for _, t in kept], num_merges)
    kdf = spark.createDataFrame(kept, "doc_id LONG, text STRING")
    got_merges = bpe_train(kdf, num_merges=num_merges)
    assert got_merges == ref_merges

    def ref_encode(word, merges):
        # _ref_bpe's convention: Sennrich symbols are chars + '</w>',
        # greedy left-fold per merge in learned order
        syms = list(word) + ["</w>"]
        for a, b in [(m[0], m[1]) for m in merges]:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return syms

    ref_counts = {d: sum(len(ref_encode(w, ref_merges))
                         for w in t.split())
                  for d, t in kept}
    got_counts = {r["doc_id"]: r["n_tokens"]
                  for r in bpe_encode_counts(kdf, got_merges).collect()}
    assert got_counts == ref_counts


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=10, deadline=None)
def test_clf_score_mixture_chain_matches_bruteforce(spark, seed):
    """The DCLM curation-chain COMPOSITION from
    examples/llm_pipeline.py — trained-classifier score -> threshold
    filter -> deterministic mixture sample — against composing the
    pure-Python references stage by stage.  The weights come from the
    Spark trainer (whose numpy parity is pinned separately in
    tests/test_quality_clf.py); the chain then asserts that the Arrow
    batch scorer and the hash mixture rule compose to exactly the
    pure-Python survivor set, so any drift in tokenization, feature
    hashing, sigmoid, rounding, or the sampling hash surfaces as a
    set mismatch."""
    import hashlib
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from xclim_spark.llm import quality_clf as qc
    from xclim_spark.llm.pipeline import mixture_sample

    rng = np.random.RandomState(seed)
    good = ["the", "of", "and", "history", "press", "essay", "tide"]
    bad = ["win", "free", "click", "zzz", "casino", "omg"]
    docs = []
    for i in range(int(rng.randint(8, 21))):
        src = f"src{int(rng.randint(0, 3))}"
        pool = good if rng.rand() < 0.5 else bad
        L = int(rng.randint(0, 12))
        words = list(rng.choice(pool, L)) if L else []
        if rng.rand() < 0.1:
            text = None
        else:
            text = " ".join(words)
        label = int(sum(w in good for w in words) * 2 >= L) \
            if L else 0
        docs.append((i, src, text, label))
    dim = int(rng.choice([32, 64]))
    tau = float(rng.uniform(0.3, 0.7))
    rates = {f"src{j}": float(rng.choice([0.0, 0.4, 0.8, 1.0]))
             for j in range(3)}

    df = spark.createDataFrame(
        docs, "doc_id LONG, source STRING, text STRING, label INT")
    trainable = df.where("text IS NOT NULL")
    if trainable.where(
            "length(regexp_extract(lower(text), '[a-z]', 0)) > 0"
    ).count() == 0:
        return                             # nothing trainable
    w = qc.quality_clf_train(trainable, label_col="label", dim=dim,
                             epochs=3, lr=2.0)

    # --- Spark chain: Arrow score -> threshold -> mixture ---
    scored = qc.quality_clf_score(df, w)
    kept = df.join(
        scored.where(F.col("quality_score") >= tau).select("doc_id"),
        "doc_id", "left_semi")
    got = sorted(r["doc_id"]
                 for r in mixture_sample(kept, rates).collect())

    # --- pure-Python chain with the same weights ---
    import re as _pyre

    def py_score(text):
        toks = _pyre.findall("[a-z]+", text.lower()) \
            if text is not None else []
        grams = toks + [a + "_" + b for a, b in zip(toks, toks[1:])]
        s = sum(
            w[int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % dim]
            for g in grams)
        m = (s / len(grams) if grams else 0.0) + w[dim]
        return 1.0 / (1.0 + math.exp(-m))

    def py_mix(src, did):
        h = hashlib.md5(f"{src}|{did}".encode()).hexdigest()[:8]
        rate = rates[src]
        space = 16 ** 8
        cut = min(max(int(round(rate * space)), 0), space)
        t = "g" * 8 if cut >= space else format(cut, "08x")
        return h < t

    want = sorted(did for did, src, text, _y in docs
                  if py_score(text) >= tau and py_mix(src, did))
    assert got == want
