"""Classification / feature-encoding operators vs independent Python
models.

The oracle gate proves Spark and DuckDB agree; these tests prove the
shared definition is RIGHT: a from-the-textbook multinomial NB scorer,
Fraction-exact LOO target encoding, and a hashlib-computed
hashing-trick bucket — all applying the operators' documented
quantization contracts.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators.classify import (
    feature_hashing,
    nb_confusion,
    target_encoding_loo,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# --- multinomial NB vs a direct dense Python model --------------------

WORDS = ["spark", "join", "merge", "agg", "window", "stream"]

nb_corpus = st.lists(
    st.tuples(
        st.sampled_from(["en", "fr", "de"]),
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=8),
    ),
    min_size=8,
    max_size=40,
)


import pytest

pytestmark = pytest.mark.slow


def _qlog(x: float) -> int:
    return math.floor(math.log(x) * 1_000_000)


def _nb_model(docs):
    """Dense textbook NB with the operator's quantization: returns the
    held-out confusion Counter, or None if a split side is empty /
    train has no class (degenerate — skipped)."""
    split = []
    for doc_id, (lang, words) in enumerate(docs):
        b = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        split.append((doc_id, lang, words, b < "cd"))
    train = [(l, w) for _, l, w, tr in split if tr]
    test = [(d, l, w) for d, l, w, tr in split if not tr]
    if not train or not test:
        return None
    tc = Counter()
    n_c = Counter()
    n_docs_c = Counter()
    for lang, words in train:
        n_docs_c[lang] += 1
        for w in words:
            tc[(lang, w)] += 1
            n_c[lang] += 1
    vocab = {w for (_, w) in tc}
    v = len(vocab)
    classes = sorted(n_docs_c)
    n_docs = len(train)
    if v == 0:
        # no training tokens at all: scores are priors only
        pass
    conf = Counter()
    for doc_id, true_lang, words in test:
        tf = Counter(w for w in words if w in vocab)
        best = None
        for c in classes:
            q_prior = _qlog(n_docs_c[c] / n_docs)
            score = q_prior
            for w, k in tf.items():
                score += k * _qlog((tc.get((c, w), 0) + 1) / (n_c[c] + v))
            key = (-score, c)
            if best is None or key < best:
                best = key
        conf[(true_lang, best[1])] += 1
    return conf


@settings(**SETTINGS)
@given(nb_corpus)
def test_nb_confusion_matches_dense_model(spark, docs):
    model = _nb_model(docs)
    if model is None:
        return
    df = spark.createDataFrame(
        [(i, lang, " ".join(words)) for i, (lang, words) in enumerate(docs)],
        "doc_id long, lang string, text string",
    )
    got = {
        (r.label_true, r.pred): r.n_docs
        for r in nb_confusion(df, "lang", "doc_id", "text").collect()
    }
    assert got == dict(model)


# --- LOO target encoding vs Fraction arithmetic -----------------------

te_case = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.booleans()),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(te_case, st.integers(0, 25))
def test_target_encoding_loo_matches_fractions(spark, rows, m):
    df = spark.createDataFrame(
        [(i, k, 1 if y else 0) for i, (k, y) in enumerate(rows)],
        "id long, k string, y int",
    )
    out = {
        r.id: r.te_loo
        for r in target_encoding_loo(
            df, ["k"], F.col("y") == 1, ["id"], smoothing=m
        ).collect()
    }
    sums = Counter()
    cnts = Counter()
    for k, y in rows:
        sums[k] += 1 if y else 0
        cnts[k] += 1
    P = sum(1 if y else 0 for _, y in rows)
    N = len(rows)
    for i, (k, y) in enumerate(rows):
        den = cnts[k] - 1 + m
        if den == 0:
            assert out[i] is None  # singleton + m=0: documented NULL
        else:
            exact = Fraction(
                (sums[k] - (1 if y else 0)) * N + m * P, N * den
            )
            assert abs(out[i] - float(exact)) < 2e-6


# --- hashing trick vs hashlib -----------------------------------------


def test_feature_hashing_buckets_match_hashlib(spark):
    docs = [(1, "spark join spark"), (2, "merge"), (3, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.bucket): r.tf
        for r in feature_hashing(df, "doc_id", "text", dims=64).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 64

    expect = {
        (1, bucket("spark")): 2,
        (1, bucket("join")): 1,
        (2, bucket("merge")): 1,
    }
    assert got == expect


# --- HITS vs an exact integer Python model ----------------------------


def _hits_model(edges, iters=4, scale=10**9):
    hubs = sorted({u for u, _ in edges})
    auths = sorted({v for _, v in edges})
    h = {u: scale for u in hubs}
    a = {}
    for _ in range(iters):
        raw = {v: 0 for v in auths}
        for u, v in set(edges):
            raw[v] += h[u]
        mx = max(raw.values())
        a = {v: raw[v] * scale // mx for v in auths}
        raw = {u: 0 for u in hubs}
        for u, v in set(edges):
            raw[u] += a[v]
        mx = max(raw.values())
        h = {u: raw[u] * scale // mx for u in hubs}
    return h, a


hits_edges = st.lists(
    st.tuples(st.integers(0, 5), st.integers(100, 106)),
    min_size=1,
    max_size=20,
)


@settings(**SETTINGS)
@given(hits_edges)
def test_hits_matches_integer_model(spark, edges):
    from mlentory_etl_pipeline_spark.operators.graph import hits

    df = spark.createDataFrame(
        sorted(set(edges)), "u long, v long"
    )
    got = {
        (r.side, r.node): r.score for r in hits(df, iters=3).collect()
    }
    h, a = _hits_model(edges, iters=3)
    expect = {("hub", u): round(s / 1e9, 9) for u, s in h.items()}
    expect |= {("auth", v): round(s / 1e9, 9) for v, s in a.items()}
    assert got == expect


def test_dawid_skene_outvotes_adversarial_annotator(spark):
    """One honest annotator, one mostly-honest annotator that corrupts
    a 3-item block into the adversary's label, and one adversary that
    always reports 'B'. On the corrupted block raw majority is WRONG
    (B wins 2-1); Dawid-Skene's learned confusions (annotator 2
    reports B for every class, annotator 1 is consistent, the B prior
    is tiny) must flip all three back to the truth while keeping every
    untied item — and stay deterministic across reruns."""
    from mlentory_etl_pipeline_spark.operators.classify import (
        dawid_skene_hard,
    )

    truths = ["A", "C", "D"]
    truth = {}
    rows = []
    for i in range(300):
        t_ = truths[i % 3]
        truth[i] = t_
        rows.append((i, 0, "B" if i < 3 else t_))
        rows.append((i, 1, t_))
        rows.append((i, 2, "B"))
    ann = spark.createDataFrame(
        rows, "item long, annotator int, label string"
    )
    got = {
        r.item: r.label
        for r in dawid_skene_hard(ann, "item", "annotator", "label").collect()
    }
    assert all(got[i] == truth[i] for i in range(300))
    again = {
        r.item: r.label
        for r in dawid_skene_hard(ann, "item", "annotator", "label").collect()
    }
    assert got == again
