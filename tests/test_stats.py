"""Deterministic Poisson bootstrap (operators/stats.py)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators import stats

SF = "/root/testdata/sf0.001"


def _py_weight(key: str, b: int) -> int:
    P = stats.BOOTSTRAP_P
    h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % P
    a, c0 = stats.bootstrap_coeffs(b + 1)[b]
    u = ((a * h + c0) % P) / float(P)
    for k, c in enumerate(stats.POISSON1_CDF):
        if u < c:
            return k
    return 8


def test_poisson_weights_match_python_model(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, v double")
    reps = stats.bootstrap_replicas(
        df, F.col("k"), F.col("v"), n_replicas=4
    ).collect()
    model = {}
    for b in range(4):
        ws = [_py_weight(str(i), b) for i in range(50)]
        # mirror the long-raw-units fold: floor(v*100) ints, one
        # double division chain (sum/n)/100 at the end
        raw = [w * (i * 100) for i, w in enumerate(ws)]
        model[b] = (sum(ws), round(sum(raw) / sum(ws) / 100.0, 6))
    got = {r.replica: (r.n_eff, r.mean_value) for r in reps}
    assert got == model


def test_bootstrap_replicas_concentrate(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    n = li.count()
    reps = stats.bootstrap_replicas(
        li, key, F.col("l_quantity"), n_replicas=16
    ).collect()
    assert len(reps) == 16
    # Poisson(1) row multiplicities: replica size ~ N ± 5*sqrt(N)
    for r in reps:
        assert abs(r.n_eff - n) <= 5 * math.sqrt(n), r


def test_bootstrap_ci_brackets_point_and_is_partition_invariant(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    a = stats.bootstrap_ci(li.repartition(1), key, F.col("l_quantity")).first()
    b = stats.bootstrap_ci(li.repartition(13), key, F.col("l_quantity")).first()
    assert a == b
    assert a.n_replicas == 64
    assert a.ci_lo <= a.point_mean <= a.ci_hi
    assert a.ci_lo < a.ci_hi


# ---------------------------------------------------------------------
# KL domain drift (textstats.kl_domain_drift)
# ---------------------------------------------------------------------

def test_kl_drift_orders_drifted_source_last(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import kl_domain_drift

    rows = (
        [("a", "x y z w x y z w")] * 10
        + [("b", "x y z w x y z w")] * 10
        + [("c", "qqq qqq qqq zebra zebra")] * 10  # off-distribution
    )
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r.source: r.kl for r in kl_domain_drift(df, "source", "text").collect()}
    # the drifted source dominates (the twins carry some divergence
    # too — the GLOBAL mixture includes c's off-topic mass)
    assert out["c"] > 5 * max(out["a"], out["b"])
    assert abs(out["a"] - out["b"]) < 1e-9
    assert all(v > -1e-4 for v in out.values())  # >= 0 up to micro-floor


def test_kl_drift_partition_invariant(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import kl_domain_drift

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = kl_domain_drift(d.repartition(1), "source", "text").collect()
    b = kl_domain_drift(d.repartition(9), "source", "text").collect()
    assert a == b


# ---------------------------------------------------------------------
# Groupwise OLS trend (stats.groupwise_trend)
# ---------------------------------------------------------------------

def test_trend_recovers_known_slope(spark):
    from datetime import datetime, timedelta

    # y rises exactly 2.00 per hour -> 48.0/day; a flat twin -> 0.0;
    # a single-point group -> NULL slope
    rows = []
    start = datetime(2024, 1, 1)
    for i in range(50):
        ts = start + timedelta(hours=i)
        rows.append(("up", ts, 10.0 + 2.0 * i))
        rows.append(("flat", ts, 7.5))
    rows.append(("lone", start, 3.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = {r.g: r for r in stats.groupwise_trend(df, ["g"], "ts", "value").collect()}
    assert abs(out["up"].slope_per_day - 48.0) < 1e-6
    assert out["flat"].slope_per_day == 0.0
    assert out["lone"].slope_per_day is None
    assert out["up"].n_points == 50


def test_trend_partition_invariant(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = stats.groupwise_trend(e.repartition(1), ["event_type"], "ts", "value").collect()
    b = stats.groupwise_trend(e.repartition(17), ["event_type"], "ts", "value").collect()
    assert a == b


# ---------------------------------------------------------------------
# Nearest-centroid confusion (similarity.nearest_centroid_confusion)
# ---------------------------------------------------------------------

def test_rocchio_separable_classes_perfect_diagonal(spark):
    from mlentory_etl_pipeline_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    rows = []
    for i in range(30):
        rows.append((i, [10.0 + (i % 3), 0.1 * (i % 5), 0.0], 0))
        rows.append((100 + i, [0.0, 10.0 + (i % 3), 0.1 * (i % 5)], 1))
        rows.append((200 + i, [0.1 * (i % 5), 0.0, 10.0 + (i % 3)], 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r.label, r.pred_label): r.n for r in
           nearest_centroid_confusion(df, "vec_id", "embedding", "label").collect()}
    assert out == {(0, 0): 30, (1, 1): 30, (2, 2): 30}


def test_rocchio_confusion_is_partition_invariant_and_complete(spark):
    from mlentory_etl_pipeline_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = nearest_centroid_confusion(e.repartition(1), "vec_id", "embedding", "label").collect()
    b = nearest_centroid_confusion(e.repartition(7), "vec_id", "embedding", "label").collect()
    assert a == b
    # every vector classified exactly once
    assert sum(r.n for r in a) == e.count()


# ---------------------------------------------------------------------
# IVM join delta (operators/ivm.py)
# ---------------------------------------------------------------------

def test_ivm_join_delta_equals_full_minus_old_bag_semantics(spark):
    from collections import Counter

    from mlentory_etl_pipeline_spark.operators.ivm import incremental_join_delta

    # duplicates on purpose: bag semantics must hold (a key appearing
    # twice in A and twice in B contributes 4 join rows)
    a_old = [(1, "a1"), (1, "a1"), (2, "a2"), (9, "a9")]
    a_new = [(1, "A1"), (3, "a3")]
    b_old = [(1, "b1"), (3, "b3"), (3, "b3")]
    b_new = [(2, "b2"), (3, "B3"), (7, "b7")]
    mk = lambda rows, c: spark.createDataFrame(rows, f"k long, {c} string")
    delta = incremental_join_delta(
        mk(a_old, "av"), mk(b_old, "bv"), mk(a_new, "av"), mk(b_new, "bv"), "k"
    )
    got = Counter((r.k, r.av, r.bv) for r in delta.collect())
    full = Counter(
        (ka, va, vb)
        for ka, va in a_old + a_new
        for kb, vb in b_old + b_new
        if ka == kb
    )
    old = Counter(
        (ka, va, vb) for ka, va in a_old for kb, vb in b_old if ka == kb
    )
    assert got == full - old
    # sanity: the crafted case exercises every branch of the rule
    assert any(k == 3 for k, _, _ in got)  # dA >< B_old
    assert any(k == 2 for k, _, _ in got)  # A_old >< dB
    assert got[(3, "a3", "B3")] == 1  # dA >< dB


# ---------------------------------------------------------------------
# EWMA at latest event (stats.ewma_last)
# ---------------------------------------------------------------------

def test_ewma_matches_sequential_recurrence(spark):
    from datetime import datetime, timedelta

    # hand-fold the textbook recurrence s = v for the first point,
    # then s = (v + s_prev) / 2 — with alpha=1/2 and full history the
    # truncated-weight form equals the recurrence up to 2^-31
    vals = [10.0, 20.0, 10.0, 40.0, 0.0, 80.0]
    start = datetime(2024, 1, 1)
    rows = [("u", start + timedelta(minutes=i), float(i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id double, value double")
    out = stats.ewma_last(df, ["g"], "ts", "value", "event_id").first()
    # the operator's definition: truncated 2^-lag weights, normalized
    num = sum(v * 2.0 ** -(len(vals) - 1 - i) for i, v in enumerate(vals))
    den = sum(2.0 ** -lag for lag in range(len(vals)))
    assert abs(out.ewma_value - num / den) < 1e-4
    # and it approximates the recurrence-seeded EWMA (same decay, the
    # seeding differs only in the oldest point's weight)
    s = vals[0]
    for v in vals[1:]:
        s = (v + s) / 2.0
    assert abs(out.ewma_value - s) < 1.0
    assert out.n_window == 6


def test_ewma_lookback_truncates_and_is_partition_invariant(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = stats.ewma_last(e.repartition(1), ["user_id"], "ts", "value", "event_id").collect()
    b = stats.ewma_last(e.repartition(13), ["user_id"], "ts", "value", "event_id").collect()
    assert a == b
    assert all(r.n_window <= 32 for r in a)


# ---------------------------------------------------------------------
# Corpus data card
# ---------------------------------------------------------------------

def test_corpus_data_card_counts_planted_duplicate(spark):
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY

    base = REGISTRY["corpus_data_card"].spark_fn(spark, "/root/testdata/sf0.001").first()
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert base.n_docs == d.count()
    assert 0.0 <= base.dup_rate <= 1.0
    assert base.vocab <= base.n_tokens
    # the exact-dup figure equals the direct fingerprint computation
    fp = d.select(F.md5(F.trim(F.lower(F.col("text")))).alias("fp"))
    assert base.n_exact_dups == fp.count() - fp.distinct().count()


def test_zset_agg_delta_folds_inserts_and_retractions(spark):
    from mlentory_etl_pipeline_spark.operators.ivm import zset_agg_delta

    base = [("a", 10), ("a", 20), ("b", 5)]
    agg_old = (
        spark.createDataFrame(base, "k string, v long")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    # retract one 'a' row, insert a 'c' row, fully retract 'b'
    delta = spark.createDataFrame(
        [("a", 10, -1), ("c", 7, 1), ("b", 5, -1)], "k string, v long, z int"
    )
    out = {r.k: (r.n, r.s) for r in
           zset_agg_delta(agg_old, delta, ["k"], "n", {"s": "v"}).collect()}
    # 'b' reached zero and vanished; 'a' lost its 10; 'c' appeared
    assert out == {"a": (1, 20), "c": (1, 7)}


def test_zset_agg_delta_multi_step_fold_matches_recompute(spark):
    from collections import Counter

    from mlentory_etl_pipeline_spark.operators.ivm import zset_agg_delta

    # three delta batches: a group empties in step 2 and REVIVES in
    # step 3; the folded state must equal a from-scratch aggregation of
    # the surviving multiset after every step
    steps = [
        [("a", 10, 1), ("a", 20, 1), ("b", 5, 1)],
        [("b", 5, -1), ("a", 20, -1)],
        [("b", 9, 1), ("c", 1, 1)],
    ]
    live: Counter = Counter()
    agg = spark.createDataFrame([], "k string, n long, s long")
    for step in steps:
        delta = spark.createDataFrame(step, "k string, v long, z int")
        agg = zset_agg_delta(agg, delta, ["k"], "n", {"s": "v"})
        agg = spark.createDataFrame(agg.collect(), "k string, n long, s long")
        for k, v, z in step:
            live[(k, v)] += z
        expect = {}
        for (k, v), m in live.items():
            if m:
                n0, s0 = expect.get(k, (0, 0))
                expect[k] = (n0 + m, s0 + m * v)
        got = {r.k: (r.n, r.s) for r in agg.collect()}
        assert got == expect, (step, got, expect)


# ---------------------------------------------------------------------
# exact AUC (tie-corrected Mann-Whitney)
# ---------------------------------------------------------------------


def _sklearn_free_auc(pairs):
    """O(P*N) reference: P(random positive outranks random negative),
    ties counted half."""
    pos = [s for y, s in pairs if y]
    neg = [s for y, s in pairs if not y]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    return wins / (len(pos) * len(neg))


def test_exact_auc_matches_pairwise_model_with_ties(spark):
    pairs = [
        (1, 0.9), (1, 0.7), (1, 0.5), (1, 0.5), (1, 0.2),
        (0, 0.8), (0, 0.5), (0, 0.5), (0, 0.3), (0, 0.1), (0, 0.1),
    ]
    df = spark.createDataFrame(pairs, "y int, s double")
    row = stats.exact_auc(df, F.col("y") == 1, F.col("s")).collect()[0]
    assert row.n_pos == 5 and row.n_neg == 6
    assert abs(row.auc - _sklearn_free_auc([(y == 1, s) for y, s in pairs])) < 1e-9


def test_exact_auc_perfect_and_inverted_separation(spark):
    perfect = [(1, 10.0), (1, 9.0), (0, 2.0), (0, 1.0)]
    df = spark.createDataFrame(perfect, "y int, s double")
    assert stats.exact_auc(df, F.col("y") == 1, F.col("s")).collect()[0].auc == 1.0
    inv = stats.exact_auc(df, F.col("y") == 0, F.col("s")).collect()[0]
    assert inv.auc == 0.0


def test_exact_auc_partition_invariant(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    lab = F.col("l_returnflag") == "R"
    a = stats.exact_auc(li, lab, F.col("l_extendedprice")).collect()[0]
    b = stats.exact_auc(
        li.repartition(13, "l_partkey"), lab, F.col("l_extendedprice")
    ).collect()[0]
    assert (a.n_pos, a.n_neg, a.auc) == (b.n_pos, b.n_neg, b.auc)


def test_exact_auc_degenerate_single_class_is_null(spark):
    # zero negatives (or positives): AUC undefined -> NULL, not an
    # ANSI divide-by-zero; n_pos/n_neg still report why
    df = spark.createDataFrame([(1, 0.9), (1, 0.1)], "y int, s double")
    row = stats.exact_auc(df, F.col("y") == 1, F.col("s")).collect()[0]
    assert row.n_pos == 2 and row.n_neg == 0 and row.auc is None


# ---------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------


def test_cohen_kappa_single_category_is_null(spark):
    # both raters constant: pe = 1, kappa denominator 0 -> NULL kappa
    df = spark.createDataFrame([("a", "a")] * 5, "ra string, rb string")
    row = stats.cohen_kappa(df, F.col("ra"), F.col("rb")).collect()[0]
    assert row.po == 1.0 and row.pe == 1.0 and row.kappa is None


def test_cohen_kappa_perfect_agreement_is_one(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",)], "lab string"
    )
    row = stats.cohen_kappa(df, F.col("lab"), F.col("lab")).collect()[0]
    assert row.kappa == 1.0 and row.po == 1.0 and row.n_agree == 4


def test_cohen_kappa_matches_hand_computation(spark):
    # confusion: aa=20 ab=5 ba=10 bb=15 -> N=50, diag=35
    # marginals a:(25,30) b:(25,20); e = 25*30 + 25*20 = 1250
    # kappa = (50*35 - 1250) / (2500 - 1250) = 500/1250 = 0.4
    rows = (
        [("a", "a")] * 20 + [("a", "b")] * 5 + [("b", "a")] * 10 + [("b", "b")] * 15
    )
    df = spark.createDataFrame(rows, "ra string, rb string")
    row = stats.cohen_kappa(df, F.col("ra"), F.col("rb")).collect()[0]
    assert row.n_items == 50 and row.n_agree == 35
    assert abs(row.kappa - 0.4) < 1e-9
    assert abs(row.po - 0.7) < 1e-9 and abs(row.pe - 0.5) < 1e-9


def test_cohen_kappa_chance_only_agreement_is_zero(spark):
    # independent raters, identical marginals: po == pe -> kappa == 0
    rows = [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]
    df = spark.createDataFrame(rows, "ra string, rb string")
    row = stats.cohen_kappa(df, F.col("ra"), F.col("rb")).collect()[0]
    assert abs(row.kappa) < 1e-9


# ---------------------------------------------------------------------
# calibration bins + Welch t
# ---------------------------------------------------------------------


def test_calibration_bins_perfectly_calibrated_score(spark):
    # score == empirical outcome rate within each bin by construction
    rows = []
    for b in range(5):
        p = (b * 2 + 1) / 10  # bin-center score: 0.1 0.3 0.5 0.7 0.9
        for i in range(20):
            rows.append((p, 1 if i < round(p * 20) else 0))
    df = spark.createDataFrame(rows, "s double, y int")
    out = stats.calibration_bins(
        df, F.col("y") == 1, F.col("s"), 0.0, 1.0, n_bins=5, scale=4
    ).collect()
    assert [r.bin for r in out] == [0, 1, 2, 3, 4]
    for r in out:
        assert r.n == 20
        assert abs(r.mean_score - r.outcome_rate) < 1e-9


def test_calibration_bins_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-5.0, 1), (0.5, 0), (99.0, 1)], "s double, y int"
    )
    out = {r.bin: r.n for r in stats.calibration_bins(
        df, F.col("y") == 1, F.col("s"), 0.0, 1.0, n_bins=4, scale=4
    ).collect()}
    assert out == {0: 1, 2: 1, 3: 1}


def test_welch_t_identical_groups_zero_t(spark):
    rows = [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [
        ("b", float(v)) for v in (1, 2, 3, 4, 5)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.welch_t_test(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    assert r.t_stat == 0.0 and r.n_a == 5 and r.n_b == 5
    assert r.mean_a == r.mean_b == 3.0
    assert abs(r.df - 8.0) < 1e-6  # equal n, equal var -> df = n_a+n_b-2


def test_welch_t_matches_python_model(spark):
    import math

    a = [1.0, 2.0, 3.0, 4.0, 10.0]
    b = [5.0, 5.5, 6.0, 6.5]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "g string, v double"
    )
    r = stats.welch_t_test(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
    sea, seb = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(sea + seb)
    dof = (sea + seb) ** 2 / (sea**2 / (len(a) - 1) + seb**2 / (len(b) - 1))
    assert abs(r.t_stat - round(t, 4)) < 2e-4
    assert abs(r.df - round(dof, 4)) < 2e-4


# ---------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------


def test_cohort_retention_known_matrix(spark):
    from mlentory_etl_pipeline_spark.operators.temporal import cohort_retention

    # two users activate week of 2024-01-01 (Mon); one returns next week
    rows = [
        (1, "2024-01-02 10:00:00"),
        (2, "2024-01-03 10:00:00"),
        (1, "2024-01-09 10:00:00"),
        (3, "2024-01-10 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        (str(r.cohort_week)[:10], r.week_offset): (r.n_active, r.cohort_size, r.retention)
        for r in cohort_retention(df, "user_id", "ts").collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 2, 0.5)
    assert out[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(out) == 3


# ---------------------------------------------------------------------
# zipf slope + PMI collocations
# ---------------------------------------------------------------------


def test_zipf_slope_exact_power_law(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import zipf_slope

    # frequencies 6/3/2 at ranks 1/2/3: f = 6/r exactly -> slope -1
    text = " ".join(["aa"] * 6 + ["bb"] * 3 + ["cc"] * 2)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_slope(df, "doc_id", "text").collect()[0]
    assert r.n_terms == 3
    assert abs(r.zipf_slope + 1.0) < 1e-3


def test_pmi_top_pairs_separates_collocated_from_independent(spark):
    import math

    from mlentory_etl_pipeline_spark.operators.textstats import pmi_top_pairs

    # u,v always co-occur (10 docs); x appears in every doc (20)
    docs = [(i, "uu vv xx") for i in range(10)] + [
        (i, "xx yy") for i in range(10, 20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r.w1, r.w2): r.pmi
        for r in pmi_top_pairs(
            df, "doc_id", "text", min_doc_freq=5, min_pair_count=5, top_k=10
        ).collect()
    }
    # pmi(u,v) = ln(20*10/(10*10)) = ln 2 (true collocation);
    # xx is in EVERY doc, so both its pairs are chance-level:
    # pmi(u,x) = pmi(x,y) = ln(20*10/(10*20)) = 0
    assert abs(out[("uu", "vv")] - math.log(2)) < 1e-5
    assert abs(out[("uu", "xx")]) < 1e-5
    assert abs(out[("xx", "yy")]) < 1e-5


# ---------------------------------------------------------------------
# correlation matrix + chi-squared + golden record
# ---------------------------------------------------------------------


def test_corr_matrix_perfect_and_inverse(spark):
    rows = [(float(i), float(2 * i), float(10 - i)) for i in range(20)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {(r.col_a, r.col_b): r.corr for r in stats.corr_matrix(
        df, ["x", "y", "z"]
    ).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0


def test_corr_matrix_partition_invariant(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    a = sorted(map(tuple, stats.corr_matrix(li, cols).collect()))
    b = sorted(map(tuple, stats.corr_matrix(li.repartition(13), cols).collect()))
    assert a == b


def test_chi2_known_2x2(spark):
    rows = (
        [("a", "p")] * 30 + [("a", "q")] * 10 + [("b", "p")] * 10 + [("b", "q")] * 30
    )
    df = spark.createDataFrame(rows, "x string, y string")
    r = stats.chi_squared_independence(df, F.col("x"), F.col("y")).collect()[0]
    # all expected cells = 20: chi2 = 4 * (10^2/20) = 20, dof = 1
    assert r.n_items == 80 and r.dof == 1
    assert abs(r.chi2 - 20.0) < 1e-4


def test_chi2_independent_uniform_is_zero(spark):
    rows = [(a, b) for a in "ab" for b in "pq" for _ in range(25)]
    df = spark.createDataFrame(rows, "x string, y string")
    r = stats.chi_squared_independence(df, F.col("x"), F.col("y")).collect()[0]
    assert r.chi2 == 0.0


def test_golden_record_latest_non_null_survives(spark):
    from mlentory_etl_pipeline_spark.operators.linkage import golden_record

    rows = [
        (1, 1, "old@x", "AA"),
        (1, 2, "new@x", None),
        (1, 3, None, "BB"),
        (2, 5, None, None),
    ]
    df = spark.createDataFrame(rows, "c long, k long, email string, name string")
    out = {r.cluster: r for r in golden_record(
        df, "c", F.col("k"), ["email", "name"]
    ).collect()}
    # cluster 1: latest non-null email is k=2 ('new@x'); latest name k=3
    assert out[1].email == "new@x" and out[1].name == "BB"
    assert out[1].n_obs == 3 and out[1].last_seen_key == 3
    # cluster 2: nothing non-null -> nulls survive, observation counted
    assert out[2].email is None and out[2].name is None and out[2].n_obs == 1


def test_golden_record_partition_invariant(spark):
    from mlentory_etl_pipeline_spark.operators.linkage import golden_record

    e = spark.read.parquet(f"{SF}/events.parquet")
    key = F.unix_timestamp("ts") * F.lit(2147483648) + F.col("event_id")
    a = sorted(map(tuple, golden_record(e, "user_id", key, ["event_type", "props"]).collect()))
    b = sorted(map(tuple, golden_record(
        e.repartition(17, "event_type"), "user_id", key, ["event_type", "props"]
    ).collect()))
    assert a == b


# ---------------------------------------------------------------------
# Kaplan-Meier + c-TF-IDF
# ---------------------------------------------------------------------


def test_kaplan_meier_hand_computed_with_censoring(spark):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import kaplan_meier

    d0 = datetime(2024, 1, 1)
    rows = []
    for uid, (first, last) in enumerate(
        [(0, 10), (0, 20), (5, 28), (0, 30)], start=1
    ):
        rows.append((uid, d0 + timedelta(days=first)))
        rows.append((uid, d0 + timedelta(days=last)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.duration_days: r for r in kaplan_meier(df, "user_id", "ts").collect()}
    # stream end = day 30, horizon 7 -> churned iff last < day 23:
    # u1 d=10 churn, u2 d=20 churn, u3 d=23 censored, u4 d=30 censored
    assert (out[10].n_risk, out[10].n_events) == (4, 1)
    assert abs(out[10].survival - 0.75) < 1e-5
    assert (out[20].n_risk, out[20].n_events) == (3, 1)
    assert abs(out[20].survival - 0.5) < 1e-5
    assert out[23].n_events == 0 and out[23].n_censored == 1
    assert abs(out[23].survival - 0.5) < 1e-5
    assert abs(out[30].survival - 0.5) < 1e-5


def test_kaplan_meier_all_churn_reaches_zero(spark):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import kaplan_meier

    d0 = datetime(2024, 1, 1)
    rows = []
    for uid in range(5):
        rows.append((uid, d0))
        rows.append((uid, d0 + timedelta(days=2 + uid)))
    # the stream-end user is ALWAYS censored (its last event IS the
    # end), so give it a SHORT lifetime: it leaves the risk set at
    # duration 1 and the longest-lived churner can drive S to 0
    rows.append((99, d0 + timedelta(days=46)))
    rows.append((99, d0 + timedelta(days=47)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.duration_days: r for r in kaplan_meier(df, "user_id", "ts").collect()}
    assert out[1].n_censored == 1 and out[1].n_events == 0
    # risk sets 5,4,3,2,1 each losing one churner: S = 0 at the end
    assert (out[6].n_risk, out[6].n_events) == (1, 1)
    assert out[6].survival == 0.0  # the everyone-at-risk-churns close
    assert out[5].survival > 0.0


def test_ctfidf_surfaces_distinguishing_terms(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import ctfidf_top_terms

    rows = [
        ("A", "special special special the the"),
        ("B", "common common common the the"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = ctfidf_top_terms(df, "source", "text", top_k=2).collect()
    top = {r.source: r.term for r in out if r.rank == 1}
    assert top == {"A": "special", "B": "common"}
    # the shared filler word never outranks the distinguishing term
    assert all(r.score > 0 for r in out)


def test_ctfidf_partition_invariant(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import ctfidf_top_terms

    d = spark.read.parquet(f"{SF}/documents.parquet")
    a = [tuple(r) for r in ctfidf_top_terms(d, "source", "text").collect()]
    b = [
        tuple(r)
        for r in ctfidf_top_terms(d.repartition(13), "source", "text").collect()
    ]
    assert a == b


# ---------------------------------------------------------------------
# burst detection + CUSUM + co-occurrence
# ---------------------------------------------------------------------


def test_zscore_flags_planted_spike(spark):
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1)
    rows = []
    for day in range(10):
        per_day = 100 if day != 8 else 500  # spike on day 8
        for i in range(per_day):
            rows.append(("a", d0 + timedelta(days=day, minutes=i)))
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {
        str(r.day)[:10]: r
        for r in stats.rolling_zscore_anomalies(df, ["g"], "ts", 7).collect()
    }
    # days 0-6: warm-up (no full trailing window) -> NULL z, not flagged
    assert out["2024-01-01"].z is None and out["2024-01-01"].is_anomaly == 0
    # day 7: constant baseline, constant value -> z = 0 (the rad==0 branch)
    assert out["2024-01-08"].z == 0.0
    # day 8: 5x spike over a flat baseline -> rad is 0 but num != 0 -> NULL
    # (division by zero std is undefined by contract, not +inf)
    assert out["2024-01-09"].z is None
    # day 9 baseline now contains the spike: variance > 0, z defined
    assert out["2024-01-10"].z is not None


def test_zscore_flags_spike_over_noisy_baseline(spark):
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1)
    rows = []
    counts = [100, 102, 98, 101, 99, 103, 97, 100, 400]  # day 8 bursts
    for day, per_day in enumerate(counts):
        for i in range(per_day):
            rows.append(("a", d0 + timedelta(days=day, minutes=i)))
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {
        str(r.day)[:10]: r
        for r in stats.rolling_zscore_anomalies(df, ["g"], "ts", 7).collect()
    }
    assert out["2024-01-09"].is_anomaly == 1 and out["2024-01-09"].z > 3
    assert out["2024-01-08"].is_anomaly == 0


def test_zscore_densify_scores_calendar_gaps_and_dead_feeds(spark):
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1)
    rows = []
    # group a: noisy baseline days 0-7, then DIES (no rows after day 7)
    counts = [100, 102, 98, 101, 99, 103, 97, 100]
    for day, per_day in enumerate(counts):
        for i in range(per_day):
            rows.append(("a", d0 + timedelta(days=day, minutes=i)))
    # group b: keeps the calendar alive through day 12
    for day in range(13):
        rows.append(("b", d0 + timedelta(days=day)))
    df = spark.createDataFrame(rows, "g string, ts timestamp")

    observed = {
        (r.g, str(r.day)[:10])
        for r in stats.rolling_zscore_anomalies(df, ["g"], "ts", 7).collect()
    }
    # default observed-days semantics: the dead feed emits nothing
    # after its last observed day
    assert ("a", "2024-01-09") not in observed

    dense = {
        (r.g, str(r.day)[:10]): r
        for r in stats.rolling_zscore_anomalies(
            df, ["g"], "ts", 7, densify=True
        ).collect()
    }
    # densify: zero-count days exist up to the GLOBAL last day and the
    # dead feed goes anomalous against its live baseline
    dead = dense[("a", "2024-01-09")]
    assert dead.n == 0 and dead.z is not None and dead.z < -3
    assert dead.is_anomaly == 1
    assert ("a", "2024-01-13") in dense  # runs to the global max day


def test_cusum_locates_level_shift(spark):
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        v = 10.0 if i < 10 else 50.0  # regime change at position 11
        rows.append(("a", d0 + timedelta(hours=i), i, v))
        rows.append(("flat", d0 + timedelta(hours=i), i, 7.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, id long, value double")
    out = {r.g: r for r in stats.cusum_changepoint(
        df, ["g"], "ts", "value", "id"
    ).collect()}
    # |CUSUM| peaks at the last pre-shift position (10): mean is 30,
    # so the first 10 points each contribute -20
    assert out["a"].changepoint_pos == 10
    assert abs(out["a"].peak_cusum - (-200.0)) < 1e-6
    assert out["flat"].peak_cusum == 0.0


def test_cooccurrence_pairs_counts_and_lift(spark):
    from mlentory_etl_pipeline_spark.operators.graph import cooccurrence_pairs

    # baskets: {x,y} x3, {x,z}, {y,z}, {x} -> pair xy=3, xz=1, yz=1
    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"),
        (4, "x"), (4, "z"),
        (5, "y"), (5, "z"),
        (6, "x"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {(r.item_a, r.item_b): r for r in cooccurrence_pairs(
        df, "b", "i", min_pair_count=1, top_k=10
    ).collect()}
    assert out[("x", "y")].n_pairs == 3
    # lift(x,y) = 3*6/(5*4) = 0.9
    assert abs(out[("x", "y")].lift - 0.9) < 1e-9
    # lift(y,z) = 1*6/(4*2) = 0.75
    assert abs(out[("y", "z")].lift - 0.75) < 1e-9


def test_cooccurrence_dedups_within_basket(spark):
    from mlentory_etl_pipeline_spark.operators.graph import cooccurrence_pairs

    # repeated (basket, item) rows must not inflate pair counts
    rows = [(1, "x"), (1, "x"), (1, "y"), (1, "y")]
    df = spark.createDataFrame(rows, "b long, i string")
    out = cooccurrence_pairs(df, "b", "i", min_pair_count=1, top_k=5).collect()
    assert len(out) == 1 and out[0].n_pairs == 1


def test_cooccurrence_basket_cap_bounds_fanout(spark):
    from mlentory_etl_pipeline_spark.operators.graph import cooccurrence_pairs

    # one adversarial 40-item basket among small ones; cap=5 bounds
    # that basket's pair fan-out to C(5,2)=10 instead of C(40,2)=780.
    rows = [(0, f"i{j:02d}") for j in range(40)]
    rows += [(b, x) for b in (1, 2, 3) for x in ("i00", "i01")]
    df = spark.createDataFrame(rows, "b long, i string")
    capped = cooccurrence_pairs(
        df, "b", "i", min_pair_count=1, top_k=1000, max_items_per_basket=5
    ).collect()
    # only pairs among the hot basket's 5 kept items plus the small
    # baskets' (i00,i01) pair — total distinct pairs == C(5,2)
    assert len(capped) == 10
    # the kept items are the corpus-hottest (i00, i01 appear in 4
    # baskets) then item-ASC tie-break (i02..i04): lift marginals
    # must reflect the CAPPED item sets, not the raw ones
    out = {(r.item_a, r.item_b): r for r in capped}
    assert out[("i00", "i01")].n_pairs == 4
    # lift(i00,i01) = 4 * 4 baskets / (4 * 4)
    assert abs(out[("i00", "i01")].lift - 1.0) < 1e-9
    # uncapped path unchanged
    uncapped = cooccurrence_pairs(df, "b", "i", min_pair_count=1, top_k=1000).collect()
    assert len(uncapped) == 40 * 39 // 2


def test_pmi_per_doc_cap_bounds_fanout(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import pmi_top_pairs

    # one adversarially wide doc (8 frequent words) among narrow docs;
    # cap=3 keeps only the 3 corpus-hottest words of each doc, so
    # pairs only form among {w0, w1, w2} (w0 hottest via extra docs)
    wide = " ".join(f"w{i}" for i in range(8))
    docs = [(0, wide)] + [(i, "w0 w1 w2") for i in range(1, 8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = pmi_top_pairs(
        df, "doc_id", "text", min_doc_freq=1, min_pair_count=1,
        top_k=100, max_words_per_doc=3,
    ).collect()
    seen = {(r.w1, r.w2) for r in capped}
    assert seen == {("w0", "w1"), ("w0", "w2"), ("w1", "w2")}
    uncapped = pmi_top_pairs(
        df, "doc_id", "text", min_doc_freq=1, min_pair_count=1, top_k=100
    ).collect()
    assert len(uncapped) == 8 * 7 // 2  # all pairs of the wide doc


def test_welch_per_segment_sweep(spark):
    rows = []
    for seg, shift in (("s1", 0.0), ("s2", 5.0)):
        for v in (1.0, 2.0, 3.0, 4.0, 5.0):
            rows.append((seg, "a", v + shift))
            rows.append((seg, "b", v))
    rows.append(("s3", "a", 9.0))  # missing group b -> NULL t
    df = spark.createDataFrame(rows, "seg string, g string, v double")
    out = {r.seg: r for r in stats.welch_t_test(
        df, F.col("g"), F.col("v"), "a", "b", segment_cols=["seg"]
    ).collect()}
    assert out["s1"].t_stat == 0.0
    assert out["s2"].mean_a - out["s2"].mean_b == 5.0 and out["s2"].t_stat > 3
    assert out["s3"].t_stat is None and out["s3"].n_b is None


def test_skew_key_profile_recommendations(spark):
    from mlentory_etl_pipeline_spark.operators.skew import skew_key_profile

    # hot key: ~65% of rows (over the salt bar); warm key: ~8% share
    # but ~20x the mean (AQE territory); rest spread thin
    rows = (
        [("hot",)] * 600
        + [("warm",)] * 80
        + [(f"k{i}",) for i in range(250)]
    )
    df = spark.createDataFrame(rows, "k string")
    out = {r.key: r for r in skew_key_profile(df, ["k"], top_k=5).collect()}
    assert out["hot"].recommendation == "salt" and out["hot"].rank == 1
    assert out["warm"].recommendation == "aqe_skew_join"
    k0 = out.get("k0")
    assert k0 is not None and k0.recommendation == "hash_join_ok"
    assert abs(out["hot"].share - 600 / 930) < 1e-6  # share is round(.,6)
    assert out["hot"].n_keys == 252


def test_join_size_profile_predicts_actual_join(spark):
    from mlentory_etl_pipeline_spark.operators.skew import join_size_profile

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 3, 9]], "k long"
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 2, 2, 4]], "k long"
    )
    prof = join_size_profile(left, right, "k", "k").first()
    actual = left.join(right, "k").count()
    assert prof.join_rows == actual == 3 * 2 + 1 * 3
    assert prof.max_key_rows == 6 and prof.hottest_key == "1"
    assert prof.n_left == 6 and prof.n_right == 6
    assert prof.left_keys == 4 and prof.right_keys == 3
    assert prof.common_keys == 2
    # disjoint keys: zero join rows, NULL argmax, still one row
    empty = join_size_profile(
        left, spark.createDataFrame([(7,)], "k long"), "k", "k"
    ).first()
    assert empty.join_rows == 0 and empty.common_keys == 0
    assert empty.max_key_rows is None and empty.hottest_key is None


def test_krippendorff_alpha_hand_cases(spark):
    from mlentory_etl_pipeline_spark.operators.stats import (
        krippendorff_alpha_nominal,
    )

    def alpha_of(rows):
        df = spark.createDataFrame(rows, "item long, label string")
        r = krippendorff_alpha_nominal(df, "item", "label").collect()[0]
        return r

    # perfect agreement -> alpha = 1
    r = alpha_of([(1, "A"), (1, "A"), (2, "B"), (2, "B")])
    assert r.alpha == 1.0 and r.do_micros == 0
    # (A,A) + (A,B): Do_sum = 2, n=4, n_A=3,n_B=1 ->
    # alpha = 1 - 3*2/(16-10) = 0  (observed = chance)
    r = alpha_of([(1, "A"), (1, "A"), (2, "A"), (2, "B")])
    assert r.alpha == 0.0 and r.do_micros == 2_000_000
    # variable m: (A,A,B) has pd=4, weight 1/(3-1) -> 2e6 micros;
    # singleton items are excluded from n and the label totals
    r = alpha_of([(1, "A"), (1, "A"), (1, "B"), (2, "C")])
    assert r.n_items == 1 and r.n_annotations == 3
    assert r.do_micros == 2_000_000
    # n=3, n_A=2, n_B=1: alpha = 1 - 2*2/(9-5) = 0
    assert r.alpha == 0.0


def test_shapley_coverage_credits_sum_to_covered_vocab(spark):
    """Coverage-game Shapley closed form: each token splits 1/k among
    the k sources holding it; per-source credits must sum exactly to
    the covered vocabulary size (efficiency axiom), and a token
    unique to one source credits it fully."""
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY
    import duckdb, os
    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["shapley_source_vocab_value"].spark_fn(spark, sf).collect()
    total_credit_60 = sum(r.credit_60 for r in rows)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    covered = con.execute("""
      WITH top5 AS (
        SELECT source FROM (
          SELECT source, COUNT(*) AS nd FROM documents GROUP BY source
          ORDER BY nd DESC, source ASC LIMIT 5
        )
      )
      SELECT COUNT(DISTINCT token) FROM (
        SELECT UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS token
        FROM documents JOIN top5 USING (source)
      )
    """).fetchone()[0]
    assert total_credit_60 == covered * 60


def test_trimmed_mean_matches_hand_computation(spark):
    """1..10 cents with g = floor(10/10) = 1: drop 1 and 10, mean of
    2..9 = 5.5; duplicates handled via interval-overlap multiplicity."""
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY
    import duckdb

    # drive the registered plan through a DuckDB view of a toy table?
    # simpler: replicate the operator's arithmetic inline
    from pyspark.sql import Window, functions as F
    vals = spark.createDataFrame(
        [("g", v) for v in range(1, 11)] + [("h", 5)] * 10 + [("h", 100)],
        "event_type string, v long",
    ).groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0)
    wn = Window.partitionBy("event_type")
    cum = vals.select("event_type", "v", "c",
                      F.sum("c").over(w).alias("cm"),
                      F.sum("c").over(wn).alias("n"))
    g = F.floor(F.col("n").cast("double") / 10.0).cast("long")
    kc = F.greatest(F.lit(0).cast("long"),
                    F.least(F.col("cm"), F.col("n") - g)
                    - F.greatest(F.col("cm") - F.col("c") + 1, g + 1) + 1)
    out = {r.event_type: r.tm for r in cum.select("event_type", "n", g.alias("g"), kc.alias("kc"), "v")
           .groupBy("event_type")
           .agg(F.round(F.sum(F.col("v") * F.col("kc")).cast("double")
                        / (F.max("n") - 2 * F.max("g")).cast("double"), 6).alias("tm"))
           .collect()}
    assert out["g"] == 5.5
    # h: 10x value-5 + one 100; n=11, g=1 -> drop one 5 and the 100;
    # mean of nine 5s = 5.0 (the outlier is gone)
    assert out["h"] == 5.0


def test_spearman_exact_on_known_sequences(spark):
    """Perfect monotone -> rho = 1; perfect reverse -> -1; ties give
    the scipy-identical tie-aware value."""
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY
    from pyspark.sql import Window, functions as F

    # drive the same midrank construction on a toy frame
    def rho_of(xy):
        r = spark.createDataFrame(
            [("g", x, y) for x, y in xy], "g string, x long, y long"
        )
        def midranks(col):
            w = Window.partitionBy("g").orderBy(col).rowsBetween(
                Window.unboundedPreceding, 0)
            grp = r.groupBy("g", col).agg(F.count(F.lit(1)).alias("_c"))
            return grp.select("g", col,
                (2 * (F.sum("_c").over(w) - F.col("_c")) + F.col("_c") + 1
                 ).alias(f"{col}2"))
        j = r.join(midranks("x"), ["g", "x"]).join(midranks("y"), ["g", "y"])
        m = j.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x2").alias("sx"), F.sum("y2").alias("sy"),
            F.sum(F.col("x2") * F.col("x2")).alias("sxx"),
            F.sum(F.col("y2") * F.col("y2")).alias("syy"),
            F.sum(F.col("x2") * F.col("y2")).alias("sxy"))
        row = m.collect()[0]
        num = row.n * row.sxy - row.sx * row.sy
        dx = row.n * row.sxx - row.sx * row.sx
        dy = row.n * row.syy - row.sy * row.sy
        return num / (dx * dy) ** 0.5

    assert abs(rho_of([(i, i * 10) for i in range(1, 9)]) - 1.0) < 1e-12
    assert abs(rho_of([(i, -i) for i in range(1, 9)]) + 1.0) < 1e-12
    # tie-aware case: x midranks (1, 2.5, 2.5, 4) vs y (1,2,3,4) ->
    # Pearson-on-midranks = 0.9486832980505138 (hand-computed)
    assert abs(rho_of([(1, 1), (2, 2), (2, 3), (3, 4)])
               - 0.9486832980505138) < 1e-9


# --- exact-integer zero-checks on degenerate inputs (round-7 audit) ----
# Each of these inputs makes the checked quantity EXACTLY zero in
# integer arithmetic while a float-closed version of the same moment
# lands at a ~1e-16 residual; the contract is NULL, not garbage.


def test_welch_t_null_when_both_groups_constant(spark):
    rows = [("a", 7.0)] * 3 + [("b", 9.0)] * 4
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.welch_t_test(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    assert r.t_stat is None and r.df is None
    assert r.mean_a == 7.0 and r.mean_b == 9.0


def test_welch_t_defined_with_one_constant_group(spark):
    rows = [("a", 7.0)] * 3 + [("b", 1.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.welch_t_test(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    # var_a = 0 exactly, var_b > 0: t is mathematically defined
    assert r.t_stat is not None
    expected = (7.0 - 2.0) / math.sqrt(1.0 / 3)
    assert abs(r.t_stat - expected) < 1e-3


def test_mann_whitney_null_z_when_all_values_tie(spark):
    rows = [("a", 5.0)] * 4 + [("b", 5.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.mann_whitney_u(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    assert r.z_value is None
    assert r.n_a == 4 and r.n_b == 3


def test_acf_null_on_constant_daily_series(spark):
    # two events every day -> densified series is constant -> var = 0
    rows = [
        ("g", f"2024-01-{d:02d} 0{h}:00:00") for d in range(1, 11) for h in (1, 2)
    ]
    df = spark.createDataFrame(rows, "g string, ts string").select(
        "g", F.col("ts").cast("timestamp").alias("ts")
    )
    out = stats.acf_daily(df, F.col("g"), F.col("ts"), max_lag=3).collect()
    assert len(out) == 3
    assert all(r.acf is None for r in out)


def test_seasonal_bursts_constant_feed_flags_nothing(spark):
    """A perfectly rhythmic feed (same count every day) has ZERO
    adjusted variance — the exact-integer gate must emit no bursts.
    Without it the float radicand can go tiny-negative, sqrt gives
    NaN, and Spark orders NaN above every threshold, flagging EVERY
    day (round-7 audit, the ols2_by_group failure class)."""
    from mlentory_etl_pipeline_spark.operators.temporal import (
        seasonal_adjusted_bursts,
    )

    rows = [
        ("g", f"2024-01-{d:02d} 0{h}:00:00")
        for d in range(1, 22)
        for h in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "g string, ts string").select(
        "g", F.col("ts").cast("timestamp").alias("ts")
    )
    out = seasonal_adjusted_bursts(
        df, F.col("g"), F.col("ts"), z_threshold=2.0
    ).collect()
    assert out == []
