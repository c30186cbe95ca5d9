"""Property tests for the evaluation-statistics family vs sequential
Python models.

The oracle gate proves Spark and DuckDB AGREE; it cannot prove both
are right (the BPE adjacency bug replicated identically in both
engines). These models implement the textbook definitions directly —
pairwise-comparison AUC, brute-force CUSUM argmax, and a dict-fold
survivorship — on hypothesis-generated inputs that maximize ties,
nulls, and degenerate groups.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators.linkage import golden_record
from mlentory_etl_pipeline_spark.operators.stats import (
    cusum_changepoint,
    exact_auc,
)

# --- exact AUC vs the O(P*N) pairwise definition ----------------------

# few distinct score values -> heavy ties, the hard case for rank AUC
auc_case = st.lists(
    st.tuples(st.booleans(), st.sampled_from([0.1, 0.25, 0.25001, 0.5, 0.9])),
    min_size=2,
    max_size=30,
).filter(lambda xs: any(y for y, _ in xs) and any(not y for y, _ in xs))


import pytest

pytestmark = pytest.mark.slow


def _pairwise_auc(pairs):
    pos = [s for y, s in pairs if y]
    neg = [s for y, s in pairs if not y]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    return wins / (len(pos) * len(neg))


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(auc_case)
def test_exact_auc_matches_pairwise_definition(spark, pairs):
    df = spark.createDataFrame(
        [(1 if y else 0, s) for y, s in pairs], "y int, s double"
    )
    row = exact_auc(df, F.col("y") == 1, F.col("s")).collect()[0]
    assert abs(row.auc - round(_pairwise_auc(pairs), 6)) < 2e-6


# --- CUSUM vs brute-force argmax --------------------------------------

cusum_case = st.lists(
    st.integers(-50, 50), min_size=1, max_size=25
)


def _cusum_model(values):
    import math

    # the operator's quantization contract is floor OF THE IEEE
    # PRODUCT (floor(value*100) on doubles — e.g. -7 cents stored as
    # -0.07 quantizes to -8 because -0.07*100 = -7.000…001), identical
    # in Spark and DuckDB; the model must apply the same map
    values = [math.floor((c / 100.0) * 100) for c in values]
    n = len(values)
    s = sum(values)
    best = None  # (mag, -t) max → mag DESC, t ASC
    prefix = 0
    for t, v in enumerate(values, start=1):
        prefix += v
        dev = n * prefix - t * s
        key = (abs(dev), -t)
        if best is None or key > best[0]:
            best = (key, t, dev)
    return best[1], best[2] / n / 100.0


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cusum_case)
def test_cusum_matches_bruteforce_model(spark, cents_values):
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1)
    rows = [
        ("g", d0 + timedelta(minutes=i), i, c / 100.0)
        for i, c in enumerate(cents_values)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, id long, value double")
    got = cusum_changepoint(df, ["g"], "ts", "value", "id").collect()[0]
    pos, peak = _cusum_model(cents_values)
    assert got.changepoint_pos == pos
    # Spark's round() is HALF_UP on the double's shortest decimal repr
    # (BigDecimal.valueOf); Python's round() is half-even — they split
    # on exact .xxx5 reprs (e.g. peak = -0.02625 -> -0.0263 vs
    # -0.0262), so the model must round the way the engine does
    from decimal import ROUND_HALF_UP, Decimal

    want = float(
        Decimal(repr(peak)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )
    assert abs(got.peak_cusum - want) < 1e-9
    assert got.n_points == len(cents_values)


# --- golden record vs dict-fold survivorship --------------------------

gr_case = st.lists(
    st.tuples(
        st.integers(0, 2),                      # cluster
        st.integers(0, 40),                     # order key
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
        st.one_of(st.none(), st.sampled_from(["x", "y"])),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),  # key is a total order per cluster
)


def _gr_model(rows):
    out = {}
    for c, k, f1, f2 in sorted(rows, key=lambda t: t[1]):
        cur = out.setdefault(c, {"n": 0, "k": None, "f1": None, "f2": None})
        cur["n"] += 1
        cur["k"] = k
        if f1 is not None:
            cur["f1"] = f1
        if f2 is not None:
            cur["f2"] = f2
    return out


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(gr_case)
def test_golden_record_matches_fold_model(spark, rows):
    df = spark.createDataFrame(rows, "c long, k long, f1 string, f2 string")
    got = {
        r.cluster: (r.n_obs, r.last_seen_key, r.f1, r.f2)
        for r in golden_record(df, "c", F.col("k"), ["f1", "f2"]).collect()
    }
    want = {
        c: (m["n"], m["k"], m["f1"], m["f2"]) for c, m in _gr_model(rows).items()
    }
    assert got == want


# --- cohort retention vs dict-fold model ------------------------------

cohort_case = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 27)),  # (user, day)
    min_size=1,
    max_size=40,
)


def _cohort_model(events):
    def week(day):  # Monday-start week index for Jan 2024 (Jan 1 = Monday)
        return day // 7

    first = {}
    for u, day in events:
        first[u] = min(first.get(u, day), day)
    cohort = {u: week(d) for u, d in first.items()}
    cells = {}
    for u, day in set((u, week(d)) for u, d in events):
        key = (cohort[u], day - cohort[u])
        cells[key] = cells.get(key, 0) + 1
    sizes = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    return {
        (cw, off): (n, sizes[cw], round(n / sizes[cw], 6))
        for (cw, off), n in cells.items()
    }


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cohort_case)
def test_cohort_retention_matches_fold_model(spark, events):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import cohort_retention

    d0 = datetime(2024, 1, 1)  # a Monday: day//7 == date_trunc week
    rows = [(u, d0 + timedelta(days=day, hours=3)) for u, day in events]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        ((r.cohort_week - d0).days // 7, r.week_offset): (
            r.n_active,
            r.cohort_size,
            r.retention,
        )
        for r in cohort_retention(df, "user_id", "ts").collect()
    }
    assert got == _cohort_model(events)


# --- privacy audit vs dict model --------------------------------------

privacy_case = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 3)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(privacy_case, st.integers(1, 6), st.integers(1, 3))
def test_privacy_audit_matches_dict_model(spark, rows, k, l):
    from mlentory_etl_pipeline_spark.operators.curation import privacy_audit

    df = spark.createDataFrame(rows, "q string, s long")
    r = privacy_audit(df, ["q"], "s", k=k, l=l).collect()[0]
    classes = {}
    for q, sv in rows:
        classes.setdefault(q, []).append(sv)
    ns = [len(v) for v in classes.values()]
    ls = [len(set(v)) for v in classes.values()]
    assert r.n_rows == len(rows)
    assert r.n_classes == len(classes)
    assert r.min_class_size == min(ns)
    assert r.n_rows_below_k == sum(n for n in ns if n < k)
    assert r.min_l_diversity == min(ls)
    assert r.n_classes_below_l == sum(1 for x in ls if x < l)


# --- quantile normalize (distributed rank) vs naive model --------------

qn_case = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40)),  # (source, score)
    min_size=2,
    max_size=40,
)


def _qn_model(rows):
    # rows: [(id, src, score)] — exact-mode definition: within-group
    # percent_rank ordered by (score, id), global index
    # floor(pr*(N-1))+1 into the (score, src, id)-sorted score list
    import math

    n = len(rows)
    glob = [s for s, _, _ in sorted((sc, src, i) for i, src, sc in rows)]
    out = {}
    by_src = {}
    for i, src, sc in rows:
        by_src.setdefault(src, []).append((sc, i))
    for src, members in by_src.items():
        members.sort()
        m = len(members)
        for rank, (sc, i) in enumerate(members):
            pr = 0.0 if m == 1 else rank / (m - 1)
            gidx = math.floor(pr * (n - 1)) + 1
            out[i] = glob[gidx - 1]
    return out


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(qn_case)
def test_quantile_normalize_matches_rank_model(spark, pairs):
    from mlentory_etl_pipeline_spark.operators.curation import quantile_normalize

    rows = [(i, f"s{src}", float(sc)) for i, (src, sc) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, src string, score double")
    got = {
        r.id: r.calibrated
        for r in quantile_normalize(df, "src", "score", "id").collect()
    }
    model = _qn_model([(i, src, sc) for i, src, sc in rows])
    assert got == {i: float(v) for i, v in model.items()}


# --- Mann-Whitney U vs the O(n_a*n_b) pairwise definition -------------

# few distinct values -> maximal ties, the hard case for rank tests
mw_case = st.lists(
    st.tuples(
        st.booleans(), st.sampled_from([0.1, 0.25, 0.25001, 0.5, 0.9])
    ),
    min_size=2,
    max_size=30,
).filter(lambda xs: any(y for y, _ in xs) and any(not y for y, _ in xs))


def _mw_model(pairs):
    import math
    from collections import Counter

    a = [v for g, v in pairs if g]
    b = [v for g, v in pairs if not g]
    u = sum(
        1.0 if x > y else (0.5 if x == y else 0.0) for x in a for y in b
    )
    na, nb = len(a), len(b)
    n = na + nb
    tie = sum(c**3 - c for c in Counter(a + b).values())
    var = na * nb / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = None if var == 0 else (2 * u - na * nb) / (2 * math.sqrt(var))
    return na, nb, u, z


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mw_case)
def test_mann_whitney_matches_pairwise_definition(spark, pairs):
    from mlentory_etl_pipeline_spark.operators.stats import mann_whitney_u

    df = spark.createDataFrame(
        [("a" if g else "b", v) for g, v in pairs], "g string, v double"
    )
    row = mann_whitney_u(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    na, nb, u, z = _mw_model(pairs)
    assert (row.n_a, row.n_b) == (na, nb)
    assert abs(row.u_a - u) < 1e-9
    if z is None:
        assert row.z_value is None  # all-ties degenerate contract
    else:
        assert abs(row.z_value - round(z, 4)) < 2e-4


# --- two-sample KS vs the brute-force sup over pooled values ----------


def _ks_model(pairs):
    import math

    a = [v for g, v in pairs if g]
    b = [v for g, v in pairs if not g]
    na, nb = len(a), len(b)
    d = max(
        abs(
            sum(1 for x in a if x <= v) / na
            - sum(1 for x in b if x <= v) / nb
        )
        for v in set(a + b)
    )
    return na, nb, d, d * math.sqrt(na * nb / (na + nb))


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mw_case)
def test_ks_two_sample_matches_bruteforce_sup(spark, pairs):
    from mlentory_etl_pipeline_spark.operators.stats import ks_two_sample

    df = spark.createDataFrame(
        [("a" if g else "b", v) for g, v in pairs], "g string, v double"
    )
    row = ks_two_sample(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    na, nb, d, stat = _ks_model(pairs)
    assert (row.n_a, row.n_b) == (na, nb)
    assert abs(row.ks_d - round(d, 6)) < 2e-6
    assert abs(row.ks_stat - round(stat, 6)) < 2e-6


# --- Gini vs the O(n^2) mean-absolute-difference definition -----------

gini_case = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.sampled_from([0.0, 0.01, 1.0, 2.5, 2.5, 10.0]),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(gini_case)
def test_gini_matches_mean_abs_difference_definition(spark, rows):
    from mlentory_etl_pipeline_spark.operators.stats import gini_by_group

    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.group: r
        for r in gini_by_group(
            df, F.col("g"), F.col("v"), scale=100
        ).collect()
    }
    for g in {g for g, _ in rows}:
        xs = [round(v * 100) for gg, v in rows if gg == g]  # cents
        n, s = len(xs), sum(xs)
        row = got[g]
        assert row.n == n
        if s == 0:
            assert row.gini is None  # zero-total degenerate contract
            continue
        # independent definition: mean absolute difference / (2 mean)
        mad = sum(abs(a - b) for a in xs for b in xs) / (n * n)
        assert abs(row.gini - mad / (2 * s / n)) < 2e-6


# --- delete-one-group jackknife vs explicit deleted means -------------

jk_case = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(0, 1000),
    ),
    min_size=2,
    max_size=30,
).filter(lambda xs: len({g for g, _ in xs}) >= 2)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(jk_case)
def test_jackknife_matches_explicit_deleted_means(spark, rows):
    import math

    from mlentory_etl_pipeline_spark.operators.stats import jackknife_mean

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    row = jackknife_mean(df, F.col("g"), F.col("v"), scale=1).collect()[0]
    groups = sorted({g for g, _ in rows})
    n_total = len(rows)
    s_total = sum(v for _, v in rows)
    thetas = []
    for g in groups:
        kept = [v for gg, v in rows if gg != g]
        thetas.append(math.floor(sum(kept) / len(kept) * 1e6 + 0.5) / 1e6)
    gg = len(groups)
    tbar = sum(thetas) / gg
    se = math.sqrt((gg - 1) / gg * sum((t - tbar) ** 2 for t in thetas))
    assert row.n_rows == n_total
    assert row.n_groups == gg
    assert abs(row.theta_hat - s_total / n_total) < 2e-6
    assert abs(row.jack_se - se) < 2e-5


# --- daily ACF vs the textbook definition on a dense series -----------

acf_case = st.lists(
    st.tuples(
        st.sampled_from(["x", "y"]),
        st.integers(0, 9),   # day offset (gaps force densification)
        st.integers(1, 3),   # events that day
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(acf_case)
def test_acf_daily_matches_dense_definition(spark, rows):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.stats import acf_daily

    base = datetime(2024, 3, 1, 12, 0, 0)
    data = [
        (g, base + timedelta(days=off))
        for g, off, cnt in rows
        for _ in range(cnt)
    ]
    df = spark.createDataFrame(data, "g string, ts timestamp")
    got = {
        (r.group, r.lag): r
        for r in acf_daily(df, F.col("g"), F.col("ts"), max_lag=3).collect()
    }
    for g in {g for g, _, _ in rows}:
        days = [off for gg, off, _ in rows if gg == g]
        lo, hi = min(days), max(days)
        series = [
            sum(c for gg, off, c in rows if gg == g and off == d)
            for d in range(lo, hi + 1)
        ]
        n = len(series)
        m = sum(series) / n
        den = sum((v - m) ** 2 for v in series)
        for k in (1, 2, 3):
            row = got[(g, k)]
            assert row.n_days == n
            if n <= k or den == 0:
                assert row.acf is None
            else:
                num = sum(
                    (series[t] - m) * (series[t + k] - m)
                    for t in range(n - k)
                )
                assert abs(row.acf - num / den) < 2e-6


# --- isotonic rate vs the PAVA stack algorithm ------------------------
# the operator evaluates the minimax characterization; PAVA
# (pool-adjacent-violators) is an independent algorithm for the same
# optimum — agreement cross-checks both

iso_case = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.integers(0, 6),    # bucket
        st.booleans(),        # label
    ),
    min_size=1,
    max_size=40,
)


def _pava_model(pairs):
    from collections import defaultdict
    from fractions import Fraction

    agg = defaultdict(lambda: [0, 0])
    for g, b, y in pairs:
        agg[(g, b)][0] += 1
        agg[(g, b)][1] += int(y)
    out = {}
    for g in {g for g, _, _ in pairs}:
        bs = sorted(b for gg, b in agg if gg == g)
        pools = []  # [w, s, n_buckets]
        for b in bs:
            w, s = agg[(g, b)]
            pools.append([w, s, 1])
            while len(pools) > 1 and Fraction(
                pools[-2][1], pools[-2][0]
            ) >= Fraction(pools[-1][1], pools[-1][0]):
                w2, s2, c2 = pools.pop()
                pools[-1][0] += w2
                pools[-1][1] += s2
                pools[-1][2] += c2
        i = 0
        for w, s, c in pools:
            for _ in range(c):
                b = bs[i]
                out[(g, b)] = (agg[(g, b)][0], s / w)
                i += 1
    return out


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(iso_case)
def test_isotonic_rate_matches_pava(spark, pairs):
    from mlentory_etl_pipeline_spark.operators.stats import isotonic_rate

    df = spark.createDataFrame(pairs, "g string, b long, y boolean")
    got = {
        (r.group, r.bucket): (r.n, r.rate_iso)
        for r in isotonic_rate(
            df, F.col("g"), F.col("b"), F.col("y")
        ).collect()
    }
    want = _pava_model(pairs)
    assert got.keys() == want.keys()
    for key in want:
        assert got[key][0] == want[key][0]
        assert abs(got[key][1] - want[key][1]) < 2e-6


# --- RFM segmentation vs dict-fold model ------------------------------

rfm_case = st.lists(
    st.tuples(
        st.integers(1, 8),    # customer
        st.integers(0, 20),   # day offset of order
        st.integers(1, 500),  # order total in whole dollars
    ),
    min_size=1,
    max_size=40,
)


def _pdisc(sorted_vals, q):
    import math

    # percentile_disc: smallest value whose cumulative fraction >= q
    n = len(sorted_vals)
    return sorted_vals[max(0, math.ceil(q * n) - 1)]


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rfm_case)
def test_rfm_segments_matches_fold_model(spark, orders):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import rfm_segments

    d0 = datetime(2024, 1, 1)
    rows = [
        (c, d0 + timedelta(days=day), float(amt))
        for c, day, amt in orders
    ]
    df = spark.createDataFrame(rows, "c long, d timestamp, v double")
    got = {
        (r.r_score, r.f_score, r.m_score): (r.n_customers, r.avg_monetary)
        for r in rfm_segments(
            df, F.col("c"), F.col("d"), F.col("v")
        ).collect()
    }
    ref_day = max(day for _, day, _ in orders)
    cust = {}
    for c, day, amt in orders:
        cur = cust.setdefault(c, {"last": -1, "f": 0, "cents": 0})
        cur["last"] = max(cur["last"], day)
        cur["f"] += 1
        cur["cents"] += amt * 100
    for c in cust:
        cust[c]["rd"] = ref_day - cust[c]["last"]
        cust[c]["md"] = cust[c]["cents"] / 100
    qs = (0.2, 0.4, 0.6, 0.8)
    rb = [_pdisc(sorted(x["rd"] for x in cust.values()), q) for q in qs]
    fb = [_pdisc(sorted(x["f"] for x in cust.values()), q) for q in qs]
    mb = [_pdisc(sorted(x["md"] for x in cust.values()), q) for q in qs]
    segs = {}
    for x in cust.values():
        key = (
            5 - sum(x["rd"] > b for b in rb),
            1 + sum(x["f"] > b for b in fb),
            1 + sum(x["md"] > b for b in mb),
        )
        n, cents = segs.get(key, (0, 0))
        segs[key] = (n + 1, cents + x["cents"])
    want = {
        k: (n, round(cents / n / 100, 4)) for k, (n, cents) in segs.items()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


# --- Markov transitions vs dict-fold model ----------------------------

mk_case = st.lists(
    st.tuples(
        st.integers(0, 3),             # entity
        st.integers(0, 5),             # ts (coarse -> forced ties)
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mk_case)
def test_markov_transitions_matches_fold_model(spark, events):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import (
        markov_transitions,
    )

    d0 = datetime(2024, 1, 1)
    rows = [
        (e, d0 + timedelta(hours=ts), i, s)
        for i, (e, ts, s) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "e long, ts timestamp, id long, s string")
    got = {
        (r.prev_state, r.next_state): (r.n_transitions, r.p)
        for r in markov_transitions(
            df, F.col("e"), F.col("ts"), F.col("s"), F.col("id")
        ).collect()
    }
    counts = {}
    for e in {e for e, _, _ in events}:
        seq = [
            s
            for ts, i, s in sorted(
                ((ts, i, s) for i, (ee, ts, s) in enumerate(events) if ee == e)
            )
        ]
        for prev, nxt in zip(seq, seq[1:]):
            counts[(prev, nxt)] = counts.get((prev, nxt), 0) + 1
    rowsum = {}
    for (prev, _), n in counts.items():
        rowsum[prev] = rowsum.get(prev, 0) + n
    want = {
        k: (n, round(n / rowsum[k[0]], 6)) for k, n in counts.items()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 2e-6


# --- 2-feature OLS vs numpy lstsq -------------------------------------

ols_case = st.lists(
    st.tuples(
        st.integers(0, 5),     # x1
        st.integers(0, 3),     # x2
        st.integers(-500, 500),  # y cents
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ols_case)
# the round-6 judge counterexample: exactly-collinear regressors
# (x2 = 1 - x1) with nonconstant y — a float-closed det lands at
# ~2e-16 instead of 0 and emits b1=1.28, b2=-1.28, r2=1.28
@example(rows=[(0, 1, 100), (0, 1, 200), (1, 0, 300)])
# degenerate zero-y collinear case: NULL coefficients AND NULL r2
@example(rows=[(0, 1, 0), (0, 1, 0), (1, 0, 0)])
def test_ols2_matches_numpy_lstsq(spark, rows):
    import numpy as np

    from mlentory_etl_pipeline_spark.operators.stats import ols2_by_group

    df = spark.createDataFrame(
        [("g", x1, x2, c / 100.0) for x1, x2, c in rows],
        "g string, x1 long, x2 long, y double",
    )
    r = ols2_by_group(
        df, ["g"], F.col("x1"), F.col("x2"), F.col("y")
    ).collect()[0]
    assert r.n == len(rows)
    xs = np.array([(1.0, x1, x2) for x1, x2, _ in rows])
    # match the operator's quantization: floor of the IEEE product
    ys = np.array([np.floor((c / 100.0) * 100) / 100 for _, _, c in rows])
    # exact integer determinant — the operator's contract decides
    # collinearity on exact DECIMAL moments, so the model must too
    # (a float-closed det misses e.g. x1=[0,0,5], x2=[1,1,0])
    n = len(rows)
    s1 = sum(x1 for x1, _, _ in rows)
    s2 = sum(x2 for _, x2, _ in rows)
    s11 = sum(x1 * x1 for x1, _, _ in rows)
    s12 = sum(x1 * x2 for x1, x2, _ in rows)
    s22 = sum(x2 * x2 for _, x2, _ in rows)
    m11i = n * s11 - s1 * s1
    m12i = n * s12 - s1 * s2
    m22i = n * s22 - s2 * s2
    if m11i * m22i - m12i * m12i == 0:
        # collinear/degenerate contract: NULL coefficients and r2
        assert r.b1 is None and r.b2 is None and r.r2 is None
        return
    beta, *_ = np.linalg.lstsq(xs, ys, rcond=None)
    pred = xs @ beta
    sst = ((ys - ys.mean()) ** 2).sum()
    assert abs(r.b0 - beta[0]) < 1e-4
    assert abs(r.b1 - beta[1]) < 1e-4
    assert abs(r.b2 - beta[2]) < 1e-4
    if sst == 0:
        assert r.r2 is None
    else:
        r2 = 1 - ((ys - pred) ** 2).sum() / sst
        assert abs(r.r2 - r2) < 1e-4


# --- transition latency vs dict-fold model ----------------------------


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mk_case)
def test_transition_latency_matches_fold_model(spark, events):
    import math
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import (
        transition_latency,
    )

    d0 = datetime(2024, 1, 1)
    rows = [
        (e, d0 + timedelta(hours=ts, microseconds=137 * i), i, s)
        for i, (e, ts, s) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "e long, ts timestamp, id long, s string")
    got = {
        (r.prev_state, r.next_state): (
            r.n_transitions,
            r.avg_seconds,
            r.median_seconds,
        )
        for r in transition_latency(
            df, F.col("e"), F.col("ts"), F.col("s"), F.col("id")
        ).collect()
    }
    gaps = {}
    for e in {e for e, _, _, _ in rows}:
        seq = sorted(
            ((ts, i, s) for ee, ts, i, s in rows if ee == e)
        )
        for (t1, _, s1), (t2, _, s2) in zip(seq, seq[1:]):
            us = round((t2 - t1).total_seconds() * 1e6)
            gaps.setdefault((s1, s2), []).append(us)
    assert got.keys() == gaps.keys()
    for k, us_list in gaps.items():
        us_list.sort()
        n = len(us_list)
        med = us_list[max(0, math.ceil(0.5 * n) - 1)]  # percentile_disc
        assert got[k][0] == n
        assert abs(got[k][1] - sum(us_list) / n / 1e6) < 1e-3
        assert abs(got[k][2] - med / 1e6) < 1e-6


# --- association rules vs dict model -----------------------------------

basket_case = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 5)),  # (basket, item)
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(basket_case)
def test_association_rules_matches_dict_model(spark, rows):
    from itertools import combinations

    from mlentory_etl_pipeline_spark.operators.graph import association_rules

    df = spark.createDataFrame(rows, "b int, i int")
    got = {
        (r.antecedent, r.consequent): (
            r.n_pair,
            r.support,
            r.confidence,
            r.lift,
        )
        for r in association_rules(df, "b", "i", min_pair_count=2).collect()
    }

    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    n_b = len(baskets)
    marg = {}
    for its in baskets.values():
        for i in its:
            marg[i] = marg.get(i, 0) + 1
    pair = {}
    for its in baskets.values():
        for x, y in combinations(sorted(its), 2):
            pair[(x, y)] = pair.get((x, y), 0) + 1
    want = {}
    for (x, y), n in pair.items():
        if n < 2:
            continue
        for a, c in ((x, y), (y, x)):
            want[(a, c)] = (
                n,
                round(n / n_b, 6),
                round(n / marg[a], 6),
                round(n * n_b / (marg[a] * marg[c]), 6),
            )
    assert set(got) == set(want)
    for key, (n, s, c, l) in want.items():
        gn, gs, gc, gl = got[key]
        assert gn == n
        assert abs(gs - s) < 1e-6 and abs(gc - c) < 1e-6 and abs(gl - l) < 1e-6


# --- RRF fusion vs dict model -------------------------------------------

rrf_case = st.tuples(
    st.integers(1, 3),  # number of rankers
    st.integers(2, 8),  # depth
    st.permutations(list(range(10))),
    st.permutations(list(range(10))),
    st.permutations(list(range(10))),
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rrf_case)
def test_rrf_fuse_matches_dict_model(spark, case):
    from mlentory_etl_pipeline_spark.operators.stats import (
        rrf_fuse,
        rrf_weights,
    )

    n_rankers, depth, p1, p2, p3 = case
    perms = [p1, p2, p3][:n_rankers]
    dfs = [
        spark.createDataFrame(
            [(item, rank) for rank, item in enumerate(p, start=1)],
            "neighbor_id int, rank int",
        )
        for p in perms
    ]
    k = 5
    got = [
        (r.neighbor_id, r.n_lists, r.rrf_score, r.rank)
        for r in rrf_fuse(dfs, k=k, depth=depth).orderBy("rank").collect()
    ]

    w = rrf_weights(depth)
    fused, lists = {}, {}
    for p in perms:
        for rank, item in enumerate(p[:depth], start=1):
            fused[item] = fused.get(item, 0) + w[rank - 1]
            lists[item] = lists.get(item, 0) + 1
    order = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    want = [
        (item, lists[item], round(fu / 1e9, 6), rank)
        for rank, (item, fu) in enumerate(order, start=1)
    ]
    assert got == want


# --- weekday seasonality vs dict model ----------------------------------

season_case = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 20)),  # (group, day offset)
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(season_case)
def test_weekday_seasonality_matches_dict_model(spark, events):
    from datetime import date, datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import (
        weekday_seasonality,
    )

    d0 = datetime(2024, 1, 1, 9)  # a Monday
    rows = [(g, d0 + timedelta(days=day)) for g, day in events]
    df = spark.createDataFrame(rows, "g int, ts timestamp")
    got = {
        (r.group, r.weekday): (r.n_days, r.avg_count, r.seasonal_index)
        for r in weekday_seasonality(df, F.col("g"), F.col("ts")).collect()
    }

    want = {}
    for g in {g for g, _ in events}:
        days = [d for gg, d in events if gg == g]
        lo, hi = min(days), max(days)
        counts = {d: 0 for d in range(lo, hi + 1)}  # densified calendar
        for d in days:
            counts[d] += 1
        n_all, s_all = len(counts), sum(counts.values())
        per_wd = {}
        for d, c in counts.items():
            wd = date(2024, 1, 1).toordinal() + d
            wd = date.fromordinal(wd).isoweekday()
            nd, sv = per_wd.get(wd, (0, 0))
            per_wd[wd] = (nd + 1, sv + c)
        for wd, (nd, sv) in per_wd.items():
            want[(g, wd)] = (
                nd,
                round(sv / nd, 6),
                round(sv * n_all / (nd * s_all), 6),
            )
    assert set(got) == set(want)
    for key, (nd, avg, idx) in want.items():
        assert got[key][0] == nd
        assert abs(got[key][1] - avg) < 1e-6
        assert abs(got[key][2] - idx) < 1e-6


# --- sequence n-grams vs fold model --------------------------------------


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mk_case, st.integers(2, 4))
def test_sequence_ngrams_matches_fold_model(spark, events, n):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import sequence_ngrams

    d0 = datetime(2024, 1, 1)
    rows = [
        (e, d0 + timedelta(hours=ts, microseconds=137 * i), i, s)
        for i, (e, ts, s) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "e long, ts timestamp, id long, s string")
    out = sequence_ngrams(
        df, F.col("e"), F.col("ts"), F.col("s"), F.col("id"),
        n=n, min_count=1, top_k=1000,
    ).collect()
    got = {
        tuple(r[f"state_{i + 1}"] for i in range(n)): r.n_occurrences
        for r in out
    }
    # ranking is (count DESC, gram ASC) — verify the emitted order too
    emitted = [
        (-r.n_occurrences, tuple(r[f"state_{i + 1}"] for i in range(n)))
        for r in out
    ]
    assert emitted == sorted(emitted)

    want = {}
    for e in {e for e, _, _ in events}:
        seq = [
            s
            for _, _, s in sorted(
                (ts, i, s)
                for i, (ee, ts, s) in enumerate(events)
                if ee == e
            )
        ]
        for j in range(len(seq) - n + 1):
            g = tuple(seq[j : j + n])
            want[g] = want.get(g, 0) + 1
    assert got == want


# --- training labels vs dict model -----------------------------------------

label_case = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40)),  # (entity, day)
    min_size=1,
    max_size=50,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(label_case, st.integers(2, 8), st.integers(2, 10), st.integers(1, 7))
def test_training_labels_match_dict_model(spark, events, fd, ld, stride):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import (
        build_training_labels,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows = [(e, d0 + timedelta(days=day)) for e, day in events]
    df = spark.createDataFrame(rows, "e int, ts timestamp")
    got = {
        (r.entity, r.snapshot_date.toordinal()): (
            r.past_events,
            r.label_active,
        )
        for r in build_training_labels(
            df, F.col("e"), F.col("ts"),
            feature_days=fd, label_days=ld, snapshot_stride_days=stride,
        ).collect()
    }

    lo = min(d for _, d in events)
    hi = max(d for _, d in events)
    base = datetime(2024, 1, 1).toordinal()
    want = {}
    for e in {e for e, _ in events}:
        days = [d for ee, d in events if ee == e]
        for snap in range(lo, hi + 1):
            off = snap - lo
            if off % stride or off < fd or (hi - snap) < ld - 1:
                continue
            past = sum(1 for d in days if snap - fd <= d < snap)
            fut = any(snap <= d < snap + ld for d in days)
            want[(e, base + snap)] = (past, fut)
    assert got == want


# --- Shannon diversity vs quantized model ------------------------------------

div_case = st.lists(
    st.tuples(st.integers(0, 2), st.sampled_from("abcd")),
    min_size=1,
    max_size=50,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(div_case)
def test_shannon_diversity_matches_quantized_model(spark, rows):
    import math

    from mlentory_etl_pipeline_spark.operators.stats import shannon_diversity

    df = spark.createDataFrame(rows, "g int, c string")
    got = {
        r.group: (r.n_events, r.n_categories, r.entropy, r.evenness)
        for r in shannon_diversity(df, F.col("g"), F.col("c")).collect()
    }
    want = {}
    for g in {g for g, _ in rows}:
        cats = {}
        for gg, c in rows:
            if gg == g:
                cats[c] = cats.get(c, 0) + 1
        ng, k = sum(cats.values()), len(cats)
        lq = lambda x: math.floor(math.log(x) * 1_000_000)  # noqa: E731
        num = ng * lq(ng) - sum(n * lq(n) for n in cats.values())
        h = num / (ng * 1_000_000)
        ev = None if k == 1 else num / (ng * lq(k))
        want[g] = (ng, k, h, ev)
        # sanity: quantized H is within 2e-6 of the float definition
        h_f = -sum((n / ng) * math.log(n / ng) for n in cats.values())
        assert abs(h - h_f) < 2e-6
    assert set(got) == set(want)
    for g, (ng, k, h, ev) in want.items():
        assert got[g][0] == ng and got[g][1] == k
        assert abs(got[g][2] - h) < 1e-6
        if ev is None:
            assert got[g][3] is None
        else:
            assert abs(got[g][3] - ev) < 1e-6


# --- log-rank test vs textbook model -----------------------------------------

lr_case = st.lists(
    st.tuples(st.booleans(), st.integers(0, 10), st.booleans()),
    min_size=2,
    max_size=40,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lr_case)
def test_logrank_matches_textbook_model(spark, rows):
    import math

    from mlentory_etl_pipeline_spark.operators.temporal import logrank_test

    df = spark.createDataFrame(
        [(g, d, 1 if ev else 0) for g, d, ev in rows],
        "g boolean, d int, ev int",
    )
    got = logrank_test(df, F.col("g"), F.col("d"), F.col("ev")).collect()[0]

    times = sorted({d for _, d, _ in rows})
    o1 = se = sv = 0
    for td in times:
        n = sum(1 for _, d, _ in rows if d >= td)
        n1 = sum(1 for g, d, _ in rows if g and d >= td)
        dt = sum(1 for _, d, ev in rows if d == td and ev)
        d1 = sum(1 for g, d, ev in rows if g and d == td and ev)
        o1 += d1
        if dt > 0 and n > 0:
            se += math.floor((dt * n1) * 1000000.0 / n)
        if dt > 0 and n > 1:
            sv += math.floor(
                dt * (n1 / n) * ((n - n1) / n) * ((n - dt) / (n - 1.0))
                * 1000000000.0
            )
    e1 = se / 1e6
    v = sv / 1e9
    assert got.events_total == sum(1 for _, _, ev in rows if ev)
    assert got.o1 == o1
    assert abs(got.e1 - e1) < 1e-6
    if v == 0:
        assert got.chi2 is None
    else:
        assert abs(got.chi2 - (o1 - e1) ** 2 / v) < 1e-5


# --- cohort LTV vs dict model --------------------------------------------

ltv_case = st.lists(
    st.tuples(
        st.integers(0, 3),            # user
        st.integers(0, 27),           # day
        st.one_of(st.none(), st.integers(0, 5000)),  # purchase cents
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ltv_case)
def test_cohort_ltv_matches_dict_model(spark, events):
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import cohort_ltv

    d0 = datetime(2024, 1, 1, 10)  # a Monday
    rows = [
        (u, d0 + timedelta(days=day), None if c is None else c / 100.0)
        for u, day, c in events
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    got = {
        ((r.cohort_week - datetime(2024, 1, 1)).days // 7, r.week_offset): (
            r.cohort_size,
            r.week_revenue,
            r.cum_ltv_per_user,
        )
        for r in cohort_ltv(
            df, F.col("u"), F.col("ts"), F.col("v")
        ).collect()
    }

    cohort = {}
    for u, day, _ in events:
        w = day // 7
        cohort[u] = min(cohort.get(u, w), w)
    sizes = {}
    for u, cw in cohort.items():
        sizes[cw] = sizes.get(cw, 0) + 1
    import math as _m

    rev = {}
    for u, day, c in events:
        if c is None:
            continue
        key = (cohort[u], day // 7 - cohort[u])
        # mirror the operator's floor-of-IEEE-product quantization
        rev[key] = rev.get(key, 0) + _m.floor((c / 100.0) * 100)
    want = {}
    for cw in {cw for cw, _ in rev}:
        mx = max(off for c2, off in rev if c2 == cw)
        cum = 0
        for off in range(mx + 1):
            r = rev.get((cw, off), 0)
            cum += r
            want[(cw, off)] = (
                sizes[cw],
                round(r / 100.0, 6),
                round(cum / sizes[cw] / 100.0, 6),
            )
    assert set(got) == set(want)
    for k, (n, wr, ltv) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - wr) < 1e-6
        assert abs(got[k][2] - ltv) < 1e-6


# --- Jaccard link prediction vs dict model ----------------------------------

link_case = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
        lambda t: t[0] != t[1]
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(link_case, st.integers(2, 7))
def test_jaccard_link_prediction_matches_dict_model(spark, pairs, max_deg):
    from itertools import combinations

    from mlentory_etl_pipeline_spark.operators.graph import (
        jaccard_link_prediction,
    )

    half = {(min(u, v), max(u, v)) for u, v in pairs}
    edges = list(half) + [(v, u) for u, v in half]
    df = spark.createDataFrame(edges, "u int, v int")
    got = {
        (r.x, r.y): (r.common, r.jaccard)
        for r in jaccard_link_prediction(
            df, max_degree=max_deg, min_common=1, top_k=1000
        ).collect()
    }

    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
    want = {}
    for x, y in combinations(sorted(nbrs), 2):
        if (x, y) in half:
            continue
        # wedge centers capped at max_deg degree
        common = sum(
            1
            for w in nbrs[x] & nbrs[y]
            if len(nbrs[w]) <= max_deg
        )
        if common >= 1:
            j = common / (len(nbrs[x]) + len(nbrs[y]) - common)
            want[(x, y)] = (common, round(j, 6))
    assert set(got) == set(want)
    for k, (c, j) in want.items():
        assert got[k][0] == c
        assert abs(got[k][1] - j) < 1e-6


# --- RAKE vs dict model ------------------------------------------------------

rake_case = st.lists(
    st.sampled_from(["a", "the", "spark", "join", "fast", "scan", "table"]),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rake_case)
def test_rake_keywords_matches_dict_model(spark, toks):
    import math

    from mlentory_etl_pipeline_spark.operators.textstats import rake_keywords

    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    stop = ["a", "the"]
    got = [
        (r.phrase, r.n_words, r.score, r.rank)
        for r in rake_keywords(df, "doc_id", "text", stop, top_k=100)
        .orderBy("rank")
        .collect()
    ]

    phrases, cur = [], []
    for tk in toks:
        if tk in stop:
            if cur:
                phrases.append(cur)
            cur = []
        else:
            cur.append(tk)
    if cur:
        phrases.append(cur)
    freq, deg = {}, {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    su = {w: math.floor(deg[w] * 1e6 / freq[w]) for w in freq}
    scored = {}
    for p in phrases:
        phrase = " ".join(p)
        scored[phrase] = (len(p), sum(su[w] for w in p))
    order = sorted(scored.items(), key=lambda kv: (-kv[1][1], kv[0]))
    want = [
        (ph, n, round(s / 1e6, 6), rk)
        for rk, (ph, (n, s)) in enumerate(order, start=1)
    ]
    assert got == want


# --- 2-D skyline vs brute-force dominance ----------------------------------

sky_case = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),  # (max_dim, min_dim)
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sky_case)
def test_skyline_matches_bruteforce_dominance(spark, pts):
    from mlentory_etl_pipeline_spark.operators.extract_ops import skyline_2d

    rows = [(i, mx, float(mn)) for i, (mx, mn) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, mx int, mn double")
    got = {
        r.id for r in skyline_2d(df, F.col("mx"), F.col("mn"), "id").collect()
    }

    def dominated(a, b):  # b dominates a
        return (
            b[1] >= a[1]
            and b[2] <= a[2]
            and (b[1] > a[1] or b[2] < a[2])
        )

    want = {
        a[0]
        for a in rows
        if not any(dominated(a, b) for b in rows if b[0] != a[0])
    }
    assert got == want


# --- weighted percentiles vs cumulative model --------------------------------

wp_case = st.lists(
    st.tuples(st.integers(0, 1), st.integers(-50, 50), st.integers(1, 9)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(wp_case)
def test_weighted_percentiles_match_cumulative_model(spark, rows):
    from mlentory_etl_pipeline_spark.operators.stats import (
        weighted_percentiles,
    )

    df = spark.createDataFrame(
        [(g, float(v), w) for g, v, w in rows], "g int, v double, w long"
    )
    got = {
        r.g: (r.total_weight, r.wp25, r.wp50, r.wp75)
        for r in weighted_percentiles(
            df, ["g"], F.col("v"), F.col("w")
        ).collect()
    }
    for g in {g for g, _, _ in rows}:
        pairs = {}
        for gg, v, w in rows:
            if gg == g:
                pairs[v] = pairs.get(v, 0) + w
        tot = sum(pairs.values())
        want = [tot]
        for p in (0.25, 0.5, 0.75):
            cum = 0
            sel = None
            for v in sorted(pairs):
                cum += pairs[v]
                if cum >= p * tot:
                    sel = float(v)
                    break
            want.append(sel)
        assert got[g] == tuple(want)


# --- attribution models vs dict model ----------------------------------------

attr_case = st.lists(
    st.tuples(
        st.integers(0, 2),                 # user
        st.integers(0, 200),               # hour offset
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(attr_case)
def test_attribution_credits_match_dict_model(spark, events):
    import math
    from datetime import datetime, timedelta

    from mlentory_etl_pipeline_spark.operators.temporal import (
        attribution_credits,
    )

    d0 = datetime(2024, 1, 1)
    rows = [
        (u, d0 + timedelta(hours=h, microseconds=13 * i), i, k)
        for i, (u, h, k) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, id long, k string")
    got = {
        (r.channel, r.model): r.credit
        for r in attribution_credits(
            df,
            F.col("u"), F.col("ts"), F.col("id"),
            F.col("k").isin("view", "click"),
            F.col("k") == "purchase",
            F.col("k"),
            lookback_days=2,
        ).collect()
    }

    credits = {}

    def add(ch, model, u):
        credits[(ch, model)] = credits.get((ch, model), 0) + u

    for u_, cts, cid, k in rows:
        if k != "purchase":
            continue
        touches = sorted(
            (ts, i, kk)
            for uu, ts, i, kk in rows
            if uu == u_
            and kk in ("view", "click")
            and ts < cts
            and ts >= cts - timedelta(days=2)
        )
        n = len(touches)
        for r_, (ts, i, ch) in enumerate(touches, start=1):
            add(ch, "first_touch", 1000000 if r_ == 1 else 0)
            add(ch, "last_touch", 1000000 if r_ == n else 0)
            add(ch, "linear", math.floor(1000000.0 / n))
            if n == 1:
                add(ch, "position", 1000000)
            elif n == 2:
                add(ch, "position", 500000)
            elif r_ == 1 or r_ == n:
                add(ch, "position", 400000)
            else:
                add(ch, "position", math.floor(200000.0 / (n - 2)))
    want = {
        k: round(v / 1e6, 6) for k, v in credits.items()
    }
    assert got == want


# --- rank-1 ALS vs quantized fold model --------------------------------------

als_case = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 3), st.integers(1, 5)),
    min_size=2,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(als_case, st.integers(1, 3))
def test_als_rank1_matches_quantized_model(spark, ratings, iters):
    import math

    from mlentory_etl_pipeline_spark.operators.factorization import als_rank1

    df = spark.createDataFrame(ratings, "u int, i int, rt int")
    got = {
        r.i: r.factor
        for r in als_rank1(df, "u", "i", "rt", iters=iters).collect()
    }

    SCALE = 10**6
    lam = 100000 * SCALE
    uf = {u: SCALE for u, _, _ in ratings}
    itf = {}
    for _ in range(iters):
        num, den = {}, {}
        for u, i, rt in ratings:
            num[i] = num.get(i, 0) + rt * uf[u]
            den[i] = den.get(i, 0) + uf[u] * uf[u]
        itf = {
            i: math.floor(
                float(num[i] * SCALE * SCALE) / float(den[i] + lam)
            )
            for i in num
        }
        nu, du = {}, {}
        for u, i, rt in ratings:
            nu[u] = nu.get(u, 0) + rt * itf[i]
            du[u] = du.get(u, 0) + itf[i] * itf[i]
        uf = {
            u: math.floor(float(nu[u] * SCALE * SCALE) / float(du[u] + lam))
            for u in nu
        }
    want = {i: round(v / SCALE, 6) for i, v in itf.items()}
    assert got == want


# --- Fellegi-Sunter EM vs fold model -----------------------------------------

fs_case = st.lists(
    st.tuples(st.booleans(), st.booleans()),  # two agreement fields
    min_size=2,
    max_size=50,
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(fs_case, st.integers(1, 4))
def test_fellegi_sunter_em_matches_fold_model(spark, pairs, iters):
    import math

    from mlentory_etl_pipeline_spark.operators.linkage import (
        fellegi_sunter_em,
    )

    df = spark.createDataFrame(pairs, "f0 boolean, f1 boolean")
    got = {
        r.field: (r.m, r.u, r.match_prior, r.n_pairs)
        for r in fellegi_sunter_em(df, ["f0", "f1"], iters=iters).collect()
    }

    S = 1000000
    pat = {}
    for a0, a1 in pairs:
        pat[(a0, a1)] = pat.get((a0, a1), 0) + 1
    p, m, u = 100000, [800000, 800000], [300000, 300000]
    for _ in range(iters):
        sn = snw = snq = 0
        snwa = [0, 0]
        snqa = [0, 0]
        for (a0, a1), n in pat.items():
            pm = p / S
            qu = (S - p) / S
            for i, a in enumerate((a0, a1)):
                pm *= (m[i] / S) if a else (1.0 - m[i] / S)
                qu *= (u[i] / S) if a else (1.0 - u[i] / S)
            w = math.floor(1000000.0 * pm / (pm + qu))
            sn += n
            snw += n * w
            snq += n * (S - w)
            for i, a in enumerate((a0, a1)):
                if a:
                    snwa[i] += n * w
                    snqa[i] += n * (S - w)
        p = math.floor(snw / sn) if sn > 0 else p
        m = [
            math.floor(1000000.0 * snwa[i] / snw) if snw > 0 else m[i]
            for i in range(2)
        ]
        u = [
            math.floor(1000000.0 * snqa[i] / snq) if snq > 0 else u[i]
            for i in range(2)
        ]
    for i, name in enumerate(("f0", "f1")):
        gm, gu, gp, gn = got[name]
        assert gn == len(pairs)
        assert abs(gm - m[i] / S) < 1e-6
        assert abs(gu - u[i] / S) < 1e-6
        assert abs(gp - p / S) < 1e-6


# --- DBSCAN labeling vs dict model -------------------------------------------

dbscan_case = st.tuples(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=0,
        max_size=20,
    ),
    st.integers(2, 5),  # min_pts
)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(dbscan_case)
def test_dbscan_label_matches_dict_model(spark, case):
    from mlentory_etl_pipeline_spark.operators.similarity import dbscan_label

    raw, min_pts = case
    pairs = sorted({(min(u, v), max(u, v)) for u, v in raw})
    ids = spark.createDataFrame([(i,) for i in range(10)], "vec_id int")
    pdf = spark.createDataFrame(
        pairs or [(None, None)], "a_id int, b_id int"
    ).where(F.col("a_id").isNotNull())
    got = {
        r.vec_id: (r.role, r.cluster)
        for r in dbscan_label(ids, pdf, min_pts=min_pts).collect()
    }

    nbrs = {i: set() for i in range(10)}
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    core = {i for i in range(10) if len(nbrs[i]) + 1 >= min_pts}
    # components over core-core edges (plus isolated cores)
    comp = {c: c for c in core}

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    for a, b in pairs:
        if a in core and b in core:
            ra, rb = find(a), find(b)
            if ra != rb:
                comp[max(ra, rb)] = min(ra, rb)
    cl = {c: find(c) for c in core}
    want = {}
    for i in range(10):
        if i in core:
            want[i] = ("core", cl[i])
        else:
            cands = [cl[n] for n in nbrs[i] if n in core]
            if cands:
                want[i] = ("border", min(cands))
            else:
                want[i] = ("noise", None)
    assert got == want
