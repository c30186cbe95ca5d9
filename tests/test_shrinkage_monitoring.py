"""Cox PH / Bradley-Terry / dataset digest vs independent Python models.

Each operator's documented quantization contract is re-implemented
directly in Python (ints + floats, no Spark) on hypothesis-generated
inputs that stress the degenerate corners the sf-data gate never hits.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


import pytest

pytestmark = pytest.mark.slow


# --- Cox PH (binary covariate) ----------------------------------------


def _cox_model(rows, iters=4):
    """rows: (duration, event, group). Replays the operator's exact
    quantized Newton trajectory."""
    from collections import defaultdict

    bt = defaultdict(lambda: [0, 0, 0, 0])  # c0, c1, d0, d1
    for d_, e_, g_ in rows:
        b = bt[d_]
        b[1 if g_ else 0] += 1
        if e_:
            b[3 if g_ else 2] += 1
    t0 = sum(b[0] for b in bt.values())
    t1 = sum(b[1] for b in bt.values())
    nev = sum(b[2] + b[3] for b in bt.values())
    times = []
    cb0 = cb1 = 0
    for d_ in sorted(bt):
        c0, c1, d0, d1 = bt[d_]
        if d0 + d1 > 0:
            times.append((t0 - cb0, t1 - cb1, d0 + d1, d1))
        cb0 += c0
        cb1 += c1
    if not times:
        return None  # empty result contract
    bm = 0
    for _ in range(iters):
        if bm is None:
            break
        u = i_ = 0
        for n0, n1, dd, d1 in times:
            eb = math.exp(float(bm) / 1e6)
            en1 = eb * float(n1)
            s0 = float(n0) + en1
            u += math.floor((float(d1) - float(dd) * (en1 / s0)) * 1e6)
            i_ += math.floor(
                (float(dd) * ((en1 * float(n0)) / (s0 * s0))) * 1e6
            )
        bm = (
            bm + math.floor(u / float(i_) * 1e6) if i_ > 0 else None
        )
    n = t0 + t1
    if bm is None:
        return n, nev, None, None
    beta = round(bm / 1e6, 6)
    return n, nev, beta, round(math.exp(beta), 6)


cox_case = st.lists(
    st.tuples(
        st.integers(0, 8),   # duration
        st.booleans(),       # event
        st.booleans(),       # group
    ),
    min_size=2,
    max_size=30,
)


@settings(**SETTINGS)
@given(cox_case)
def test_cox_matches_quantized_trajectory(spark, rows):
    from mlentory_etl_pipeline_spark.operators.temporal import cox_ph_binary

    df = spark.createDataFrame(rows, "d long, e boolean, g boolean")
    out = cox_ph_binary(
        df, F.col("d"), F.col("e"), F.col("g"), iters=4
    ).collect()
    model = _cox_model(rows)
    if model is None:
        assert out == []
        return
    n, nev, beta, hr = model
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.n_events) == (n, nev)
    if beta is None:
        assert r.beta is None and r.hazard_ratio is None
    else:
        assert abs(r.beta - beta) < 2e-6
        assert abs(r.hazard_ratio - hr) < 2e-5


def test_cox_recovers_known_hazard_direction(spark):
    from mlentory_etl_pipeline_spark.operators.temporal import cox_ph_binary

    # group 1 fails systematically EARLIER -> positive beta (HR > 1)
    rows = [(2 + (i % 3), True, True) for i in range(60)] + [
        (8 + (i % 3), True, False) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "d long, e boolean, g boolean")
    r = cox_ph_binary(df, F.col("d"), F.col("e"), F.col("g"), iters=4).collect()[0]
    assert r.beta is not None and r.beta > 0.5
    assert r.hazard_ratio > 1.5


# --- Bradley-Terry ----------------------------------------------------


def _bt_model(obs, iters=4):
    from collections import Counter

    wins = Counter(w for w, _ in obs)
    m = Counter()
    for w, l in obs:
        m[(w, l)] += 1
        m[(l, w)] += 1
    nodes = sorted({x for e in m for x in e})
    n = len(nodes)
    p = {x: 1_000_000 for x in nodes}
    for _ in range(iters):
        d = Counter()
        for (i, j), mm in m.items():
            d[i] += (mm * 10**12) // (p[i] + p[j])
        raw = {
            x: max((wins.get(x, 0) * 10**12) // d[x], 1) for x in nodes
        }
        tp = sum(raw.values())
        p = {x: max((raw[x] * (n * 1_000_000)) // tp, 1) for x in nodes}
    comp = Counter()
    for (i, _j), mm in m.items():
        comp[i] += mm
    return {
        x: (wins.get(x, 0), comp[x], round(p[x] / 1e6, 6)) for x in nodes
    }


bt_case = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 4)).filter(
        lambda p: p[0] != p[1]
    ),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(bt_case)
def test_bradley_terry_matches_mm_model(spark, obs):
    from mlentory_etl_pipeline_spark.operators.preference import (
        bradley_terry_ratings,
    )

    df = spark.createDataFrame(obs, "w int, l int")
    got = {
        r.node: (r.wins, r.comparisons, r.rating)
        for r in bradley_terry_ratings(df, "w", "l", iters=4).collect()
    }
    assert got == _bt_model(obs)


def test_bradley_terry_dominant_item_rates_highest(spark):
    from mlentory_etl_pipeline_spark.operators.preference import (
        bradley_terry_ratings,
    )

    # item 0 beats everyone twice; 1 beats 2; 2 beats 3
    obs = [(0, 1), (0, 1), (0, 2), (0, 2), (0, 3), (0, 3), (1, 2), (2, 3)]
    df = spark.createDataFrame(obs, "w int, l int")
    r = {
        x.node: x.rating
        for x in bradley_terry_ratings(df, "w", "l", iters=4).collect()
    }
    assert r[0] == max(r.values())
    assert r[0] > r[1] > r[3]


# --- content digest ---------------------------------------------------


def test_dataset_digest_order_invariant_and_change_sensitive(spark):
    import hashlib as _hl

    from mlentory_etl_pipeline_spark.operators.stats import (
        dataset_content_digest,
    )

    rows = [(i, f"text-{i}") for i in range(50)]
    df1 = spark.createDataFrame(rows, "id long, t string")
    df2 = spark.createDataFrame(list(reversed(rows)), "id long, t string").repartition(7)
    key = F.concat_ws("|", F.col("id").cast("string"), F.col("t"))
    d1 = dataset_content_digest(df1, key).collect()[0]
    d2 = dataset_content_digest(df2, key).collect()[0]
    assert (d1.n_rows, d1.digest) == (d2.n_rows, d2.digest)
    expect = sum(
        int(_hl.md5(f"{i}|text-{i}".encode()).hexdigest()[:15], 16)
        for i, _ in rows
    )
    assert int(d1.digest) == expect
    df3 = spark.createDataFrame(
        rows[:-1] + [(49, "text-49x")], "id long, t string"
    )
    d3 = dataset_content_digest(df3, key).collect()[0]
    assert d3.digest != d1.digest
