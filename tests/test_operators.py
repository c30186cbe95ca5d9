"""Unit tests for operators not (or only partially) covered by the
oracle registry: approximate-ANN recall, BFS crawl loop, graph
serialization details, melt/range-dispatch typing."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.functions.text import edge_ngram_prefixes
from mlentory_etl_pipeline_spark.operators import (
    dedup,
    extract_ops,
    graph,
    similarity,
    skew,
)

SF = "/root/testdata/sf0.001"


def test_edge_ngram_prefixes(spark):
    df = spark.createDataFrame([("BERT-base",), ("ab",)], "name string")
    rows = df.select(edge_ngram_prefixes(F.col("name")).alias("p")).collect()
    assert rows[0].p == ["ber", "bert", "bert-", "bert-b", "bert-ba", "bert-bas", "bert-base"]
    assert rows[1].p == []  # shorter than min_len


def test_lsh_bucket_recall_vs_brute_force(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(e, q, k=5)
    approx = similarity.lsh_bucket_topk(e, q, dim=64, k=5, num_planes=4)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # Single-probe 4-plane LSH on *uniform random* 64-dim vectors (the
    # hardest case — all cosines cluster near 0): recall is modest but
    # must be well above random chance (5/500 ≈ 1%).
    assert recall > 0.05, f"recall {recall}"

    # Multi-probe (base + 4 nearest-hyperplane flips) must strictly
    # improve on single-probe, at 5/16ths of the full-scan cost.
    multi = similarity.lsh_bucket_topk(e, q, dim=64, k=5, num_planes=4, extra_probes=4)
    multi_pairs = {(r.query_id, r.neighbor_id) for r in multi.collect()}
    multi_recall = len(exact_pairs & multi_pairs) / len(exact_pairs)
    assert multi_recall > recall, f"multi {multi_recall} vs single {recall}"
    assert multi_recall >= 0.3, f"multi-probe recall {multi_recall}"


def test_vector_sql_twins_bit_identical(spark):
    """r10: the hot ANN constructors build their vector math as SQL
    text (one F.expr parse) instead of Column-composed HOF lambdas
    (dozens of Py4J round-trips per call). This pins each _sql twin
    bit-identical to its Column builder on real embeddings — same
    fold order, same double/long accumulators, same casts."""
    from mlentory_etl_pipeline_spark.functions import vectors as V

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(64)
    pairs = e.alias("a").crossJoin(e.alias("b")).selectExpr(
        "a.embedding AS x", "b.embedding AS y"
    ).limit(200)
    via_cols = pairs.select(
        V.dot_product(F.col("x"), F.col("y")).alias("d"),
        V.l2_norm(F.col("x")).alias("n"),
        V.cosine_similarity(F.col("x"), F.col("y")).alias("c"),
        V.abs_max(F.col("x")).alias("m"),
    ).collect()
    via_text = pairs.selectExpr(
        f"{V.dot_product_sql('x', 'y')} AS d",
        f"{V.l2_norm_sql('x')} AS n",
        f"{V.cosine_similarity_sql('x', 'y')} AS c",
        f"{V.abs_max_sql('x')} AS m",
    ).collect()
    assert [tuple(r) for r in via_cols] == [tuple(r) for r in via_text]

    scaled = e.select(
        F.col("embedding").alias("x"),
        (V.abs_max(F.col("embedding")) / 127.0).alias("s"),
    )
    q_cols = scaled.select(V.quantize_int8(F.col("x"), F.col("s")).alias("q")).collect()
    q_text = scaled.selectExpr(f"{V.quantize_int8_sql('x', 's')} AS q").collect()
    assert [r.q for r in q_cols] == [r.q for r in q_text]


def test_rp_bucket_sql_text_bit_identical_to_column_build(spark):
    """The sign-RP bucket expressions are built as ONE SQL text
    (F.expr) because per-component F.lit construction cost ~3 s of
    Py4J round-trips per call (r10); this pins the text path
    bit-identical to the Column composition it replaced — double
    literals must round-trip exactly (repr + 'D') and the
    zip_with/aggregate fold must accumulate in the same order."""
    # literal round-trip, including exponent forms and denormals
    edge = [1e-05, -1.2e-07, 0.1, -0.9999999999999999, 5e-324, 123456.789]
    row = spark.range(1).select(
        *[F.expr(similarity._dlit(v)).alias(f"c{i}") for i, v in enumerate(edge)]
    ).first()
    assert all(row[i] == v for i, v in enumerate(edge))

    from mlentory_etl_pipeline_spark.functions.vectors import dot_product

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    for planes_n, bands_n in ((2, 20), (4, 16)):
        got = similarity.rp_bucket_bands(e, "embedding", 64, planes_n, bands_n)
        # reference: the original Column-by-Column composition
        band_cols = []
        for band in range(bands_n):
            hp = similarity._hyperplanes(64, planes_n, 7 + 1000 * band)
            bucket = None
            for i, plane in enumerate(hp):
                lit_plane = F.array(*[F.lit(x) for x in plane])
                bit = F.when(
                    dot_product(F.col("embedding"), lit_plane) > 0, F.lit(1 << i)
                ).otherwise(F.lit(0))
                bucket = bit if bucket is None else bucket + bit
            band_cols.append(bucket.cast("int"))
        ref = e.select("*", F.posexplode(F.array(*band_cols)).alias("band", "bucket"))
        agg = lambda d: d.groupBy("vec_id").agg(  # noqa: E731
            F.sort_array(F.collect_list(F.struct("band", "bucket"))).alias("bb")
        )
        n_diff = (
            agg(got).alias("g")
            .join(agg(ref).alias("r"), "vec_id")
            .where("g.bb <> r.bb")
            .count()
        )
        assert n_diff == 0, f"planes={planes_n} bands={bands_n}: {n_diff} rows differ"


def test_ivf_topk_recall_and_exactness(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(e, q, k=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    approx = similarity.ivf_topk(e, q, n_centroids=16, nprobe=4, k=5)
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 4 of 16 cells probed on uniform random vectors → recall well above
    # the 25%-of-corpus scan it pays for.
    assert recall >= 0.3, f"IVF recall {recall}"

    # Probing every cell must reproduce brute force exactly.
    full = similarity.ivf_topk(e, q, n_centroids=16, nprobe=16, k=5)
    full_pairs = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert full_pairs == exact_pairs


@pytest.mark.slow
def test_trained_quantizers_recall(spark):
    """Trained (Lloyd's) IVF centroids and PQ codebooks must hold a
    recall@5 floor vs brute force, and training must be deterministic
    (fixed seeds/iters/rounding → identical outputs run-to-run). The
    query set AND quantizer sizes match ann_trained_recall_audit's
    (vec_id < 10, similarity.ann_capacity rule) so the floors asserted
    here are the audit's reported numbers."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cap = similarity.ann_capacity(e.count())
    exact_pairs = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(e, q, k=5).collect()
    }

    cents = similarity.trained_centroids(e, n_centroids=cap["nlist"], iters=3)
    tr_ivf = similarity.ivf_topk(e, q, nprobe=cap["nprobe"], k=5, centroids=cents)
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in tr_ivf.collect()}
    ivf_recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
    assert ivf_recall >= 0.85, f"trained-IVF recall {ivf_recall}"

    # flat PQ at the audit's production params (m=16 -> 4-dim subspaces)
    cb = similarity.train_pq_codebook(e, m=16, ksub=cap["ksub"], iters=3)
    tr_pq = similarity.pq_adc_topk(
        e, q, m=16, ksub=cap["ksub"], shortlist=cap["shortlist"], k=5, codebook=cb
    )
    pq_pairs = {(r.query_id, r.neighbor_id) for r in tr_pq.collect()}
    pq_recall = len(exact_pairs & pq_pairs) / len(exact_pairs)
    assert pq_recall >= 0.85, f"trained-PQ recall {pq_recall}"

    # IVF-PQ residual composition: same 128x code budget as the m=4 raw
    # PQ that scored 0.62, but residual codewords recover the IVF
    # routing ceiling.
    ivfpq = similarity.ivf_pq_topk(
        e, q, nprobe=cap["nprobe"], m=4, ksub=cap["ksub"],
        shortlist=cap["shortlist"], k=5, centroids=cents,
    )
    ivfpq_pairs = {(r.query_id, r.neighbor_id) for r in ivfpq.collect()}
    ivfpq_recall = len(exact_pairs & ivfpq_pairs) / len(exact_pairs)
    assert ivfpq_recall >= 0.85, f"trained-IVF-PQ recall {ivfpq_recall}"

    # determinism: retraining reproduces the exact centroid frame
    cents2 = similarity.trained_centroids(e, n_centroids=cap["nlist"], iters=3)
    assert cents.collect() == cents2.collect()


@pytest.mark.slow
def test_trained_recall_floor_sf01():
    """The 0.85 trained-ANN recall floor asserted AT sf0.1, not just
    the fixture sf (VERDICT r9 №2): r7's regression — recall decay
    visible only at the larger scale while sf0.01 stayed green — now
    FAILS a gate instead of relying on benched telemetry. Runs the
    driver-visible `ann_trained_recall_audit` registry query itself on
    /root/testdata/sf0.1 so the gated number is exactly the one
    BENCH_DETAIL/BENCH report (companion to
    test_trained_quantizers_recall above, which pins the same floor at
    the fixture sf)."""
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY
    from mlentory_etl_pipeline_spark.session import get_spark

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata not present")
    spark = get_spark("recall-floor-sf01")
    rows = REGISTRY["ann_trained_recall_audit"].spark_fn(spark, sf01).collect()
    recalls = {r["method"]: float(r["recall_at_5"]) for r in rows}
    assert set(recalls) == {"ivf_trained", "pq_trained", "ivf_pq_trained"}, recalls
    for method, recall in recalls.items():
        assert recall >= 0.85, f"sf0.1 trained-{method} recall {recall} < 0.85"


def test_ann_capacity_rule():
    """The written scale-aware capacity rule (VERDICT r8 №1): floors,
    monotonicity, the ≈√N cell sizing, and exact parity between the
    Python rule and its DuckDB SQL twin over a wide sweep of N."""
    import duckdb

    cap = similarity.ann_capacity
    # floors at tiny corpora
    assert cap(0) == {"nlist": 16, "nprobe": 4, "ksub": 16, "shortlist": 64}
    assert cap(255)["nlist"] == 16
    # the measured audit points
    assert cap(500) == {"nlist": 16, "nprobe": 4, "ksub": 16, "shortlist": 64}
    assert cap(2000) == {"nlist": 32, "nprobe": 8, "ksub": 32, "shortlist": 128}
    # shortlist grows with sqrt(N) (4x nlist), never linearly: at a
    # million vectors the exact rerank pool is 0.2% of the corpus
    assert cap(10**6)["shortlist"] == 4 * cap(10**6)["nlist"] == 2048
    # nlist is the largest power of two with nlist^2 <= N (within caps)
    for n in [256, 1023, 1024, 1025, 4096, 10**6, 10**9]:
        c = cap(n)
        nl = c["nlist"]
        if 16 < nl < 65536:
            assert nl * nl <= n < (2 * nl) * (2 * nl)
        assert c["nprobe"] == max(4, nl // 4)
    # monotone non-decreasing in N
    prev = cap(0)
    for n in range(0, 5000, 97):
        c = cap(n)
        for key in prev:
            assert c[key] >= prev[key], (n, key)
        prev = c
    # cap at the 65536-cell ceiling (both engines stop doubling there)
    assert cap(10**12)["nlist"] == 65536

    # SQL twin parity: same numbers from COUNT(*) for a sweep of N,
    # including exact powers of four (the float-log2 hazard the integer
    # ladder exists to avoid)
    con = duckdb.connect()
    for n in [0, 1, 255, 256, 257, 500, 1000, 1023, 1024, 1025, 2000,
              4096, 65536, 1048576]:
        con.execute("CREATE OR REPLACE VIEW embeddings AS "
                    f"SELECT * FROM range({n})")
        row = con.sql(
            "SELECT nlist, nprobe, ksub, shortlist FROM ("
            + similarity.ann_capacity_sql() + ")"
        ).fetchone()
        assert dict(zip(["nlist", "nprobe", "ksub", "shortlist"], row)) == cap(n), n


def test_salted_join_matches_plain_join(spark):
    import pytest

    # Deliberately skewed fact: 90% of rows share key 1.
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, float(i)) for i in range(200)], "k long, v double"
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 200, 2)], "k long, name string"
    )
    plain = {tuple(r) for r in fact.join(dim, "k").collect()}
    salted = {tuple(r) for r in skew.salted_join(fact, dim, on=["k"], salt=8).collect()}
    assert salted == plain

    # Left join: unmatched skewed rows survive exactly once.
    plain_l = sorted(tuple(r) for r in fact.join(dim, "k", "left").collect())
    salted_l = sorted(
        tuple(r) for r in skew.salted_join(fact, dim, on=["k"], how="left", salt=8).collect()
    )
    assert salted_l == plain_l

    # Right/full joins would duplicate unmatched dim rows — rejected.
    with pytest.raises(ValueError):
        skew.salted_join(fact, dim, on=["k"], how="full")


def test_asof_join_semantics(spark):
    """Strictness, tie-breaking, and the unmatched-null path."""
    import datetime as dt

    from mlentory_etl_pipeline_spark.operators.temporal import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, T(10)), (1, T(3)), (2, T(5))], "k long, lts timestamp"
    )
    right = spark.createDataFrame(
        # k=1: two candidates before T(10), tied ts → higher rid wins.
        [(1, 100, T(7)), (1, 101, T(7)), (1, 102, T(10)), (3, 300, T(1))],
        "k long, rid long, rts timestamp",
    )
    out = {
        (r.k, r.lts): (r.asof_rid, r.asof_rts)
        for r in asof_join(left, right, "k", "lts", "rts").collect()
    }
    assert out[(1, T(10))] == (101, T(7))  # strict: T(10) row excluded; tie → max rid
    assert out[(1, T(3))] == (None, None)  # no prior
    assert out[(2, T(5))] == (None, None)  # key absent

    inclusive = {
        (r.k, r.lts): r.asof_rid
        for r in asof_join(left, right, "k", "lts", "rts", strict=False).collect()
    }
    assert inclusive[(1, T(10))] == 102  # <= admits the equal-ts row


def test_approx_aggregates_accuracy(spark):
    """HLL++ distinct and approx median must land within tight bounds
    of the exact answers (rsd=2%, percentile accuracy 1/10000). The
    registry query now carries the bound CLAIMS as boolean columns
    (its hard oracle asserts them TRUE); this test checks the booleans
    and independently re-verifies the exact companions."""
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY

    approx = {
        r.event_type: r for r in REGISTRY["approx_aggregates"].spark_fn(spark, SF).collect()
    }
    e = spark.read.parquet(f"{SF}/events.parquet")
    exact = {
        r.event_type: r
        for r in e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for et, ex in exact.items():
        ap = approx[et]
        assert ap.n_users_exact == ex.n_users
        assert ap.n_events == ex.n_events
        assert ap.hll_within_5pct is True
        assert ap.median_in_rank_band is True


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed by the join key must join without a single
    shuffle Exchange — the lake-layout discipline for repeated
    fact-to-fact joins (triplet_hash / subject / doc_id)."""
    import contextlib
    import io

    from mlentory_etl_pipeline_spark.sources import bucketing

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    bucketing.write_bucketed(orders, "b_orders", str(tmp_path / "bo"), 8, "o_orderkey")
    bucketing.write_bucketed(lineitem, "b_lineitem", str(tmp_path / "bl"), 8, "o_orderkey")
    # Force the shuffle-join path the layout exists for (at sf0.001 the
    # planner would broadcast and hide the bucketing benefit).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        # Same result as the plain (shuffling) join.
        assert joined.count() == orders.join(lineitem, "o_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bfs_crawl_loop(spark):
    """T4 recursive crawl: iterate frontier_diff until empty, as the
    driver loop would."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    seen = spark.createDataFrame([("a",)], "id string")
    frontier = seen
    for _ in range(10):
        refs = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        frontier = extract_ops.frontier_diff(refs, seen, "id")
        if frontier.count() == 0:
            break
        seen = seen.unionByName(frontier).distinct()
    assert {r.id for r in seen.collect()} == {"a", "b", "c", "d"}


def test_ntriples_escaping(spark):
    triples = spark.createDataFrame(
        [("urn:s", "urn:p", 'say "hi"', False), ("urn:s", "urn:p2", "urn:o", True)],
        "subject string, predicate string, object string, object_is_uri boolean",
    )
    lines = {r.line for r in graph.to_ntriples(triples).collect()}
    assert lines == {
        '<urn:s> <urn:p> "say \\"hi\\"" .',
        "<urn:s> <urn:p2> <urn:o> .",
    }


def test_exact_dedup_survivor(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "doc_id long, text string"
    )
    kept = dedup.exact_dedup(df, ["text"], "doc_id").collect()
    assert sorted((r.doc_id, r.text) for r in kept) == [(1, "x"), (2, "y")]


def test_simhash_blocking_complete(spark):
    """Quarter-blocking must find every pair with hamming <= 3 — compare
    against the brute-force cross join on a small corpus."""
    d = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 60").select("doc_id", "text")
    sib = d.select((F.col("doc_id") + 1000).alias("doc_id"),
                   F.concat("text", F.lit(" z")).alias("text"))
    sh = dedup.doc_shingles(d.unionByName(sib), "doc_id", "text", 3)
    sigs = dedup.simhash16(sh, "doc_id")
    blocked = {(r.id_a, r.id_b) for r in dedup.simhash_near_pairs(sigs, "doc_id", 3).collect()}
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    assert blocked == brute


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 plus clique {10,11,12} plus isolated pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id bigint, b_id bigint",
    )
    labels = {r.node: r.component for r in dedup.connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # canonical survivor per cluster = node whose component == itself
    survivors = sorted(n for n, c in labels.items() if n == c)
    assert survivors == [1, 10, 20]


def test_int8_rerank_recall_vs_brute_force(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(e, q, k=5)
    two_stage = similarity.int8_rerank_topk(e, q, k=5, shortlist=20)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got_pairs = {(r.query_id, r.neighbor_id) for r in two_stage.collect()}
    # int8 coarse scoring misorders only near-equal cosines; with a 4x
    # shortlist the exact top-5 should survive almost entirely.
    recall = len(exact_pairs & got_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"recall {recall}"


def test_mint_nested_entities_dynamic_keys(spark):
    """G2 nested-dict dispatch (GraphBuilderFAIR4ML.py:351-415, 462-484):
    dict-valued properties mint multi-property side entities; metric and
    parameter keys are discovered dynamically via from_json + explode."""
    from mlentory_etl_pipeline_spark.operators import melt as melt_ops

    long_df = spark.createDataFrame(
        [
            (
                "m1",
                "trainedOn",
                '{"name":"ds1","url":"http://x/ds1",'
                '"estimationProcedure":{"type":"cv","data_splits_url":"http://x/sp1",'
                '"parameters":{"folds":"10","stratified":"true"}}}',
            ),
            ("m1", "evaluationResults", '{"accuracy":"0.91","f1":"0.88"}'),
            ("m2", "evaluationResults", '{"accuracy":"0.91","f1":"0.88"}'),
        ],
        "subject string, property string, value string",
    )
    schema_df = spark.createDataFrame(
        [("trainedOn", "DatasetObject"), ("evaluationResults", "EvaluationObject")],
        "property string, range string",
    )
    out = melt_ops.mint_nested_entities(long_df, schema_df).collect()
    by_pred = {}
    for r in out:
        by_pred.setdefault(r.predicate, []).append(r)

    # link triples: one per input row
    assert len(by_pred["trainedOn"]) == 1
    assert len(by_pred["evaluationResults"]) == 2
    # same dict value on m1/m2 -> same minted evaluation entity
    ev_uris = {r.object for r in by_pred["evaluationResults"]}
    assert len(ev_uris) == 1
    # dynamic parameter keys become fair4ml predicates on the sub-entity
    assert {r.object for r in by_pred[melt_ops.FAIR4ML_NS + "folds"]} == {"10"}
    assert {r.object for r in by_pred[melt_ops.FAIR4ML_NS + "stratified"]} == {"true"}
    # metric triples deduplicated across the two referencing subjects
    assert len(by_pred[melt_ops.FAIR4ML_NS + "accuracy"]) == 1
    assert by_pred[melt_ops.FAIR4ML_NS + "accuracy"][0].object == "0.91"
    # the estimationProcedure sub-entity is typed and linked from the parent
    est_links = by_pred[melt_ops.FAIR4ML_NS + "estimationProcedure"]
    assert len(est_links) == 1 and est_links[0].object_is_uri
    types = {(r.subject, r.object) for r in by_pred[melt_ops.RDF_TYPE]}
    assert len(types) == 3  # DatasetObject, estimationProcedure, EvaluationObject


def test_connected_components_long_chain_logarithmic(spark):
    """Star contraction must converge on a 1000-node chain (diameter
    999) within the 30-round cap — min-label propagation would need 999
    rounds. All nodes collapse to component 0."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "a_id bigint, b_id bigint"
    )
    labels = dedup.connected_components(edges, max_iter=30).collect()
    assert len(labels) == 1000
    assert {r.component for r in labels} == {0}


def test_connected_components_skewed_hub(spark):
    """A hub node connected to everything (worst-case skew for
    list-materializing approaches) reduces via partial-aggregable min."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 500)] + [(1000 + i, 2000 + i) for i in range(5)],
        "a_id bigint, b_id bigint",
    )
    labels = {r.node: r.component for r in dedup.connected_components(edges).collect()}
    assert all(labels[i] == 0 for i in range(500))
    assert all(labels[1000 + i] == 1000 + i and labels[2000 + i] == 1000 + i for i in range(5))


def test_kmeans_more_clusters_than_points(spark):
    """k > |data|: seeds truncate to the data size; every point gets a
    valid label and the result stays deterministic."""
    from mlentory_etl_pipeline_spark.operators.similarity import kmeans_cluster

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    out = {r.vec_id: r.cluster for r in kmeans_cluster(df, k=5, iters=3).collect()}
    assert set(out) == {0, 1}
    assert all(0 <= c < 2 for c in out.values())


def test_bounded_path_min_hops_window(spark):
    """min_hops=2 excludes direct edges; hops records the minimum depth."""
    from mlentory_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "subject bigint, object bigint"
    )
    out = {
        (r.start_node, r.end_node): r.hops
        for r in graph.bounded_path(edges, min_hops=2, max_hops=3).collect()
    }
    assert (1, 2) not in out          # 1-hop excluded
    assert out[(1, 3)] == 2           # reachable at 2 via 1->2->3 (direct 1-hop excluded)
    assert out[(1, 4)] == 2           # min depth via 1->3->4, not 3 via 1->2->3->4
    assert out[(2, 4)] == 2


def test_changes_between_scalar_and_inplan_agree(spark):
    """changes_between must give identical results for scalar bounds and
    1-row-aggregate bounds (the in-plan broadcast form)."""
    import datetime as dt

    from mlentory_etl_pipeline_spark.operators import versioned_store as vs

    def batch(rows, ts):
        return spark.createDataFrame(
            [(s, p, o, "m", 1.0, ts) for s, p, o in rows],
            "subject string, predicate string, object string, "
            "extraction_method string, confidence double, extraction_time timestamp",
        )

    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 2, 1)
    state = vs.merge_batch(vs.empty_state(spark), batch([("s1", "p", "a"), ("s2", "p", "b")], t1))
    state = vs.materialized(vs.merge_batch(state, batch([("s1", "p", "a"), ("s2", "p", "c")], t2)))

    scalar = {tuple(r) for r in vs.changes_between(state, t1, t2).collect()}
    lo = spark.createDataFrame([(t1,)], "v timestamp").agg(F.max("v"))
    hi = spark.createDataFrame([(t2,)], "v timestamp").agg(F.max("v"))
    inplan = {tuple(r) for r in vs.changes_between(state, lo, hi).collect()}
    assert scalar == inplan
    assert ("s2", "p", "c", "added") in scalar
    assert ("s2", "p", "b", "removed") in scalar
    assert ("s1", "p", "a", "added") not in scalar


def test_canonicalize_url_cases(spark):
    from mlentory_etl_pipeline_spark.functions.text import canonicalize_url

    cases = [
        # (raw, canonical)
        ("HTTPS://WWW.Ex.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://www.ex.com/a/b?a=1&b=2"),
        ("http://ex.com:80/", "http://ex.com/"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),  # non-default port kept
        ("https://ex.com", "https://ex.com/"),  # empty path -> /
        ("https://ex.com/p?gclid=1&fbclid=2", "https://ex.com/p"),
        ("https://ex.com/Case/Sensitive", "https://ex.com/Case/Sensitive"),
        ("https://ex.com:443/p?z=1&a=2", "https://ex.com/p?a=2&z=1"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)], "i long, url string")
    got = {r.i: r.c for r in df.select("i", canonicalize_url("url").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_pq_adc_recall_and_compression_shape(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(e, q, k=5)
    approx = similarity.pq_adc_topk(e, q, m=4, ksub=16, shortlist=40, k=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # uniform random vectors are PQ's hardest case too; must beat
    # chance (5/500 = 1%) by a wide margin
    assert recall > 0.10, f"recall {recall}"

    # survivors' scores are EXACT cosines (rerank touches floats):
    # every reported (pair, score) must equal the brute-force score
    exact_scores = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    full = similarity.brute_force_topk(e, q, k=500)
    all_scores = {(r.query_id, r.neighbor_id): r.score for r in full.collect()}
    for r in approx.collect():
        assert all_scores[(r.query_id, r.neighbor_id)] == r.score


def test_pq_larger_shortlist_not_worse(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact_pairs = {
        (r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(e, q, k=5).collect()
    }

    def recall(shortlist):
        approx = similarity.pq_adc_topk(e, q, m=4, ksub=16, shortlist=shortlist, k=5)
        pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        return len(exact_pairs & pairs) / len(exact_pairs)

    # monotone knob: widening the ADC shortlist can only help
    assert recall(80) >= recall(20)


def test_triangle_counts_known_graph(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    # K4 on {1,2,3,4} (every node in 3 triangles) plus a dangling edge
    # 4-5 (adds no triangle)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)], "u long, v long"
    )
    got = {r.node: r.n_triangles for r in graph.triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_degree_orientation_bounds_hub_fanout(spark):
    """On a hub-skewed graph, degree orientation must (a) count the
    same triangles as id orientation and (b) keep the wedge
    intermediate (the e1.v == e2.u join) near-linear where a mid-id hub
    makes id orientation quadratic."""
    from mlentory_etl_pipeline_spark.operators import graph

    # hub id 50 sits mid-range and touches every other node 0..99;
    # leaves form a ring so triangles exist (hub-i-(i+1) for ring edges)
    n = 100
    hub = 50
    leaves = [i for i in range(n) if i != hub]
    hub_edges = [(min(hub, i), max(hub, i)) for i in leaves]
    ring = []
    for a, b in zip(leaves, leaves[1:] + leaves[:1]):
        if (min(a, b), max(a, b)) not in ring:
            ring.append((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(set(hub_edges + ring)), "u long, v long")

    by_id = {r.node: r.n_triangles for r in graph.triangle_counts(edges).collect()}
    by_deg = {
        r.node: r.n_triangles
        for r in graph.triangle_counts(edges, orient_by="degree").collect()
    }
    assert by_id == by_deg  # identical triangles under any total order

    def wedge_count(orient_by):
        e = graph.oriented_edges(edges, orient_by=orient_by)
        return (
            e.alias("e1")
            .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
            .count()
        )

    w_id, w_deg = wedge_count("id"), wedge_count("degree")
    # id orientation: hub keeps ~49 outgoing edges AND ~50 incoming, so
    # wedges through the hub alone are ~49*50/2 ≈ 1.2k; degree
    # orientation points every hub edge INTO the hub (out-degree 0) and
    # leaf out-degrees are <= 3, so the wedge set stays near-linear.
    assert w_id > 1000, f"expected quadratic id-orientation wedges, got {w_id}"
    assert w_deg < 6 * n, f"degree orientation fan-out not bounded: {w_deg}"


def test_pagerank_star_graph(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    # undirected star: hub 0 <-> leaves 1..4 (symmetrized edge list)
    half = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        half + [(v, u) for (u, v) in half], "u long, v long"
    )
    ranks = {r.node: r.rank for r in graph.pagerank(edges, iters=10).collect()}
    # mass conservation and hub dominance
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    assert len({round(ranks[i], 9) for i in range(1, 5)}) == 1  # leaves tie
    # determinism
    again = {r.node: r.rank for r in graph.pagerank(edges, iters=10).collect()}
    assert again == ranks


def test_pagerank_dangling_mass(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    # 1 -> 2 -> 3, node 3 dangling: without redistribution mass decays
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    ranks = {r.node: r.rank for r in graph.pagerank(edges, iters=12).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    assert ranks[3] > ranks[2] > ranks[1]


def test_dsir_scores_favor_target_vocabulary(spark):
    from mlentory_etl_pipeline_spark.operators.curation import (
        dsir_importance_weights,
    )

    rows = (
        [(i, "alpha beta gamma delta", "wiki") for i in range(10)]
        + [(100 + i, "zork quux blorb grue", "web") for i in range(10)]
        # held-out docs: one target-like, one source-like, one mixed
        + [(200, "alpha beta beta gamma", "held"),
           (201, "zork zork grue blorb", "held"),
           (202, "alpha zork delta grue", "held")]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, src string")
    got = {
        r.doc_id: r.dsir_score
        for r in dsir_importance_weights(
            d, "doc_id", "text", F.col("src") == "wiki", n_buckets=256
        ).collect()
    }
    assert got[200] > got[202] > got[201]
    assert got[200] > 0 > got[201]


def test_remove_duplicate_spans_semantics(spark):
    from mlentory_etl_pipeline_spark.operators.dedup import remove_duplicate_spans

    rows = [
        # canonical: first occurrence of the repeated 9-token span
        (1, "the quick brown fox jumps over the lazy dog today ok"),
        # same span embedded in a distinct doc: 8-gram windows cover
        # all 10 tokens of the repeated region; framing text survives
        (2, "intro text the quick brown fox jumps over the lazy dog today more words here"),
        (3, "short doc"),  # < n tokens: untouched
        # intra-doc repeat: second copy of the 8-token block removed
        (4, "aa bb cc dd ee ff gg hh aa bb cc dd ee ff gg hh tail"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, "doc_id", "text", n=8).collect()
    }
    assert out[1]["text"] == rows[0][1] and out[1]["n_removed"] == 0
    assert out[2]["text"] == "intro text more words here"
    assert out[2]["n_removed"] == 10 and out[2]["n_tokens"] == 15
    assert out[3]["text"] == "short doc" and out[3]["n_removed"] == 0
    assert out[4]["text"] == "aa bb cc dd ee ff gg hh tail"
    assert out[4]["n_removed"] == 8


def test_remove_duplicate_spans_full_removal_keeps_doc(spark):
    from mlentory_etl_pipeline_spark.operators.dedup import remove_duplicate_spans

    base = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame([(1, base), (2, base)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, "doc_id", "text", n=8).collect()
    }
    # doc 2 is entirely one duplicate span: emitted with empty text,
    # not silently dropped
    assert out[1]["text"] == base and out[1]["n_removed"] == 0
    assert out[2]["text"] == "" and out[2]["n_removed"] == 8


def test_semantic_dedup_policies(spark):
    from mlentory_etl_pipeline_spark.operators.similarity import semantic_dedup

    # A at 0 deg, B at 90 deg, C at 45 deg; threshold 0.70 gives edges
    # A~C and B~C (cos 45 = 0.7071) but NOT A~B (cos 90 = 0) — the case
    # where dominance and transitive components disagree
    s = 0.7071067811865476
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [s, s])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = df.where("vec_id = 0")  # one cell: everything compares

    dom = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df, n_centroids=1, threshold=0.70, policy="dominance",
            centroids=None,
        ).collect()
    }
    # dominance: C loses (A and B are smaller cellmates within 0.70);
    # B survives because its only near neighbor C is LARGER
    assert dom == {0: True, 1: True, 2: False}

    comp = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df, n_centroids=1, threshold=0.70, policy="components"
        ).collect()
    }
    # components: A-C-B is one component, only min id survives
    assert comp == {0: True, 1: False, 2: False}

    # exact duplicates always lose to their original under both
    dup = df.unionByName(
        df.selectExpr("vec_id + 10 AS vec_id", "embedding")
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            dup, n_centroids=1, threshold=0.98, policy="dominance"
        ).collect()
    }
    assert out[10] is False and out[11] is False and out[12] is False


def test_z_value_matches_reference_interleave(spark):
    from mlentory_etl_pipeline_spark.operators.layout import z_value

    def ref(x, y, bits=8):
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    rows = [(i, (i * 37) % 256, (i * 91) % 256) for i in range(200)]
    df = spark.createDataFrame(rows, ["i", "x", "y"])
    got = {
        r["i"]: r["z"]
        for r in df.select(
            "i", z_value([F.col("x"), F.col("y")], 8).alias("z")
        ).collect()
    }
    for i, x, y in rows:
        assert got[i] == ref(x, y), (i, x, y)


def test_zorder_layout_prunes_files_on_both_dims(spark, tmp_path):
    from pyspark.sql import functions as F2

    from mlentory_etl_pipeline_spark.operators.layout import z_order_layout

    # 128x128 grid; 16 files along the z-curve. A 32x32 box is 1/16 of
    # the key space -> on a Morton layout it lives in a handful of
    # files; a linear-on-x layout would touch EVERY file for a y-box.
    n = 128
    grid = (
        spark.range(n * n)
        .select(
            (F2.col("id") % n).alias("x"),
            (F2.col("id") / n).cast("long").alias("y"),
        )
    )
    laid = z_order_layout(
        grid, [("x", 0.0, float(n)), ("y", 0.0, float(n))], bits=7, num_files=16
    )
    path = str(tmp_path / "zorder")
    laid.write.parquet(path)
    rd = spark.read.parquet(path)
    total = rd.select(F2.input_file_name()).distinct().count()
    assert total >= 12  # layout actually produced many files

    def files_touched(cond):
        return (
            rd.where(cond).select(F2.input_file_name()).distinct().count()
        )

    box = files_touched((F2.col("x") < 32) & (F2.col("y") < 32))
    x_slice = files_touched(F2.col("x") < 8)
    y_slice = files_touched(F2.col("y") < 8)
    # the corner box clusters into few files; EITHER single-dim slice
    # also prunes (that's the point of interleaving vs linear sort)
    assert box <= total // 4, (box, total)
    assert x_slice < total and y_slice < total, (x_slice, y_slice, total)


def test_compaction_plan_greedy_fill(spark):
    from mlentory_etl_pipeline_spark.operators.layout import compaction_plan

    rows = [
        ("p1", "a", 120),  # >= target: keep
        ("p1", "b", 70),
        ("p1", "c", 60),
        ("p1", "d", 40),
        ("p1", "e", 10),
        ("p2", "f", 90),
    ]
    df = spark.createDataFrame(rows, ["part", "file_name", "size_bytes"])
    out = compaction_plan(
        df, "size_bytes", 100, partition_cols=["part"]
    ).collect()
    by_file = {r["file_name"]: r for r in out}
    assert by_file["a"]["action"] == "keep" and by_file["a"]["bin_id"] == -1
    # fill order b(70) c(60) d(40) e(10): cum-size boundaries at 100
    # give bins floor(0/100)=0, floor(70/100)=0, floor(130/100)=1,
    # floor(170/100)=1
    assert by_file["b"]["bin_id"] == 0 and by_file["c"]["bin_id"] == 0
    assert by_file["d"]["bin_id"] == 1 and by_file["e"]["bin_id"] == 1
    # bins never span partitions: p2's lone small file starts at bin 0
    assert by_file["f"]["part"] == "p2" and by_file["f"]["bin_id"] == 0
    # every compact bin stays under 2x target (sorted-fill guarantee)
    from collections import defaultdict

    bins = defaultdict(int)
    for r in out:
        if r["action"] == "compact":
            bins[(r["part"], r["bin_id"])] += r["size_bytes"]
    assert all(v < 200 for v in bins.values()), bins


def test_lm_perplexity_ranks_in_vocab_text_lower(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import lm_perplexity

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog ran") for i in range(20)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),          # pure in-vocab
            (2, "qzx wvu jkl pqr zzz yyy"),          # pure OOV gibberish
            (3, "the cat qzx on the mat"),           # mixed
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in lm_perplexity(docs, ref, "doc_id", "text").collect()
    }
    assert out[1]["ppl"] < out[3]["ppl"] < out[2]["ppl"]
    assert out[1]["n_tokens"] == 6
    # log-probs are negative, so avg_logprob must be too
    assert all(out[i]["avg_logprob"] < 0 for i in (1, 2, 3))


def test_hard_negative_mining_excludes_self_and_positive(spark):
    from mlentory_etl_pipeline_spark.operators.similarity import (
        hard_negative_mining,
    )

    # 1-D embeddings make similarity order transparent (all cosine 1.0
    # or -1.0): use 2-D with distinct angles instead
    import math as m

    corpus = spark.createDataFrame(
        [(i, [m.cos(i * 0.2), m.sin(i * 0.2)]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    pairs = spark.createDataFrame(
        [(0, 1), (5, 4)], ["query_id", "positive_id"]
    )
    out = hard_negative_mining(corpus, pairs, k=3).collect()
    assert len(out) == 6
    for r in out:
        assert r["negative_id"] != r["query_id"]
        assert r["negative_id"] != r["positive_id"]
    # nearest angular neighbor excluding the positive: for query 0
    # (positive 1) it is vec 2; for query 5 (positive 4) it is vec 6
    top = {
        (r["query_id"], r["rank"]): r["negative_id"] for r in out
    }
    assert top[(0, 1)] == 2 and top[(5, 1)] == 6

    # IVF-shortlisted path returns the same negatives here (small
    # corpus, shortlist covers the exclusions)
    short = hard_negative_mining(
        corpus, pairs, k=3, shortlist=8, n_centroids=4, nprobe=4
    ).collect()
    assert {(r["query_id"], r["rank"], r["negative_id"]) for r in short} == {
        (r["query_id"], r["rank"], r["negative_id"]) for r in out
    }


def test_semantic_dedup_incremental_precedence(spark):
    from mlentory_etl_pipeline_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    stored = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    s = 0.7071067811865476
    batch = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),   # exact copy of stored 0 -> loses
            (11, [s, s]),       # novel direction -> keeps
            (12, [s, s]),       # duplicate of batch 11 (smaller id) -> loses
            (13, [-1.0, 0.0]),  # anti-parallel: cosine -1 -> keeps
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup_incremental(
            stored, batch, n_centroids=1, threshold=0.98
        ).collect()
    }
    assert out == {10: False, 11: True, 12: False, 13: True}
    # stored side is never rescored or returned: output is batch-only
    assert set(out) == {10, 11, 12, 13}


def test_snapshot_diff_classification(spark):
    from mlentory_etl_pipeline_spark.operators.extract_ops import snapshot_diff

    before = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "C", None), (4, "D", 40)],
        "k int, status string, v int",
    )
    after = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 21), (3, "C", None), (5, "E", 50)],
        "k int, status string, v int",
    )
    out = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(before, after, ["k"], ["status", "v"]).collect()
    }
    assert out == {
        1: "unchanged",
        2: "changed",       # v 20 -> 21
        3: "unchanged",     # NULL == NULL under the null-safe hash
        4: "removed",
        5: "added",
    }

    # NULL must be distinct from '' and from shifted column boundaries
    b2 = spark.createDataFrame([(1, None, "x"), (2, "a", "bc")], "k int, a string, b string")
    a2 = spark.createDataFrame([(1, "", "x"), (2, "ab", "c")], "k int, a string, b string")
    out2 = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(b2, a2, ["k"], ["a", "b"]).collect()
    }
    assert out2 == {1: "changed", 2: "changed"}


def test_kcore_known_graph(spark):
    from mlentory_etl_pipeline_spark.operators.graph import k_core

    # K4 clique (nodes 1-4) + a pendant chain 4-5-6: the 3-core is
    # exactly the clique; the chain peels away in two rounds
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    out = {r.node: r.core_degree for r in k_core(df, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # 2-core keeps only the clique too (chain nodes have degree 1
    # after the leaf peels), 1-core keeps everything
    assert set(r.node for r in k_core(df, k=1).collect()) == {1, 2, 3, 4, 5, 6}


def test_kcore_cascade_and_invariant(spark):
    from mlentory_etl_pipeline_spark.operators.graph import k_core

    # long chain + a K5: peeling a chain with k=2 cascades from both
    # ends — one leaf at a time per end — exercising multi-round decay
    chain = [(i, i + 1) for i in range(10, 20)]
    k5 = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    df = spark.createDataFrame(chain + k5, "u long, v long")
    rows = k_core(df, k=2, rounds=15).collect()
    assert set(r.node for r in rows) == {1, 2, 3, 4, 5}
    # every node in the k-core has core-degree >= k (the invariant)
    assert all(r.core_degree >= 2 for r in rows)


def test_kcore_fixed_rounds_matches_converged(spark):
    from mlentory_etl_pipeline_spark.operators.graph import k_core

    # the registry query's contract: running MORE rounds than the
    # cascade needs is the identity (the oracle's fixed unroll and the
    # early-exiting Spark fold agree)
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    a = sorted(map(tuple, k_core(df, k=2, rounds=3).collect()))
    b = sorted(map(tuple, k_core(df, k=2, rounds=12).collect()))
    assert a == b


def test_label_propagation_finds_disjoint_clique_communities(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    # two disjoint triangles + a chain pair: min-label plurality
    # converges each component onto its minimum node id
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (7, 8)],
        "u long, v long",
    )
    got = {
        r.node: r.community
        for r in graph.label_propagation(edges, iters=4).collect()
    }
    assert {got[1], got[2], got[3]} == {1}
    assert {got[4], got[5], got[6]} == {4}
    # the 7-8 pair two-cycles under synchronous updates (documented
    # contract): after an even round count each holds the other's id
    # from the odd round -> both have flipped twice, back to swap state
    assert {got[7], got[8]} == {7, 8} or {got[7], got[8]} == {8}


def test_label_propagation_partition_invariant(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23 + 100) for i in range(60)], "u long, v long"
    )
    a = {(r.node, r.community) for r in graph.label_propagation(edges, iters=3).collect()}
    b = {
        (r.node, r.community)
        for r in graph.label_propagation(edges.repartition(17, "v"), iters=3).collect()
    }
    assert a == b


def test_range_partition_bounds_exact_balanced(spark):
    from mlentory_etl_pipeline_spark.operators.layout import (
        range_partition_bounds,
    )

    df = spark.createDataFrame([(i, i) for i in range(100)], "k long, id long")
    out = range_partition_bounds(df, "k", "id", n_buckets=4).collect()
    assert [r.bucket for r in out] == [1, 2, 3, 4]
    assert all(r.n_rows == 25 for r in out)
    # buckets tile the key range in order, boundaries inclusive
    assert out[0].lo_key == 0 and out[-1].hi_key == 99
    for a, b in zip(out, out[1:]):
        assert a.hi_key < b.lo_key


def test_range_partition_bounds_sampled_is_deterministic(spark):
    from mlentory_etl_pipeline_spark.operators.layout import (
        range_partition_bounds,
    )

    df = spark.createDataFrame([(i % 37, i) for i in range(500)], "k long, id long")
    a = [
        tuple(r)
        for r in range_partition_bounds(df, "k", "id", 5, sample_mod=3).collect()
    ]
    b = [
        tuple(r)
        for r in range_partition_bounds(
            df.repartition(11, "id"), "k", "id", 5, sample_mod=3
        ).collect()
    ]
    assert a == b and 0 < sum(r[3] for r in a) < 500


def test_embedding_gram_exact_matches_numpy_and_batch_invariant(spark):
    import numpy as np

    from mlentory_etl_pipeline_spark.operators.similarity import (
        embedding_gram_exact,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((120, 6)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    q = np.floor(vecs.astype(np.float64)[:, :4] * 1_000_000).astype(np.int64)
    want = (q.T @ q) / 1e12

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        # tiny Arrow batches force many partials — proves the
        # decimal merge, not just one batch's matmul
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = {
            (r.i, r.j): (r.n_vectors, r.gram)
            for r in embedding_gram_exact(
                df.repartition(5), "embedding", n_dims=4
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert len(got) == 10  # upper triangle of 4x4
    for (i, j), (n, gram) in got.items():
        assert n == 120
        assert abs(gram - round(want[i - 1, j - 1], 6)) < 2e-6


def test_embedding_pca_matches_direct_numpy(spark):
    import numpy as np

    from mlentory_etl_pipeline_spark.operators.similarity import embedding_pca

    rng = np.random.default_rng(5)
    # anisotropic cloud: one dominant direction
    base = rng.standard_normal((200, 1)) * np.array([[3.0, 1.5, 0.5, 0.1]])
    noise = rng.standard_normal((200, 4)) * 0.05
    vecs = (base + noise).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = embedding_pca(df, "embedding", n_dims=4, top_k=4).collect()

    q = np.floor(vecs.astype(np.float64) * 1e6) / 1e6
    # the operator's covariance is assembled from its ROUNDED gram
    # outputs (6 dp), so compare against the same rounding
    g = np.round(q.T @ q, 6)
    mean = np.floor(vecs.astype(np.float64) * 1e6).sum(axis=0) / 1e6 / 200
    cov = g / 200 - np.outer(mean, mean)
    evals = np.linalg.eigh(cov)[0][::-1]
    assert [r.component for r in got] == [1, 2, 3, 4]
    for r, ev in zip(got, evals):
        assert r.n_vectors == 200
        assert abs(r.eigenvalue - ev) < 1e-5
        assert abs(r.explained - ev / evals.sum()) < 1e-5
    # the dominant direction carries most of the variance
    assert got[0].explained > 0.9


def test_embedding_pca_degenerate_constant_vectors(spark):
    """Constant embeddings → M = n·G − S·Sᵀ is exactly the zero matrix:
    the quantized power iteration collapses v to the zero vector and
    the contract is NULL eigenvalue/explained, never a 0/0 garbage
    ratio (mirrors the oracle's CASE WHEN den=0/trace<=0 close)."""
    from mlentory_etl_pipeline_spark.operators.similarity import embedding_pca

    df = spark.createDataFrame(
        [(i, [0.25, -0.5, 0.125, 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = embedding_pca(df, "embedding", n_dims=4, top_k=2).collect()
    assert [r.component for r in got] == [1, 2]
    for r in got:
        assert r.n_vectors == 40
        assert r.eigenvalue is None and r.explained is None


def test_personalized_pagerank_seed_locality(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    # path graph 0-1-2-3-4-5 (symmetrized): teleport pinned to node 0
    half = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        half + [(v, u) for (u, v) in half], "u long, v long"
    )
    ppr = {
        r.node: r.ppr
        for r in graph.personalized_pagerank(
            edges, seeds=[0], iters=12
        ).collect()
    }
    # mass conservation (floor losses only)
    assert abs(sum(ppr.values()) - 1.0) < 1e-6
    # float power-iteration model, same init (all mass on seeds) and
    # same 12 fixed iterations. NB true PPR is NOT monotone from the
    # seed here: degree-1 seed 0 exports everything to node 1, which
    # also collects from node 2, so ppr[1] > ppr[0] is CORRECT.
    r = [1.0, 0, 0, 0, 0, 0]
    degs = [1, 2, 2, 2, 2, 1]
    for _ in range(12):
        nxt = [0.0] * 6
        for (u, v) in half + [(v, u) for (u, v) in half]:
            nxt[v] += r[u] / degs[u]
        r = [0.15 * (1.0 if i == 0 else 0.0) + 0.85 * nxt[i] for i in range(6)]
    for i in range(6):
        assert abs(ppr[i] - r[i]) < 1e-6
    # proximity decays along same-parity hops (a path graph still
    # carries parity ripples at 12 iterations from seed-pinned init)
    assert ppr[1] > ppr[3] > ppr[5] > 0
    assert ppr[0] > ppr[2] > ppr[4] > 0
    # determinism
    again = {
        r.node: r.ppr
        for r in graph.personalized_pagerank(
            edges, seeds=[0], iters=12
        ).collect()
    }
    assert again == ppr


def test_personalized_pagerank_dangling_mass_to_seeds(spark):
    from mlentory_etl_pipeline_spark.operators import graph

    # 1 -> 2 -> 3 with dangling 3: its mass must return to seed 1, so
    # nothing leaks (uniform PR would spread it over all nodes)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    ppr = {
        r.node: r.ppr
        for r in graph.personalized_pagerank(
            edges, seeds=[1], iters=12
        ).collect()
    }
    assert abs(sum(ppr.values()) - 1.0) < 1e-6
    assert ppr[1] > ppr[2] > ppr[3] > 0


# --- winnowing fingerprints vs the SIGMOD'03 reference algorithm ------


def test_winnowing_matches_reference_model(spark):
    import hashlib as _hl

    from mlentory_etl_pipeline_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abc"),                       # shorter than k: whole-string gram
        (3, "aaaaaaaaaaaaaaaa"),          # max ties: rightmost-min rule
        (4, "the quick brown fox jumps"),  # shared prefix with doc 1
    ]
    k, w = 8, 4

    def model(text):
        t = " ".join(text.lower().strip().split())
        if not t:
            return set()
        n_h = max(len(t) - k + 1, 1)
        hs = [
            int(_hl.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(n_h)
        ]
        wl = min(w, len(hs))
        out = set()
        for j in range(len(hs) - wl + 1):
            window = hs[j : j + wl]
            m = min(window)
            # rightmost occurrence of the min
            pos = j + max(i for i, h in enumerate(window) if h == m) + 1
            out.add((pos, m))
        return out

    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnowing_fingerprints(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id",
            "text",
            k=k,
            w=w,
        ).collect()
    }
    expect = {
        (i, pos, fp) for i, txt in docs for (pos, fp) in model(txt)
    }
    assert got == expect
    # the winnowing guarantee: docs 1 and 4 share a >= w+k-1 char
    # prefix, so they MUST share at least one fingerprint
    f1 = {(p, f) for (d, p, f) in got if d == 1}
    f4 = {(p, f) for (d, p, f) in got if d == 4}
    assert f1 & f4


# --- rendezvous sharding: hashlib parity + minimal movement -----------


def test_rendezvous_matches_hashlib_and_moves_minimally(spark):
    import hashlib as _hl

    from mlentory_etl_pipeline_spark.operators.layout import (
        rendezvous_assign,
    )

    keys = list(range(400))
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    out = rendezvous_assign(
        rendezvous_assign(df, "doc_id", 16, "s16"), "doc_id", 17, "s17"
    )
    got = {r.doc_id: (r.s16, r.s17) for r in out.collect()}

    def hrw(key, n):
        return max(
            range(n),
            key=lambda s: (
                int(
                    _hl.md5(f"{key}:{s}".encode()).hexdigest()[:15], 16
                ),
                s,
            ),
        )

    moved = 0
    for kk in keys:
        expect = (hrw(kk, 16), hrw(kk, 17))
        assert got[kk] == expect
        moved += expect[0] != expect[1]
    # minimal-movement law: only keys won by shard 16 move (E = n/17);
    # generous band around 400/17 ~= 23.5
    assert 5 <= moved <= 60
    # every key that moved, moved TO the new shard
    for kk in keys:
        if got[kk][0] != got[kk][1]:
            assert got[kk][1] == 16


def test_k_center_greedy_picks_extremes(spark):
    """1-D points embedded as arrays: seed = smallest id (x=0); the
    farthest point (x=100) goes second; then the midpoint region —
    greedy k-center must spread, never cluster."""
    from mlentory_etl_pipeline_spark.operators.similarity import (
        k_center_greedy,
    )

    pts = [(i, [float(x), 0.0]) for i, x in enumerate([0, 1, 2, 50, 51, 100])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [(r.rank, r.vec_id) for r in k_center_greedy(df, k=4).collect()]
    assert got[0] == (0, 0)
    assert got[1] == (1, 5)      # x=100, farthest from 0
    assert got[2][1] in (3, 4)   # the 50/51 cluster next
    # radius (last dist_micro) shrinks monotonically after round 1
    dists = [r.dist_micro for r in k_center_greedy(df, k=4).collect()][1:]
    assert all(dists[i] >= dists[i + 1] for i in range(len(dists) - 1))


def test_maxsim_prefers_doc_covering_all_query_tokens(spark):
    """Two orthogonal query tokens: a doc containing BOTH directions
    must outscore a doc that matches only one perfectly (the signal
    single-vector retrieval flattens)."""
    from mlentory_etl_pipeline_spark.operators.similarity import (
        late_interaction_maxsim,
    )

    ex = [1.0, 0.0, 0.0, 0.0]
    ey = [0.0, 1.0, 0.0, 0.0]
    qt = spark.createDataFrame(
        [(0, 0, ex), (0, 1, ey)],
        "q int, qt_id long, embedding array<float>",
    )
    dt = spark.createDataFrame(
        [(100, ex), (100, ey),        # covers both tokens
         (200, ex), (200, ex),        # only x, twice
         (300, [0.7, 0.7, 0.0, 0.0])],  # diagonal: ~0.7 on each
        "doc long, embedding array<float>",
    )
    got = [(r.doc, r.maxsim, r.rank)
           for r in late_interaction_maxsim(qt, dt, k=3).collect()]
    assert got[0][0] == 100 and abs(got[0][1] - 2.0) < 1e-6
    # diagonal doc: 2 * cos(45deg) ~ 1.414 beats the x-only doc's 1.0
    assert got[1][0] == 300 and got[2][0] == 200


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-5, max_value=5), min_size=6, max_size=6),
        min_size=2, max_size=12,
    ),
    dup_of=st.integers(min_value=0, max_value=3),
)
@pytest.mark.slow
def test_angular_blocking_is_lossless_vs_brute_force(spark, vecs, dup_of):
    """The blocked pair set must EQUAL brute force at threshold 0.999
    — including planted exact near-dups (a 2x-scaled copy of one
    vector, cosine exactly 1) and arbitrary integer vectors."""
    from pyspark.sql import functions as F
    from mlentory_etl_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )
    from mlentory_etl_pipeline_spark.operators.similarity import (
        cosine_pairs_angular_blocked,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    src = vecs[dup_of % len(vecs)]
    rows.append((1000, [float(x) * 2.0 for x in src]))
    # zero vectors have undefined cosine: the operator drops them by
    # contract (brute force would NULL/ANSI-error), so mirror that here
    rows = [r for r in rows if any(x != 0.0 for x in r[1])]
    if not rows:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    blocked = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_angular_blocked(
            df, threshold=0.999, round_dp=4, dim=6
        ).collect()
    }
    a = df.select(F.col("vec_id").alias("a_id"),
                  F.col("embedding").alias("ea"))
    b = df.select(F.col("vec_id").alias("b_id"),
                  F.col("embedding").alias("eb"))
    brute = {
        (r.a_id, r.b_id)
        for r in a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 4)
            >= 0.999
        )
        .collect()
    }
    assert blocked == brute


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    words=st.dictionaries(
        st.text(alphabet="ab", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=9),
        min_size=1, max_size=6,
    )
)
def test_unigram_viterbi_matches_python_dp(spark, words):
    """The HOF Viterbi fold must reproduce a reference Python DP:
    same seed scores, same smallest-start tiebreak, same counts."""
    import math
    from collections import Counter
    from mlentory_etl_pipeline_spark.operators.tokenizer import (
        unigram_lm_round,
    )

    thr = 3
    # python replica of the seed vocab + viterbi + recount
    piece_cnt = Counter()
    for w, f in words.items():
        for s in range(len(w)):
            for plen in range(1, 5):
                if s + plen <= len(w):
                    piece_cnt[w[s:s + plen]] += f
    vocab = {p: c for p, c in piece_cnt.items()
             if c >= thr or len(p) == 1}
    total = sum(vocab.values())
    q = {p: math.floor(math.log(c / total) * 1000000)
         for p, c in vocab.items()}
    vcnt = Counter()
    for w, f in words.items():
        best = [(0, -1)] + [None] * len(w)
        for pos in range(1, len(w) + 1):
            cands = []
            for s in range(max(0, pos - 4), pos):
                piece = w[s:pos]
                if piece in q and best[s] is not None:
                    cands.append((best[s][0] + q[piece], -s))
            best[pos] = (max(cands)[0], -max(cands)[1])
        pos = len(w)
        while pos > 0:
            s = best[pos][1]
            vcnt[w[s:pos]] += f
            pos = s
    df = spark.createDataFrame(list(words.items()), "word string, n long")
    got = {r.piece: (r.seed_count, r.viterbi_count)
           for r in unigram_lm_round(df, "word", "n",
                                     min_piece_count=thr).collect()}
    assert set(got) == set(vocab)
    for p in vocab:
        assert got[p] == (vocab[p], vcnt.get(p, 0)), (p, got[p])
