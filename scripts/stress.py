#!/usr/bin/env python3
"""Scale-stress harness: catch density/skew traps mechanically, before
they show up at 100 TB.

For each heavy operator family, build the SAME logical plan at 1x and
at Kx (default 10x) input scale — the inflation happens in-plan via
``explode(sequence(0, K-1))`` with per-replica salting, no extra
parquet is written — and assert the steady-state wall-time ratio stays
SUB-QUADRATIC (ratio <= K**1.5, i.e. 31.6x for K=10; a quadratic
operator would show ~K**2 = 100x).  An operator that is linear in its
input shows ~K plus fixed overheads; one hiding an accidental
cross-product or an unbounded per-key fan-out blows past the bound.

Salting strategy per case (what "10x" means is chosen so the HONEST
answer is linear — the harness stresses the plan shape, not an
inherently quadratic output):

- minhash     documents 10x; each replica word-salts a ~1/3 subset of
              words keyed on (word, replica), so cross-replica shingle
              Jaccard (~0.09) sits far under the 0.5 threshold and the
              true near-dup structure is 10 disjoint copies of the 1x
              structure.  Catches: shingle-join fan-out, band-bucket
              skew.
- triangles   bounded co-supply graph replicated as 10 DISJOINT copies
              (node ids offset per replica), degree-oriented.  Catches:
              wedge-intermediate blow-up (the r3 density trap).
- linkage     part names 10x with the replica id fused into the
              blocking prefix, so blocks multiply instead of deepening.
              Catches: block-key skew, prefix-join fan-out.
- sessions    events 10x onto the SAME user keys (ts jittered per
              replica): every per-user window/sort gets 10x deeper —
              deliberately the harshest shape for the sessionizer.
- scd2_fold   events→triples batch 10x with replica-salted subjects,
              merged into an empty store (full V2–V7 pipeline).

Usage:
    python scripts/stress.py            # K=10, prints one JSON line
    python scripts/stress.py --k 5
Exit nonzero if any ratio exceeds the sub-quadratic bound.
Results are recorded per-round in SCALE.md ("Stress harness").
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from mlentory_etl_pipeline_spark.operators import dedup, graph, linkage
from mlentory_etl_pipeline_spark.operators import versioned_store as vs
from mlentory_etl_pipeline_spark.session import get_spark
from mlentory_etl_pipeline_spark.sources.tpch import load_table as t
from mlentory_etl_pipeline_spark.streaming import incremental

# t1 floor (s): below this, the 1x run is dominated by fixed per-query
# overhead (job scheduling, codegen cache hits) and the ratio is noise.
T1_FLOOR = 0.25


def _replicated(df: DataFrame, k: int) -> DataFrame:
    """k rows per input row, replica id in `_rep` (in-plan, no write)."""
    return df.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))


def _salt_words(text, rep):
    """Append the replica id to a hash-chosen ~1/3 of words, so replicas
    of the same document share ~(2/3)^3 of their 3-gram shingles within
    a replica pair — Jaccard ~0.09, far under every dedup threshold."""
    return F.array_join(
        F.transform(
            F.split(text, " "),
            lambda w: F.when(
                F.pmod(F.xxhash64(w) + rep, F.lit(3)) == 0,
                F.concat(w, F.lit("~"), rep.cast("string")),
            ).otherwise(w),
        ),
        " ",
    )


def case_minhash(spark, sf_dir: str, k: int) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        _salt_words(F.col("text"), F.col("_rep")).alias("text"),
    )
    # plant one near-dup sibling per replica doc (same shape as the
    # registry's _neardup_corpus, so 10x input => ~10x true pairs)
    corpus = r.unionByName(
        r.select(
            (F.col("doc_id") + 100000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    return dedup.minhash_lsh_dedup_pairs(
        corpus, "doc_id", "text", n=3, num_hashes=12, bands=4, threshold=0.5
    )


def case_span_removal(spark, sf_dir: str, k: int) -> DataFrame:
    # replicas word-salt like the minhash case, so repeated spans live
    # WITHIN a replica (each doc + its planted near-copy), never across
    # replicas: duplicate-span coverage grows linearly with k.
    # Catches: gram-shuffle skew, coverage-explode blow-up.
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        _salt_words(F.col("text"), F.col("_rep")).alias("text"),
    )
    corpus = r.unionByName(
        r.select(
            (F.col("doc_id") + 100000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    return dedup.remove_duplicate_spans(corpus, "doc_id", "text", n=8)


def case_semdedup(spark, sf_dir: str, k: int) -> DataFrame:
    # per-replica deterministic sign flips preserve norms and every
    # WITHIN-replica cosine (planted copies still score 1.0) while
    # cross-replica cosines land near 0 — the true dup structure is k
    # disjoint copies.  Catches: cell-pair-scan blow-up on hot cells.
    from mlentory_etl_pipeline_spark.operators import similarity

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = e.where("vec_id < 300").unionByName(
        e.where("vec_id < 60").select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    r = _replicated(base, k).select(
        (F.col("vec_id") * k + F.col("_rep")).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x
            * (1 - 2 * F.pmod(F.xxhash64(i + F.col("_rep") * 1000), F.lit(2))).cast(
                "float"
            ),
        ).alias("embedding"),
    )
    return similarity.semantic_dedup(r, n_centroids=16, threshold=0.98)


def case_triangles(spark, sf_dir: str, k: int) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sp = (
        li.where((F.col("l_suppkey") < 150) & (F.col("l_partkey") < 1000))
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sp = _replicated(sp, k).select(
        (F.col("s") + F.col("_rep") * 1000000).alias("s"),
        (F.col("p") + F.col("_rep") * 1000000).alias("p"),
    )
    edges = (
        sp.alias("a")
        .join(sp.alias("b"), "p")
        .where(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    return graph.triangle_counts(edges, orient_by="degree")


def case_linkage(spark, sf_dir: str, k: int) -> DataFrame:
    p = t(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.min("p_partkey").alias("pid"))
    names = _replicated(names, k).select(
        (F.col("pid") * k + F.col("_rep")).alias("pid"),
        # fuse the replica into the block prefix: blocks multiply
        # (k x more blocks) instead of deepening (k x bigger blocks)
        F.concat(F.col("_rep").cast("string"), F.lit("#"), F.col("p_name")).alias(
            "p_name"
        ),
    )
    left = names.select(F.col("pid").alias("left_id"), F.col("p_name").alias("lname"))
    right = names.select(
        F.col("pid").alias("right_id"),
        F.expr("substring(p_name, 1, length(p_name) - 1)").alias("rname"),
    )
    return linkage.blocked_link(
        left, right, "left_id", "right_id", "lname", "rname",
        max_edit_distance=1, prefix_len=3,
    )


def case_sessions(spark, sf_dir: str, k: int) -> DataFrame:
    e = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    e = _replicated(e, k).select(
        "user_id",  # SAME keys: per-user depth grows k x (worst case)
        (F.col("ts") + F.make_interval(secs=F.col("_rep"))).alias("ts"),
        "value",
    )
    return incremental.session_window_agg(
        e,
        "ts",
        "4 hours",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "sum_value"
            ),
        ],
    )


def case_scd2_fold(spark, sf_dir: str, k: int):
    e = t(spark, sf_dir, "events")
    e = _replicated(e, k)
    batch = e.select(
        F.concat(
            F.col("user_id").cast("string"), F.lit("#"), F.col("_rep").cast("string")
        ).alias("subject"),
        F.col("event_type").alias("predicate"),
        F.floor(F.col("value") / 100).cast("int").cast("string").alias("object"),
        F.lit("events").alias("extraction_method"),
        F.lit(1.0).alias("confidence"),
        F.col("ts").alias("extraction_time"),
    )
    # materialized(eager=True) does the heavy V2-V7 work inside the
    # timed fn call; version_range.count() then covers the merge output
    out = vs.materialized(vs.merge_batch(vs.empty_state(spark), batch), eager=True)
    return out.version_range




def case_bloom_semi(spark, sf_dir: str, k: int) -> DataFrame:
    # probe AND build sides both k x (orderkeys offset per replica so
    # the member fraction is scale-invariant): bloom build stays one
    # bitset aggregation, the probe pass stays map-only.  Catches: a
    # bitset that stops broadcasting, probe-side shuffle creep.
    from mlentory_etl_pipeline_spark.operators import pruning

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    li = _replicated(li, k).select(
        (F.col("l_orderkey") + F.col("_rep") * 100000000).alias("l_orderkey"),
        "l_quantity",
    )
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    o = _replicated(o, k).select(
        (F.col("o_orderkey") + F.col("_rep") * 100000000).alias("o_orderkey")
    )
    return pruning.bloom_semi_join(li, "l_orderkey", o, "o_orderkey")


def case_nb_classifier(spark, sf_dir: str, k: int) -> DataFrame:
    # docs k x with word-salted replicas: feature volume grows k x, the
    # model stays a FIXED 4096 buckets.  Catches: weight-table joins
    # that stop broadcasting, bucket skew in the training aggregation.
    from mlentory_etl_pipeline_spark.operators.curation import (
        nb_bootstrap_quality,
    )

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        _salt_words(F.col("text"), F.col("_rep")).alias("text"),
        "n_chars",
    )
    return nb_bootstrap_quality(r, "doc_id", "text", F.col("n_chars") >= 300)


def case_kcore(spark, sf_dir: str, k: int) -> DataFrame:
    # in-plan synthetic graph (the registry query's co-purchase graph
    # thins out at higher sf, which would make the stress trivial):
    # a 2000-node chain fused to a K5 clique, replicated as k DISJOINT
    # copies.  With core k=2 the chain peels one leaf per end per
    # round — the 12 fixed rounds each do real work on every replica.
    # Catches: survivor-set joins degrading, per-round shuffle growth
    # beyond the shrinking edge frontier.
    n_chain = 2000
    base = (
        spark.range(n_chain - 1)
        .select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
        .unionAll(
            spark.createDataFrame(
                [(a, b) for a in range(5) for b in range(5) if a < b],
                "a long, b long",
            ).select(
                (F.col("a") + n_chain).alias("u"),
                (F.col("b") + n_chain).alias("v"),
            )
        )
    )
    edges = _replicated(base, k).select(
        (F.col("u") + F.col("_rep") * 1000000).alias("u"),
        (F.col("v") + F.col("_rep") * 1000000).alias("v"),
    )
    return graph.k_core(edges, k=2, rounds=12)


def case_bpe_train(spark, sf_dir: str, k: int) -> DataFrame:
    # vocabulary k x (replica-fused words): the per-round pair count
    # scales with |vocab|, the argmax stays 1 row, rounds stay fixed.
    # Catches: pair-count skew, per-round state growth.
    from mlentory_etl_pipeline_spark.operators import tokenizer

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    )
    words = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    words = _replicated(words, k).select(
        F.concat(F.col("token"), F.lit("~"), F.col("_rep").cast("string")).alias(
            "token"
        ),
        "n",
    )
    return tokenizer.bpe_train(words, "token", "n", rounds=6)


def case_bootstrap(spark, sf_dir: str, k: int) -> DataFrame:
    # rows k x (keys salted per replica), replica count FIXED at 64:
    # the explode volume grows linearly with data, the shuffle stays
    # 64 partially-aggregated rows.  Catches: the explode leaking into
    # a shuffle, partial aggregation breaking.
    from pyspark.sql import functions as F2

    from mlentory_etl_pipeline_spark.operators import stats

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    ).where("l_orderkey % 10 = 0")  # 10% slice: 10x of it stays tractable
    li = _replicated(li, k)
    key = F2.concat(
        F2.col("l_orderkey").cast("string"), F2.lit("-"),
        F2.col("l_linenumber").cast("string"), F2.lit("-"),
        F2.col("_rep").cast("string"),
    )
    # a value-dependent filter stops count() from column-pruning the
    # md5/weight expressions (an aggregate-only output would otherwise
    # time as a near-no-op)
    return stats.bootstrap_replicas(
        li, key, F2.col("l_quantity"), n_replicas=8
    ).where(F2.col("mean_value") > -999)



def case_lpa(spark, sf_dir: str, k: int) -> DataFrame:
    # k DISJOINT copies of the co-supply graph (node ids offset per
    # replica): communities multiply instead of deepening, each round's
    # message volume scales linearly.  Catches: per-node label fan-out
    # (a hot node collecting the whole graph's labels), unrolled-plan
    # blow-up if the localCheckpoint pin regresses.
    li = t(spark, sf_dir, "lineitem")
    sp = (
        li.where((F.col("l_suppkey") < 150) & (F.col("l_partkey") < 1000))
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sp = _replicated(sp, k).select(
        (F.col("s") + F.col("_rep") * 1000000).alias("s"),
        (F.col("p") + F.col("_rep") * 1000000).alias("p"),
    )
    half = (
        sp.alias("a")
        .join(sp.alias("b"), "p")
        .where(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    return graph.label_propagation(half, iters=4)


def case_pmi(spark, sf_dir: str, k: int) -> DataFrame:
    # replicas word-salt EVERY word with the replica id: the vocabulary
    # multiplies (k x more terms) while per-doc frequent-word counts
    # stay constant — the honest linear axis for a pair self-join that
    # is quadratic in words-per-doc.  Catches: vocab-filter regression
    # (un-filtered pair fan-out), hot-term join skew.
    from mlentory_etl_pipeline_spark.operators.textstats import pmi_top_pairs

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("~"), F.col("_rep").cast("string")),
            ),
            " ",
        ).alias("text"),
    )
    return pmi_top_pairs(
        r, "doc_id", "text", min_doc_freq=20, min_pair_count=10, top_k=50
    )


def case_quantile_norm(spark, sf_dir: str, k: int) -> DataFrame:
    # exact mode's global reference is the DISTRIBUTED rank (range
    # buckets + local row_number + broadcast offsets); 10x rows means
    # 10x rank work and a 10x-deeper per-group percent_rank window.
    # Catches: single-partition-window regression (would go
    # superlinear fast), gidx-join skew on heavy tied scores.
    from mlentory_etl_pipeline_spark.operators.curation import quantile_normalize

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        F.concat(F.col("source"), F.lit("~"), F.col("_rep").cast("string")).alias(
            "source"
        ),
        (F.col("n_chars") + F.col("_rep")).alias("n_chars"),
    )
    return quantile_normalize(r, "source", "n_chars", "doc_id")


def case_chunk_sink(spark, sf_dir: str, k: int) -> DataFrame:
    # S17: 10x lines over 10x subjects -> 10x chunks; the prefix-sum
    # chunk assignment and the per-chunk payload agg must both scale
    # linearly.  Catches: chunk-payload agg skew, prefix-sum
    # regression, per-chunk POST fan-out errors.
    from mlentory_etl_pipeline_spark.sources.connectors import http_chunk_upload

    e = t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    r = _replicated(e, k).select(
        F.concat(
            F.lit("urn:user:"),
            (F.col("user_id") * k + F.col("_rep")).cast("string"),
        ).alias("subject"),
        F.concat(
            F.lit("<l> <p> \""),
            F.floor(F.col("value")).cast("int").cast("string"),
            F.lit("\" ."),
        ).alias("line"),
    )
    return http_chunk_upload(r, batch_id="stress", chunk_size=1000)




def case_cogroup_reconcile(spark, sf_dir: str, k: int) -> DataFrame:
    # disjoint key copies: k-x more keys, same per-key group size —
    # cogroup must scale with the shuffle, not with key count squared
    from mlentory_etl_pipeline_spark.operators.linkage import cogroup_reconcile

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o = _replicated(o, k).select(
        (F.col("o_orderkey") * k + F.col("_rep")).alias("o_orderkey"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("ltot"),
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    li = _replicated(li, k).select(
        (F.col("l_orderkey") * k + F.col("_rep")).alias("o_orderkey"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("_p"),
    )
    r = li.groupBy("o_orderkey").agg(F.sum("_p").alias("rtot"))
    return cogroup_reconcile(o, r, "o_orderkey", "ltot", "rtot")


def case_rank_tests(spark, sf_dir: str, k: int) -> DataFrame:
    # value-salted replicas: distinct quantized values (the shuffle
    # unit of the rank machinery) grow ~kx, so the distributed prefix
    # sum's range partitions deepen honestly -- linear unless the
    # triangular offset join or the local windows leak
    from mlentory_etl_pipeline_spark.operators import stats

    e = t(spark, sf_dir, "events").select("event_type", "value")
    r = _replicated(e, k).select(
        "event_type",
        (F.col("value") + F.col("_rep").cast("double") / 1000).alias("value"),
    )
    return stats.mann_whitney_u(
        r, F.col("event_type"), F.col("value"), "view", "click"
    )


def case_ks_drift(spark, sf_dir: str, k: int) -> DataFrame:
    # same axis as case_rank_tests for the two-ECDF sup-distance
    from mlentory_etl_pipeline_spark.operators import stats

    e = t(spark, sf_dir, "events").select("event_type", "value")
    r = _replicated(e, k).select(
        "event_type",
        (F.col("value") + F.col("_rep").cast("double") / 1000).alias("value"),
    )
    return stats.ks_two_sample(
        r, F.col("event_type"), F.col("value"), "view", "click"
    )


def case_gini(spark, sf_dir: str, k: int) -> DataFrame:
    # same groups kx deeper: the harshest axis for the per-group sort
    # window (n log n per group) -- sub-quadratic unless the rank
    # window degenerates
    from mlentory_etl_pipeline_spark.operators import stats

    o = t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    r = _replicated(o, k).select(
        "o_orderpriority",
        (F.col("o_totalprice") + F.col("_rep").cast("double") / 100).alias(
            "o_totalprice"
        ),
    )
    return stats.gini_by_group(
        r, F.col("o_orderpriority"), F.col("o_totalprice"), scale=100
    )


def case_acf(spark, sf_dir: str, k: int) -> DataFrame:
    # kx DISJOINT groups at constant day-depth: the dense grid and the
    # ordered lead window are per-group, so groups are the honest
    # linear axis
    from mlentory_etl_pipeline_spark.operators import stats

    e = t(spark, sf_dir, "events").select("user_id", "ts")
    r = _replicated(e, k).select(
        (F.pmod(F.col("user_id"), 50) * k + F.col("_rep")).alias("g"), "ts"
    )
    return stats.acf_daily(r, F.col("g"), F.col("ts"), max_lag=7)


def case_isotonic(spark, sf_dir: str, k: int) -> DataFrame:
    # kx raw rows into the SAME bounded bucket grid: the O(B^2) fit is
    # constant, the scan-side aggregation is the linear axis
    from mlentory_etl_pipeline_spark.operators import stats

    e = t(spark, sf_dir, "events").select("user_id", "value", "event_type")
    r = _replicated(e, k)
    return stats.isotonic_rate(
        r,
        F.col("user_id") % 5,
        F.floor(F.col("value") / 50).cast("long"),
        F.col("event_type") == "purchase",
    )


def case_rfm(spark, sf_dir: str, k: int) -> DataFrame:
    # kx disjoint customers: per-customer aggregation, percentile
    # boundaries, and the segment rollup all scale in |customers|
    from mlentory_etl_pipeline_spark.operators.temporal import rfm_segments

    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    r = _replicated(o, k).select(
        (F.col("o_custkey") * k + F.col("_rep")).alias("o_custkey"),
        "o_orderdate",
        "o_totalprice",
    )
    return rfm_segments(
        r, F.col("o_custkey"), F.col("o_orderdate"), F.col("o_totalprice")
    )


def case_markov(spark, sf_dir: str, k: int) -> DataFrame:
    # kx deeper per-user sequences (ts jittered per replica): the
    # per-user ordered lag window deepens -- the sessions-style harsh
    # axis; the pair table stays |states|^2
    from mlentory_etl_pipeline_spark.operators.temporal import (
        markov_transitions,
    )

    e = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    r = _replicated(e, k).select(
        "user_id",
        (F.col("ts") + F.make_interval(secs=F.col("_rep") * 7)).alias("ts"),
        "event_type",
        (F.col("event_id") * k + F.col("_rep")).alias("event_id"),
    )
    return markov_transitions(
        r, F.col("user_id"), F.col("ts"), F.col("event_type"), F.col("event_id")
    )


def case_assoc_rules(spark, sf_dir: str, k: int) -> DataFrame:
    # kx baskets over the SAME item catalog: pair fan-out stays bounded
    # by items-per-basket, the pair table stays |catalog|^2 -- linear
    # growth in the self-join input is the honest shape
    from mlentory_etl_pipeline_spark.operators.graph import association_rules

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    r = _replicated(li, k).select(
        (F.col("l_orderkey") * k + F.col("_rep")).alias("l_orderkey"),
        "l_suppkey",
    )
    return association_rules(r, "l_orderkey", "l_suppkey", min_pair_count=3)


def case_training_labels(spark, sf_dir: str, k: int) -> DataFrame:
    # kx disjoint entities on the SAME calendar: the dense grid grows
    # linearly in |entities|, the per-entity window deepens not at all
    from mlentory_etl_pipeline_spark.operators.temporal import (
        build_training_labels,
    )

    e = t(spark, sf_dir, "events").select("user_id", "ts")
    r = _replicated(e, k).select(
        (F.col("user_id") * k + F.col("_rep")).alias("user_id"), "ts"
    )
    return build_training_labels(r, F.col("user_id"), F.col("ts"))


def case_rake(spark, sf_dir: str, k: int) -> DataFrame:
    # kx documents (ids offset per replica): per-doc work is constant,
    # so the whole pipeline scales in |docs|
    from mlentory_etl_pipeline_spark.operators.textstats import rake_keywords

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"), "text"
    )
    return rake_keywords(
        r, "doc_id", "text",
        stopwords=["a", "the", "of", "and", "to", "in", "is"], top_k=3,
    )


def case_link_prediction(spark, sf_dir: str, k: int) -> DataFrame:
    # kx DISJOINT graph copies (node ids offset): wedge fan-out stays
    # bounded by the per-copy degree cap, total work linear in copies
    from mlentory_etl_pipeline_spark.operators.graph import (
        jaccard_link_prediction,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    items = li.distinct()
    half = (
        items.alias("a")
        .join(items.alias("b"), "l_orderkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("_c"))
        # sf0.1 co-order threshold: >= 6 gives degrees 11-74 over 1000
        # nodes (the sf0.01 registry query's 28 would leave 0 edges)
        .where(F.col("_c") >= 6)
        .select("u", "v")
    )
    edges = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    r = _replicated(edges, k).select(
        (F.col("u") * k + F.col("_rep")).alias("u"),
        (F.col("v") * k + F.col("_rep")).alias("v"),
    )
    return jaccard_link_prediction(r, max_degree=60, min_common=1, top_k=100)


def case_als(spark, sf_dir: str, k: int) -> DataFrame:
    # kx DISJOINT rating matrices (user and item ids offset per
    # replica): each iteration's two rating-keyed aggregations scale
    # linearly in |ratings|; factor tables grow in |users|+|items|
    from mlentory_etl_pipeline_spark.operators.factorization import als_rank1

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("rt"))
    )
    r = _replicated(ratings, k).select(
        (F.col("o_custkey") * k + F.col("_rep")).alias("o_custkey"),
        (F.col("l_suppkey") * k + F.col("_rep")).alias("l_suppkey"),
        "rt",
    )
    return als_rank1(r, "o_custkey", "l_suppkey", "rt", iters=4)


def case_edit_distance(spark, sf_dir: str, k: int) -> DataFrame:
    # distinct part names k x with the replica id FUSED INTO the name
    # (prefix), so q-gram blocks multiply instead of deepening and the
    # true answer is k disjoint copies.  Catches: gram-key fan-out,
    # bag-count aggregation skew.
    from mlentory_etl_pipeline_spark.operators.linkage import (
        edit_distance_join,
    )

    names = (
        t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("nid"))
    )
    r = _replicated(names, k).select(
        (F.col("nid") * k + F.col("_rep")).alias("nid"),
        F.concat(F.col("_rep").cast("string"), F.lit("#"), F.col("p_name")).alias(
            "p_name"
        ),
    )
    typos = r.select(
        (F.col("nid") + 100000000).alias("tid"),
        F.concat(F.col("p_name"), F.lit("q")).alias("tname"),
    )
    return edit_distance_join(
        typos, r, ("tid", "nid"), ("tname", "p_name"), k=2, q=2
    )


def case_containment(spark, sf_dir: str, k: int) -> DataFrame:
    # docs k x word-salted (the minhash scheme): replica shingle spaces
    # are ~disjoint, so true containment pairs stay within replicas and
    # grow linearly.  Catches: A-prefix x B-full index fan-out.
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        _salt_words(F.col("text"), F.col("_rep")).alias("text"),
    )
    return dedup.containment_join(r, "doc_id", "text", n=3, threshold=0.5)


def case_winnowing(spark, sf_dir: str, k: int) -> DataFrame:
    # map-only fingerprint selection + one distinct: should be ~linear;
    # catches HOF-pipeline regressions (re-hash per window) showing up
    # as superlinear wall time.
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        _salt_words(F.col("text"), F.col("_rep")).alias("text"),
    )
    return dedup.winnowing_fingerprints(r, "doc_id", "text", k=8, w=8)


def case_multinomial_nb(spark, sf_dir: str, k: int) -> DataFrame:
    # docs k x word-salted: VOCAB grows ~k x (unlike the hashed-feature
    # nb_classifier case where the model is fixed-width) — stresses the
    # sparse (class, token) model join and the vocab semi-join.
    from mlentory_etl_pipeline_spark.operators.classify import nb_confusion

    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    r = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        "lang",
        _salt_words(F.col("text"), F.col("_rep")).alias("text"),
    )
    return nb_confusion(r, "lang", "doc_id", "text")




def case_dawid_skene(spark, sf_dir: str, k: int) -> DataFrame:
    # disjoint item copies (item ids offset per replica): per EM round
    # the item-keyed join/agg and the broadcast J x L x L model must
    # scale linearly in annotations
    from mlentory_etl_pipeline_spark.operators import classify

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    d = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"), "lang"
    )
    ann = d.select(
        "doc_id",
        "lang",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("annotator"),
    ).select(
        "doc_id",
        "annotator",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("#"),
                            F.col("annotator").cast("string"),
                        )
                    ), 1, 15,
                ), 16, 10,
            ).cast("long") % 100 < 25,
            F.lit("xx"),
        ).otherwise(F.col("lang")).alias("label"),
    )
    return classify.dawid_skene_hard(ann, "doc_id", "annotator", "label")


def case_unigram_lm(spark, sf_dir: str, k: int) -> DataFrame:
    # replica-salted words (distinct-word vocab multiplies by k, word
    # frequency constant): seed counts, edge lists, and the map-side
    # Viterbi folds must all scale with |distinct words|
    from mlentory_etl_pipeline_spark.operators import tokenizer

    d = t(spark, sf_dir, "documents").select("text")
    words = (
        _replicated(d, k)
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
            F.col("_rep"),
        )
        .select(
            F.concat(
                F.col("w"),
                F.substring(F.lit("abcdefghijklmnopqrst"), F.col("_rep") + 1, 1),
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tokenizer.unigram_lm_round(words, "word", "n", min_piece_count=100)


def case_angular_pairs(spark, sf_dir: str, k: int) -> DataFrame:
    # disjoint directional copies via per-replica dimension ROTATION
    # (circular shift by _rep): a permutation preserves every within-
    # replica angle exactly — so the planted 2x-scaled near-dups (the
    # dbscan construction) replicate k-fold — while cross-replica
    # directions decorrelate; the angle-bucket equi-join must not
    # degrade toward all-pairs. (A first attempt shifted dim 0 by a
    # replica offset instead, which made every vector in a replica
    # nearly parallel — an honestly quadratic OUTPUT, not a plan test.)
    from mlentory_etl_pipeline_spark.operators import similarity

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.unionByName(
        e.where("vec_id < 120").select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x.cast("double") * 2.0).cast("float"),
            ).alias("embedding"),
        )
    )
    rot = _replicated(planted, k).select(
        (F.col("vec_id") * k + F.col("_rep")).alias("vec_id"),
        F.concat(
            F.slice(
                "embedding", F.col("_rep") + 1, F.lit(64) - F.col("_rep")
            ),
            F.slice("embedding", F.lit(1), F.col("_rep")),
        ).alias("embedding"),
    )
    return similarity.cosine_pairs_angular_blocked(
        rot, threshold=0.999, round_dp=4, dim=64
    )




def case_set_cover(spark, sf_dir: str, k: int) -> DataFrame:
    # replica-salted shingles (coverage space multiplies by k, per-doc
    # gain structure constant): each greedy round's anti-join + count
    # must scale linearly in the pair table
    from mlentory_etl_pipeline_spark.operators import curation, dedup

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _replicated(d, k).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" rep"),
            F.col("_rep").cast("string"),
        ).alias("text"),
    )
    pairs = dedup.doc_shingles(d, "doc_id", "text", n=3).select(
        "doc_id", F.col("shingle").alias("token")
    )
    return curation.greedy_set_cover(pairs, "doc_id", "token", k=8)


def case_maxsim(spark, sf_dir: str, k: int) -> DataFrame:
    # corpus token table k-fold (disjoint doc ids, dim-rotated vectors
    # — the angular_pairs construction); the broadcast query side stays
    # FIXED, so the BNLJ and both aggregations must scale linearly
    from pyspark.sql import Window as W

    from mlentory_etl_pipeline_spark.operators import similarity

    e = t(spark, sf_dir, "embeddings")
    w = W.partitionBy("label").orderBy("vec_id")
    qt = (
        e.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 2)
        .select(
            F.col("label").alias("q"),
            F.col("vec_id").alias("qt_id"),
            "embedding",
        )
    )
    dt = _replicated(
        e.select("vec_id", "embedding"), k
    ).select(
        ((F.col("vec_id") / 10).cast("long") * k + F.col("_rep")).alias(
            "doc"
        ),
        F.concat(
            F.slice("embedding", F.col("_rep") + 1,
                    F.lit(64) - F.col("_rep")),
            F.slice("embedding", F.lit(1), F.col("_rep")),
        ).alias("embedding"),
    )
    return similarity.late_interaction_maxsim(qt, dt, k=5)


def case_gram_pca(spark, sf_dir: str, k: int) -> DataFrame:
    # the PCA Gram pass (round-7's quantized power-iteration input):
    # embeddings k-fold with per-replica dim rotation; the mapInPandas
    # integer partial aggregation is O(N*d^2) with a d(d+1)/2-row
    # shuffle per Arrow batch, so wall time must scale ~linearly in N
    # (the driver-side 30x4 iteration is O(d^3) and N-free)
    from mlentory_etl_pipeline_spark.operators.similarity import (
        _gram_exact_int,
    )

    e = t(spark, sf_dir, "embeddings")
    rep = _replicated(e.select("vec_id", "embedding"), k).select(
        F.concat(
            F.slice("embedding", F.col("_rep") % 8 + 1,
                    F.lit(64) - F.col("_rep") % 8),
            F.slice("embedding", F.lit(1), F.col("_rep") % 8),
        ).alias("embedding"),
    )
    return _gram_exact_int(rep, "embedding", n_dims=8, scale=1_000_000)


CASES = {
    "minhash": case_minhash,
    "span_removal": case_span_removal,
    "semdedup": case_semdedup,
    "triangles": case_triangles,
    "linkage": case_linkage,
    "sessions": case_sessions,
    "scd2_fold": case_scd2_fold,
    "bloom_semi": case_bloom_semi,
    "nb_classifier": case_nb_classifier,
    "kcore": case_kcore,
    "bpe_train": case_bpe_train,
    "bootstrap": case_bootstrap,
    "lpa": case_lpa,
    "pmi": case_pmi,
    "quantile_norm": case_quantile_norm,
    "chunk_sink": case_chunk_sink,
    "cogroup_reconcile": case_cogroup_reconcile,
    "rank_tests": case_rank_tests,
    "ks_drift": case_ks_drift,
    "gini": case_gini,
    "acf": case_acf,
    "isotonic": case_isotonic,
    "rfm": case_rfm,
    "markov": case_markov,
    "assoc_rules": case_assoc_rules,
    "training_labels": case_training_labels,
    "rake": case_rake,
    "link_prediction": case_link_prediction,
    "als": case_als,
    "edit_distance": case_edit_distance,
    "containment": case_containment,
    "winnowing": case_winnowing,
    "multinomial_nb": case_multinomial_nb,
    "dawid_skene": case_dawid_skene,
    "unigram_lm": case_unigram_lm,
    "angular_pairs": case_angular_pairs,
    "set_cover": case_set_cover,
    "maxsim": case_maxsim,
    "gram_pca": case_gram_pca,
}


def _timed_count(fn, spark, sf_dir, k):
    # steady-state: second run of the identical plan (bench.py method)
    fn(spark, sf_dir, k).count()
    t0 = time.perf_counter()
    n = fn(spark, sf_dir, k).count()
    return round(time.perf_counter() - t0, 3), n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--only", help="comma-separated case names")
    args = ap.parse_args()
    k = args.k
    bound = round(k ** 1.5, 1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("mlentory-stress")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.only.split(",") if args.only else list(CASES)
    cases: dict[str, dict] = {}
    worst = 0.0
    for name in names:
        fn = CASES[name]
        t1, n1 = _timed_count(fn, spark, sf_dir, 1)
        tk, nk = _timed_count(fn, spark, sf_dir, k)
        ratio = round(tk / max(t1, T1_FLOOR), 1)
        worst = max(worst, ratio)
        cases[name] = {
            "t1": t1, "tk": tk, "ratio": ratio,
            "rows_1x": n1, "rows_kx": nk, "ok": ratio <= bound,
        }
        print(
            f"  stress {name}: {t1:.2f}s -> {tk:.2f}s at {k}x "
            f"(ratio {ratio}, bound {bound}, rows {n1}->{nk})",
            file=sys.stderr, flush=True,
        )

    ok = all(c["ok"] for c in cases.values())
    print(json.dumps({
        "metric": "stress_ratio_max", "value": worst, "unit": "x",
        "k": k, "bound": bound, "cases": cases, "pass": ok,
    }))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
