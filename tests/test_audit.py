"""The shared pieces of ``scripts/audit.py``: the AQE-aware plan walker
and what the shuffle and stage audits read from it, and the two-pass
invariance diff."""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
import audit  # noqa: E402


def _shuffle_and_broadcast_join(spark):
    facts = spark.range(4000).select(
        F.col("id"), (F.col("id") % 97).alias("k"), (F.col("id") % 7).alias("d")
    )
    other = spark.range(4000).select(
        (F.col("id") % 89).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(7).select(F.col("id").alias("d"), F.lit("x").alias("name"))
    return (
        facts.join(other.hint("merge"), "k")
        .join(F.broadcast(dims), "d")
        .groupBy("name")
        .agg(F.sum("v").alias("v"))
    )


def test_walker_feeds_shuffle_and_stage_audits(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = _shuffle_and_broadcast_join(spark)
    t0 = time.perf_counter()
    assert audit.execute(df) == 1
    wall_ms = (time.perf_counter() - t0) * 1000

    ids = [int(node.id()) for node, _ in audit.walk(df)]
    assert len(ids) == len(set(ids))
    kinds = {node.nodeName() for node, _ in audit.walk(df)}
    # the walker reached inside the AQE wrapper and its query stages
    assert "AdaptiveSparkPlan" in kinds
    assert any("QueryStage" in k for k in kinds)

    t = audit.shuffle_totals(df)
    assert t["n_exchanges"] >= 1 and t["n_broadcasts"] >= 1
    assert t["shuffle_bytes"] > 0 and t["shuffle_records"] > 0
    assert t["broadcast_bytes"] > 0
    assert t["spill_bytes"] == 0

    rows, dropped = audit.timing_rows(df)
    assert rows and dropped == []
    assert {"Exchange", "BroadcastExchange"} <= {r["node"] for r in rows}
    cores = spark.sparkContext.defaultParallelism
    for r in rows:
        assert r["ms"]
        for v in r["ms"].values():
            # summed across tasks, a millisecond timer stays within
            # wall time x cores; the nanosecond shuffleWriteTime would not
            assert isinstance(v, int) and 0 <= v <= wall_ms * cores + 1000
    buckets = audit.classify(rows)
    assert sum(buckets.values()) == sum(
        v for r in rows for v in r["ms"].values()
    )


def test_invariance_diff():
    a = {
        "same": {"rows": 3, "hash": "h1"},
        "moved": {"rows": 3, "hash": "h2"},
        "broken": {"error": "AnalysisException: x"},
    }
    b = {
        "same": {"rows": 3, "hash": "h1"},
        "moved": {"rows": 3, "hash": "h3"},
        "broken": {"error": "AnalysisException: x"},
    }
    assert audit.diverged(["same", "moved", "broken"], a, b) == [
        {"query": "moved", "A": a["moved"], "B": b["moved"]}
    ]
    # an error on one side only is a divergence
    assert audit.diverged(["same"], a, {"same": {"error": "E: y"}}) == [
        {"query": "same", "A": a["same"], "B": {"error": "E: y"}}
    ]


def test_global_window_allowlist_names_registered_queries():
    # an exemption for a deleted or renamed query would silently outlive it
    from mlentory_etl_pipeline_spark.plans.queries import REGISTRY

    stale = sorted(set(audit.GLOBAL_WINDOW_ALLOWED) - set(REGISTRY))
    assert stale == [], f"allowlisted but not registered: {stale}"
