"""Plan-shape helpers shared by the operators: lineage capping for
iterative folds (:func:`lazy_cap`) and input spreading before heavy
per-row map work (:func:`spread`).

:func:`lazy_cap` is the shared stage-boundary cap for fixed-iteration
folds (ALS, EM, pagerank, Lloyd-style rounds, funnel stages): a lazy
``localCheckpoint`` that truncates the logical plan so fold plans stay
O(1) per round — but planned with AQE and auto-broadcast OFF (restored
immediately after), because an adaptive plan's ``toRdd`` — and any
broadcast exchange's ``doExecute`` — materializes its query stages
EAGERLY. A plain ``.localCheckpoint(eager=False)`` therefore *executes
the fold's shuffles at constructor time*, one driver-coordinated mini
job per cap (guide §5 "the driver should do almost no data work"):
r11 measured the rank-1 ALS fold at 6.6 s with plain lazy caps (9 ×
~0.64 s of eager stage materialization inside ``localCheckpoint``)
vs 5.4-5.6 s with job-free caps, identical output — and constructors
go back to running zero jobs, the registry contract.

The trade (documented since r10 on curation's funnel, now shared):
joins INSIDE a capped segment are planned without AQE/broadcast, so a
small side that would have broadcast runs as a shuffle join. For the
iterative folds this guards, the segment bodies are agg→rejoin rounds
keyed on the fold key — already shuffle-bound — and the outer query
plan (planned under normal conf) keeps AQE and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mlentory_etl_pipeline_spark.session import scoped_conf

# Planned with AQE and auto-broadcast off (see module docstring).
_CAP_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def lazy_cap(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage with a lazy localCheckpoint WITHOUT
    running any job at plan-build time (see module docstring)."""
    with scoped_conf(df.sparkSession, _CAP_CONF):
        return df.localCheckpoint(eager=False)


#: Bytes of plan-stats input per spread task. The r11 width sweep on
#: the heavy-map headliners (minhash shingling, ANN scoring, n-gram
#: decontaminate, curation) measured widths {2,4,6,8,16,32} at
#: local[32]/sf0.1: 4-6 tasks beat 32 by ~15% (5.2/4.9/4.8 s vs 5.7 s
#: bucket total) — per-stage fan-out should follow data size, not core
#: count (guide §2.2/§2.6; 32 tiny tasks cost more scheduling than the
#: extra threads buy). 128 KiB/task puts the sf0.1 corpora (595 KB
#: documents → 5, 799 KB embeddings → 7) in that sweet spot while any
#: real corpus still reaches full parallelism (a 30 MB side input →
#: 240 ≫ cores).
#:
#: Two caveats on the size it divides (VERDICT r11 №5): analyzed
#: ``sizeInBytes`` is the COMPRESSED on-disk size of file-backed
#: inputs, so for text it understates the decompressed bytes and with
#: them the fan-out; and inputs whose stats are not file-backed (RDD- or
#: Python-sourced relations) report ``spark.sql.defaultSizeInBytes``,
#: which clamps the width to ``defaultParallelism``.
_SPREAD_TARGET_BYTES = 128 * 1024


def spread(df: DataFrame) -> DataFrame:
    """Spread a skinny input (one small parquet file → 1-2 partitions)
    before per-row-heavy map work: shingling fans out ~wordcount
    shingles per doc through interpreted HOF lambdas, so a 1-partition
    scan would starve the executors (measured 2.6× on the minhash
    pipeline at sf0.1/local[32]). The width is DATA-SIZED, not
    core-count-sized: ceil(plan-stats bytes / 128 KiB) clamped to
    [1, defaultParallelism] (r11: core-count-wide fan-out measured
    ~15% slower — see ``_SPREAD_TARGET_BYTES``). On a real corpus
    (thousands of input splits) the partition-count guard is false and
    no shuffle is added."""
    limit = df.sparkSession.sparkContext.defaultParallelism
    # Width from ANALYZED-plan stats (~1 ms driver-side — no optimizer
    # run, no physical planning): r11 measured the former
    # ``_jdf.rdd().getNumPartitions()`` probe at ~54 ms per fresh plan
    # (it compiles the physical plan and builds the RDD, all thrown
    # away once we wrap the input in a repartition), across ~18 guarded
    # constructor paths. The partition-count probe is now paid ONLY on
    # the width >= limit branch, i.e. for inputs big enough that they
    # may already be split (the 100 TB corpus case, where it returns
    # without adding a shuffle — same contract as before).
    size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    width = max(1, min(limit, -(-size // _SPREAD_TARGET_BYTES)))
    if width >= limit:
        if df._jdf.rdd().getNumPartitions() >= limit:
            return df
        return df.repartition(limit)
    if width == 1:
        # Below one target-size task of data the HOF fan-out is trivial;
        # an exchange would cost more than it spreads (sf0.001 gates).
        return df
    return df.repartition(width)
