"""Stateful streaming: applyInPandasWithState running aggregates and
foreachBatch→SCD2 merge, both asserted for stream/batch parity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators import versioned_store as vs
from mlentory_etl_pipeline_spark.streaming.stateful import (
    running_entity_stats,
    stream_into_store,
)

SF = "/root/testdata/sf0.001"


def test_running_stats_stream_batch_parity(spark, tmp_path):
    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "ts", "value")
        .where("user_id < 10")
    )
    src = str(tmp_path / "src")
    # several files → several micro-batches with maxFilesPerTrigger=1
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_entity_stats(stream)
        .writeStream.format("memory")
        .queryName("running_stats_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None

    out = spark.table("running_stats_test")
    # last emitted update per key == the full-history aggregate
    final = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("m"))
        .select("user_id", "m.n_events", "m.total_value")
        .collect()
    }
    expected = {
        r.user_id: (r.n, round(r.total, 6))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == expected


def _events_as_triples(events):
    return events.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("subject"),
        F.col("event_type").alias("predicate"),
        F.col("value").cast("string").alias("object"),
        F.lit("stream").alias("extraction_method"),
        F.lit(0.9).alias("confidence"),
        F.col("ts").alias("extraction_time"),
    )


def test_foreach_batch_merge_parity(spark, tmp_path):
    from mlentory_etl_pipeline_spark.sources.tpch import load_table

    # load_table normalizes the parquet ns-timestamps to TimestampType —
    # merge_batch's contract requires extraction_time: timestamp
    events = (
        load_table(spark, SF, "events")
        .where("user_id < 6")
        .orderBy("ts")
        .limit(200)
    )
    triples = _events_as_triples(events).cache()

    # batch path: one merge of everything
    batch_state = vs.merge_batch(vs.empty_state(spark), triples)
    batch_current = {
        (r.subject, r.predicate, r.object)
        for r in vs.current_graph(batch_state).collect()
    }

    # stream path: the same rows drained through foreachBatch
    src = str(tmp_path / "stream-src")
    triples.coalesce(1).write.parquet(src)
    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    stream = spark.readStream.schema(triples.schema).parquet(src)
    q = stream_into_store(stream, store, str(tmp_path / "stream-ckpt"))
    q.awaitTermination(120)

    stream_state = store.state()
    stream_current = {
        (r.subject, r.predicate, r.object)
        for r in vs.current_graph(stream_state).collect()
    }
    assert stream_current == batch_current
    assert (
        stream_state.triplet.count() == batch_state.triplet.count()
    )
    # replaying the same data is a no-op on the triple set (idempotent
    # content-hash merge) — version ranges may advance, triples don't
    store.load_batch(triples)
    assert store.state().triplet.count() == batch_state.triplet.count()


def test_rule_compile_errors(spark):
    import pytest

    from mlentory_etl_pipeline_spark.operators.rules import Rule, apply_rules

    df = spark.range(3).select(F.col("id").alias("x"))
    with pytest.raises(ValueError, match="unknown transformation function"):
        apply_rules(df, [Rule("y", "nope", {})])
    with pytest.raises(ValueError, match="missing param"):
        apply_rules(df, [Rule("y", "build_link", {"prefix": "p"})])
    rows = apply_rules(
        df, [Rule("y", "build_link", {"prefix": "p/", "source": "x"})]
    ).collect()
    assert rows[0].y == "p/0"


def test_sessionize_with_timeout_both_close_paths(spark, tmp_path):
    """A key whose first session closes IN-STREAM (gap detected by a
    later event) and whose last session closes only via the EVENT-TIME
    TIMEOUT (no further events — the sentinel advances the watermark)."""
    import datetime

    from pyspark.sql import functions as F

    from mlentory_etl_pipeline_spark.streaming.stateful import (
        sessionize_with_timeout,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    batch1 = [(1, ts(0), 1.0), (1, ts(10), 2.0)]
    # 6h later: closes session 1 in-stream, opens session 2
    batch2 = [(1, ts(370), 4.0)]
    sentinel1 = [(-1, ts(60 * 24 * 30), 0.0)]
    sentinel2 = [(-1, ts(60 * 24 * 60), 0.0)]
    land = str(tmp_path / "land")
    for rows in (batch1, batch2, sentinel1, sentinel2):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(land)
    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q = (
        sessionize_with_timeout(stream, "4 hours")
        .writeStream.format("memory")
        .queryName("sess_paths")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(
        (
            (r.user_id, r.session_start, r.session_end, r.n_events, r.total_cents)
            for r in spark.table("sess_paths").where("user_id >= 0").collect()
        )
    )
    assert rows == [
        (1, ts(0), ts(10), 2, 300),     # closed in-stream by batch2's event
        (1, ts(370), ts(370), 1, 400),  # closed by the event-time timeout
    ]


def test_sessionize_microbatch_boundaries_are_invisible(spark, tmp_path):
    """Adversarial micro-batch-boundary check (round-5 VERDICT №1): the
    drained session set must be BIT-IDENTICAL whether the same
    time-ordered landing files replay as one micro-batch per file
    (maxFilesPerTrigger=1 — every slice boundary becomes a state
    handoff + possible timer firing) or all at once — and both must
    equal the batch lag/gap/cumsum sessionization. Any batch-boundary
    sensitivity in the fold or the timeout path shows up as a diff."""
    import os

    from pyspark.sql import functions as F

    from mlentory_etl_pipeline_spark.streaming.stateful import (
        sessionize_with_timeout,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "value")
    )
    land = str(tmp_path / "land")
    qkey = F.year("ts") * 10 + F.quarter("ts")
    rows = e.groupBy(qkey.alias("_q")).agg(F.max("ts").alias("_mx")).collect()
    for k in sorted(r._q for r in rows):
        e.where(qkey == k).coalesce(1).write.mode("append").parquet(land)
    mx = max(r._mx for r in rows)
    tstype = e.schema["ts"].dataType.simpleString()
    for days in (30, 60):
        spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            (F.lit(mx) + F.expr(f"INTERVAL {days} DAY")).cast(tstype).alias("ts"),
            F.lit(0.0).alias("value"),
        ).coalesce(1).write.mode("append").parquet(land)

    def drain(tag, max_files):
        reader = spark.readStream.schema(e.schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        q = (
            sessionize_with_timeout(reader.parquet(land), "4 hours")
            .writeStream.format("memory")
            .queryName(f"sess_bnd_{tag}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events, r.total_cents)
            for r in spark.table(f"sess_bnd_{tag}").where("user_id >= 0").collect()
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        per_file = drain("one", 1)
        all_at_once = drain("all", None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert per_file == all_at_once

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    batch = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_cents)
        for r in e.selectExpr(
            "user_id", "ts", "CAST(FLOOR(value * 100) AS BIGINT) AS cents"
        )
        .withColumn(
            "brk",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts")
                    > F.lag("ts").over(w) + F.expr("INTERVAL 4 HOURS")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("brk").over(cum))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        .collect()
    )
    assert per_file == batch


def test_sessionize_one_sentinel_final_empty_batch_fires_timers(spark, tmp_path):
    """The registry drain recipe relies on a specific engine behavior:
    after the last file-backed micro-batch, availableNow runs one
    FINAL NO-DATA batch whenever the end-of-batch watermark advanced,
    and event-time timers fire there. So ONE far-future sentinel
    suffices (r5 shipped two — the second existed only to BE the
    timer-firing batch). This test pins that behavior: a one-sentinel
    drain, under both per-file and all-at-once batching, must equal
    batch sessionization EXACTLY — if a Spark upgrade stops running
    the final empty batch, every session whose last event + gap
    exceeds the corpus max timestamp goes missing here (and in the
    oracle gate).

    Guard (measured, r6): do NOT filter the sentinel between
    withWatermark and the stateful groupBy — Catalyst pushes the
    filter below the EventTimeWatermark node and the sentinel stops
    advancing the watermark; filter OUTPUT rows instead."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mlentory_etl_pipeline_spark.streaming.stateful import (
        sessionize_with_timeout,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "value")
    )
    land = str(tmp_path / "land1s")
    qkey = F.year("ts") * 10 + F.quarter("ts")
    rows = e.groupBy(qkey.alias("_q")).agg(F.max("ts").alias("_mx")).collect()
    for k in sorted(r._q for r in rows):
        e.where(qkey == k).coalesce(1).write.mode("append").parquet(land)
    mx = max(r._mx for r in rows)
    tstype = e.schema["ts"].dataType.simpleString()
    # exactly ONE sentinel
    spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        (F.lit(mx) + F.expr("INTERVAL 30 DAY")).cast(tstype).alias("ts"),
        F.lit(0.0).alias("value"),
    ).coalesce(1).write.mode("append").parquet(land)

    def drain(tag, max_files):
        reader = spark.readStream.schema(e.schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        q = (
            sessionize_with_timeout(reader.parquet(land), "4 hours")
            .writeStream.format("memory")
            .queryName(f"sess_1s_{tag}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt1s_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "drain did not complete"
        return sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events, r.total_cents)
            for r in spark.table(f"sess_1s_{tag}").where("user_id >= 0").collect()
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        per_file = drain("one", 1)
        all_at_once = drain("all", None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert per_file == all_at_once

    w = Window.partitionBy("user_id").orderBy("ts")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    batch = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_cents)
        for r in e.selectExpr(
            "user_id", "ts", "CAST(FLOOR(value * 100) AS BIGINT) AS cents"
        )
        .withColumn(
            "brk",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts")
                    > F.lag("ts").over(w) + F.expr("INTERVAL 4 HOURS")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("brk").over(cum))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        .collect()
    )
    assert per_file == batch
