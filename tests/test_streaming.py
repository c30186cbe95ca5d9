"""Structured Streaming parity: the tumbling-window aggregation must
produce identical results via the batch path and a real streaming run
(memory sink, processing-time trigger)."""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.streaming import incremental


def test_streaming_batch_parity(spark, tmp_path):
    rows = [
        (i, dt.datetime(2024, 1, 1, hour, i % 60), "click" if i % 2 else "view", float(i))
        for i, hour in ((i, (i * 7) % 24) for i in range(500))
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    src = str(tmp_path / "stream_src")
    df.coalesce(2).write.parquet(src)

    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    ]
    batch_out = incremental.tumbling_window_agg(
        spark.read.parquet(src), "ts", "1 hour", ["event_type"], aggs
    )

    stream = spark.readStream.schema(df.schema).parquet(src)
    stream_agg = incremental.tumbling_window_agg(
        stream, "ts", "1 hour", ["event_type"], aggs, watermark_delay="2 hours"
    )
    q = (
        stream_agg.writeStream.format("memory")
        .queryName("win_parity")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_parity").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch_out.collect()
    }
    assert got == want


def test_streaming_session_window(spark, tmp_path):
    """Session windows in a real streaming run must reproduce the batch
    result exactly (complete output mode — session-window aggregations
    reject update mode)."""
    rows = [
        # user 1: two sessions (gap 30 min); user 2: one session.
        (1, dt.datetime(2024, 1, 1, 10, 0), 1.0),
        (1, dt.datetime(2024, 1, 1, 10, 10), 2.0),
        (1, dt.datetime(2024, 1, 1, 11, 0), 4.0),
        (2, dt.datetime(2024, 1, 1, 10, 5), 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "sess_src")
    df.write.parquet(src)

    aggs = [F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")]
    batch_out = incremental.session_window_agg(
        spark.read.parquet(src), "ts", "30 minutes", ["user_id"], aggs
    )
    want = {tuple(r) for r in batch_out.collect()}
    assert len(want) == 3  # sanity: sessionization actually split

    stream = spark.readStream.schema(df.schema).parquet(src)
    stream_agg = incremental.session_window_agg(
        stream, "ts", "30 minutes", ["user_id"], aggs, watermark_delay="1 hour"
    )
    q = (
        stream_agg.writeStream.format("memory")
        .queryName("sess_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("sess_complete").collect()}
    assert want == got


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks joined to views of the
    same user within a 10-minute lookback must equal the batch interval
    join. Both sides carry watermarks so the view-side state store is
    bounded by the time bound — the streaming analogue of range_join."""
    clicks = [(1, 10, dt.datetime(2024, 1, 1, 10, 15)), (2, 11, dt.datetime(2024, 1, 1, 10, 40))]
    views = [
        (1, 20, dt.datetime(2024, 1, 1, 10, 10)),  # within 10 min of click 10
        (1, 21, dt.datetime(2024, 1, 1, 9, 0)),    # too old
        (2, 22, dt.datetime(2024, 1, 1, 10, 39)),  # within
    ]
    cdf = spark.createDataFrame(clicks, "user_id long, click_id long, click_ts timestamp")
    vdf = spark.createDataFrame(views, "user_id long, view_id long, view_ts timestamp")
    csrc, vsrc = str(tmp_path / "clicks"), str(tmp_path / "views")
    cdf.write.parquet(csrc)
    vdf.write.parquet(vsrc)

    def joined(c, v):
        return c.join(
            v,
            (c.user_id == v.user_id)
            & (v.view_ts <= c.click_ts)
            & (v.view_ts >= c.click_ts - F.expr("INTERVAL 10 MINUTES")),
        ).select("click_id", "view_id")

    want = {tuple(r) for r in joined(cdf.alias("c"), vdf.alias("v")).collect()}
    assert want == {(10, 20), (11, 22)}

    cs = spark.readStream.schema(cdf.schema).parquet(csrc).withWatermark("click_ts", "1 hour")
    vs_ = spark.readStream.schema(vdf.schema).parquet(vsrc).withWatermark("view_ts", "1 hour")
    q = (
        joined(cs, vs_)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("ss_join").collect()}
    assert got == want


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup with bounded state: duplicate event_ids
    arriving within the watermark horizon are dropped; state evicts
    beyond it (the streaming face of the dedup family — batch exact
    dedup is operators/dedup.exact_dedup)."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), "a"),
        (1, dt.datetime(2024, 1, 1, 10, 1), "a-dup"),   # dropped
        (2, dt.datetime(2024, 1, 1, 10, 2), "b"),
        (2, dt.datetime(2024, 1, 1, 10, 2), "b-dup"),   # dropped
        (3, dt.datetime(2024, 1, 1, 10, 3), "c"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, payload string")
    src = str(tmp_path / "dedup_src")
    df.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream").collect()
    assert sorted(r.event_id for r in got) == [1, 2, 3]


def test_watermark_incremental(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2)), (3, dt.datetime(2024, 1, 3))],
        "id long, ts timestamp",
    )
    wm = incremental.watermark_of(df.where("id <= 2"), "ts")
    assert wm == dt.datetime(2024, 1, 2)
    newer = incremental.incremental_rows(df, "ts", wm).collect()
    assert [r.id for r in newer] == [3]


def test_scd2_stream_load_incremental_parity(spark, tmp_path):
    """foreachBatch SCD2 loading: two periodic availableNow runs over a
    growing landing directory must (a) process each file exactly once
    (checkpoint = watermark), and (b) leave the store in exactly the
    state two sequential batch merges produce — including the V5
    deprecation of the changed fact."""
    import datetime as dt

    from mlentory_etl_pipeline_spark.operators import versioned_store as vs
    from mlentory_etl_pipeline_spark.streaming.stateful import stream_into_store

    schema = (
        "subject string, predicate string, object string, "
        "extraction_method string, confidence double, extraction_time timestamp"
    )
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    batch1 = [
        ("m1", "p0", "v0", "hf", 1.0, t0),
        ("m1", "p1", "v1", "hf", 1.0, t0),
        ("m2", "p0", "w0", "hf", 1.0, t0),
    ]
    # m1/p0 changes value (old one must deprecate); m3 is new.
    batch2 = [
        ("m1", "p0", "v0-CHANGED", "hf", 1.0, t1),
        ("m1", "p1", "v1", "hf", 1.0, t1),
        ("m3", "p0", "x0", "hf", 1.0, t1),
    ]

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    store = vs.VersionedTripleStore(spark, str(tmp_path / "stream_store"))

    def run_refresh():
        stream = spark.readStream.schema(schema).parquet(land)
        q = stream_into_store(stream, store, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(land)
    run_refresh()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(land)
    run_refresh()
    # A third refresh with no new files must be a no-op (exactly-once).
    run_refresh()

    ref = vs.VersionedTripleStore(spark, str(tmp_path / "batch_store"))
    ref.load_batch(spark.createDataFrame(batch1, schema))
    ref.load_batch(spark.createDataFrame(batch2, schema))

    def snapshot(st):
        cur = {
            (r.subject, r.predicate, r.object)
            for r in vs.current_graph(st.state()).collect()
        }
        ranges = {
            (r.triplet_hash, r.use_start, r.use_end, r.deprecated)
            for r in st.state().version_range.collect()
        }
        return cur, ranges

    got_cur, got_ranges = snapshot(store)
    want_cur, want_ranges = snapshot(ref)
    assert got_cur == want_cur
    assert got_ranges == want_ranges
    assert ("m1", "p0", "v0-CHANGED") in got_cur
    assert ("m1", "p0", "v0") not in got_cur


@pytest.mark.slow
def test_scd2_stream_load_crash_recovery(spark, tmp_path):
    """Kill the foreachBatch SCD2 load MID-FOLD and restart from its
    checkpoint: the injected crash lands AFTER the store commit of
    micro-batch 1 but BEFORE its checkpoint commit, so the restart
    REPLAYS that batch (sink idempotency under replay — the
    content-hash-keyed merge absorbs it) and then drains the rest
    (checkpoint resume). Final store state must equal folding the same
    files sequentially through batch load_batch — the exactly-once
    claim of stream_into_store, crash included."""
    import datetime as dt

    from mlentory_etl_pipeline_spark.operators import versioned_store as vs
    from mlentory_etl_pipeline_spark.streaming.stateful import stream_into_store

    schema = (
        "subject string, predicate string, object string, "
        "extraction_method string, confidence double, extraction_time timestamp"
    )
    t0, t1, t2 = (
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 2, 1),
        dt.datetime(2024, 3, 1),
    )
    files = [
        [("m1", "p0", "v0", "hf", 1.0, t0), ("m2", "p0", "w0", "hf", 1.0, t0)],
        # m1/p0 changes (deprecation), m3 appears
        [("m1", "p0", "v0-CHANGED", "hf", 1.0, t1), ("m3", "p0", "x0", "hf", 1.0, t1)],
        # m3/p0 changes again, m2 re-observed unchanged (touch)
        [("m3", "p0", "x0-CHANGED", "hf", 1.0, t2), ("m2", "p0", "w0", "hf", 1.0, t2)],
    ]
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    for rows in files:  # sequential writes -> mtime order == fold order
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(land)

    store = vs.VersionedTripleStore(spark, str(tmp_path / "crash_store"))
    seen: list[int] = []

    def crashing_merge(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        store.load_batch(batch_df)
        seen.append(batch_id)
        if len(seen) == 2:
            # store committed, checkpoint NOT: the worst-timed crash
            raise RuntimeError("injected crash after sink commit")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    q = (
        stream.writeStream.foreachBatch(crashing_merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        raised = False
    except Exception as e:
        raised = "injected crash" in str(e)
    assert raised, "the injected crash must abort the first run"
    assert len(seen) == 2  # batches 0 and 1 hit the store before dying

    # restart through the REAL operator on the same checkpoint
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    q2 = stream_into_store(stream2, store, ckpt)
    q2.awaitTermination(120)

    ref = vs.VersionedTripleStore(spark, str(tmp_path / "ref_store"))
    for rows in files:
        ref.load_batch(spark.createDataFrame(rows, schema))

    def snapshot(st):
        cur = {
            (r.subject, r.predicate, r.object)
            for r in vs.current_graph(st.state()).collect()
        }
        ranges = {
            (r.triplet_hash, r.use_start, r.use_end, r.deprecated)
            for r in st.state().version_range.collect()
        }
        return cur, ranges

    got_cur, got_ranges = snapshot(store)
    want_cur, want_ranges = snapshot(ref)
    assert got_cur == want_cur
    assert got_ranges == want_ranges
    assert ("m3", "p0", "x0-CHANGED") in got_cur
    assert ("m3", "p0", "x0") not in got_cur


def test_dedup_within_watermark_stream_matches_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    from mlentory_etl_pipeline_spark.streaming.incremental import (
        dedup_within_watermark,
    )

    from mlentory_etl_pipeline_spark.sources.tpch import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    from mlentory_etl_pipeline_spark.plans.queries import _write_time_ordered_slices

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_time_ordered_slices(e.unionByName(e), src)

    # batch path degrades to plain dropDuplicates
    batch = dedup_within_watermark(spark.read.parquet(src), ["event_id"], "ts")
    assert batch.count() == e.count()

    stream = (
        spark.readStream.schema(e.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        dedup_within_watermark(stream, ["event_id"], "ts", "1 day")
        .writeStream.format("memory")
        .queryName("dedup_parity")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_parity")
    assert got.count() == e.count()
    assert got.select(F.count_distinct("event_id")).first()[0] == e.count()


def test_agg_state_stream_maintenance(spark, tmp_path):
    """Streaming rollup maintenance: per-batch agg_state folds into a
    persisted versioned state table; the final rollup equals the direct
    aggregate over all data, replayed batches (same or lost checkpoint)
    are skipped via source-file identity instead of double-counting,
    and — unlike a bare batch-id marker — NEW files landed before a
    checkpoint loss still fold exactly once."""
    import datetime as dt

    from mlentory_etl_pipeline_spark.operators import sketches
    from mlentory_etl_pipeline_spark.streaming.incremental import (
        agg_state_stream_maintenance,
        read_agg_state,
    )

    schema = "k string, v double, ts timestamp"
    files = [
        [("a", 1.0), ("b", 2.0)],
        [("a", 3.0)],
        [("b", 4.0), ("a", 5.0)],
    ]
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    t0 = dt.datetime(2024, 1, 1)
    all_rows = []
    for i, rows in enumerate(files):
        stamped = [(k, v, t0 + dt.timedelta(days=i)) for (k, v) in rows]
        all_rows += stamped
        spark.createDataFrame(stamped, schema).coalesce(1).write.mode(
            "append"
        ).parquet(land)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    q = agg_state_stream_maintenance(stream, ["k"], "v", state, ckpt)
    q.awaitTermination(120)

    direct = sketches.agg_state(
        spark.createDataFrame(all_rows, schema), ["k"], "v"
    )
    got = sorted(map(tuple, read_agg_state(spark, state).collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want

    # full replay with a LOST checkpoint: batch ids restart at 0 but
    # every source file is already in the folded set -> every batch
    # skips, state unchanged (the same protection that guards the
    # crash window between state commit and checkpoint commit)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q2 = agg_state_stream_maintenance(
        stream2, ["k"], "v", state, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert sorted(map(tuple, read_agg_state(spark, state).collect())) == want

    # incremental continuation on the ORIGINAL checkpoint: a new file
    # folds in, matching the direct aggregate over everything
    extra = [("c", 10.0, t0 + dt.timedelta(days=3))]
    all_rows += extra
    spark.createDataFrame(extra, schema).coalesce(1).write.mode("append").parquet(land)
    stream3 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q3 = agg_state_stream_maintenance(stream3, ["k"], "v", state, ckpt)
    q3.awaitTermination(120)
    direct2 = sketches.agg_state(spark.createDataFrame(all_rows, schema), ["k"], "v")
    assert sorted(map(tuple, read_agg_state(spark, state).collect())) == sorted(
        map(tuple, direct2.collect())
    )

    # the case a bare batch-id marker gets WRONG: checkpoint lost AND a
    # genuinely new file landed — replayed ids restart at 0 (all below
    # the old marker) but file identity folds exactly the new file
    extra2 = [("d", 7.0, t0 + dt.timedelta(days=4))]
    all_rows += extra2
    spark.createDataFrame(extra2, schema).coalesce(1).write.mode("append").parquet(land)
    stream4 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q4 = agg_state_stream_maintenance(
        stream4, ["k"], "v", state, str(tmp_path / "ckpt3")
    )
    q4.awaitTermination(120)
    direct3 = sketches.agg_state(spark.createDataFrame(all_rows, schema), ["k"], "v")
    assert sorted(map(tuple, read_agg_state(spark, state).collect())) == sorted(
        map(tuple, direct3.collect())
    )
