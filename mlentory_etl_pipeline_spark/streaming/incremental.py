"""Incremental / streaming layer.

The reference is batch-with-watermark (SURVEY §3.2): each refresh
computes ``max(last_modified)`` over the landed data (S2,
``HFDatasetManager.py:216-218``) and fetches only newer rows; the SCD2
store makes the load itself incremental. We keep that shape and add the
Structured Streaming expression of the same pipeline for true streams.

Scale notes: the watermark scan is a single max over the landing
table's partition column — with date-partitioned landing data this
prunes to the newest partitions. The streaming variant uses
``withWatermark`` + windowed aggregation; state store size is bounded
by (watermark horizon × key cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Ensure ``ts_col`` is watermark-eligible (TIMESTAMP, not
    TIMESTAMP_NTZ). Untimezoned parquet micros read as TIMESTAMP_NTZ and
    ``withWatermark`` rejects NTZ event time
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``); the cast interprets the
    wall-clock value in the session timezone, which cancels out for the
    relative comparisons (watermark horizon, window membership, interval
    bounds) these operators do — same recipe as
    ``operators/temporal.py:_micros``, and the same fixed-offset
    session-timezone assumption documented there applies."""
    if df.schema[ts_col].dataType.typeName() == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def watermark_agg(df: DataFrame, ts_col: str) -> DataFrame:
    """S2 watermark as an IN-PLAN 1-row aggregate (broadcastable).

    Prefer this over :func:`watermark_of` whenever the watermark feeds a
    same-session plan: the whole refresh stays one lazy plan with no
    blocking driver round-trip."""
    return df.agg(F.max(ts_col).alias("_wm"))


def watermark_of(df: DataFrame, ts_col: str):
    """S2 watermark: latest timestamp already landed, as a driver-side
    scalar. ONLY for composition with external systems (building a
    remote API fetch filter, the reference's
    ``HFDatasetManager.py:216-218``); in-plan consumers must use
    :func:`watermark_agg` instead — no collect()."""
    return df.agg(F.max(ts_col)).collect()[0][0]


def incremental_rows(df: DataFrame, ts_col: str, watermark) -> DataFrame:
    """Rows strictly newer than the watermark — the fetch filter of the
    incremental refresh path (S2).

    ``watermark`` may be a scalar (external composition) or the 1-row
    DataFrame from :func:`watermark_agg`; the DataFrame form is joined
    in-plan as a broadcast 1-row aggregate (the ``merge_batch``
    batch-time pattern) so the filter never blocks on the driver."""
    if isinstance(watermark, DataFrame):
        return (
            df.crossJoin(F.broadcast(watermark))
            .where(F.col(ts_col) > F.col("_wm"))
            .drop("_wm")
        )
    return df.where(F.col(ts_col) > F.lit(watermark))


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    keys: list[str],
    aggs: list,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Tumbling-window aggregation usable in BOTH batch and streaming
    plans (identical code path; pass a streaming df + ``watermark_delay``
    for the stateful variant with late-data eviction). Aggregate columns
    must carry their own aliases."""
    if watermark_delay is not None and df.isStreaming:
        df = _event_time(df, ts_col).withWatermark(ts_col, watermark_delay)
    w = F.window(F.col(ts_col), window_duration).alias("win")
    out = df.groupBy(w, *keys).agg(*aggs)
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *[c for c in out.columns if c != "win"],
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Session-window aggregation (gap-based sessionization), batch AND
    streaming from the same code path — ``F.session_window`` merges
    events whose ``[ts, ts+gap)`` windows overlap, so a new session
    starts exactly when the gap to the previous event is ≥ ``gap``.
    The window is ``[first_ts, last_ts + gap)``.

    Batch-engine equivalence (the oracle's shape) is the classic
    gaps-and-islands rewrite: ``lag`` marks session starts, a running
    sum numbers them, then group. Spark's native operator needs no such
    window-function pass — in batch it plans as a sort-based
    aggregation within each key's partition; in streaming the state
    store keeps one entry per open session, bounded by
    (watermark horizon × active keys)."""
    if watermark_delay is not None and df.isStreaming:
        df = _event_time(df, ts_col).withWatermark(ts_col, watermark_delay)
    w = F.session_window(F.col(ts_col), gap).alias("win")
    out = df.groupBy(w, *keys).agg(*aggs)
    return out.select(
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        *[c for c in out.columns if c != "win"],
    )


def dedup_within_watermark(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    delay: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it once the event-time watermark passes the key's timestamp —
    so state is bounded by (watermark horizon × arrival rate), not by
    the stream's lifetime key cardinality. The guarantee is the useful
    production one: duplicates arriving within ``delay`` of each other
    are suppressed; a re-observation after the horizon re-emits (and
    the downstream SCD2 merge absorbs it idempotently — content-hash
    keyed, so the pipeline stays exactly-once end-to-end).

    Batch parity: on a non-streaming frame this degrades to plain
    ``dropDuplicates`` (asserted in tests/test_streaming.py along with
    stream-vs-batch result parity on time-ordered files).
    """
    if not stream.isStreaming:
        return stream.dropDuplicates(key_cols)
    return (
        _event_time(stream, ts_col)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(key_cols)
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Stream-stream inner equi-join bounded by an event-time interval:
    a right-side event matches a left-side event with the same ``key``
    when ``left_ts <= right_ts <= left_ts + within`` — the attribution
    join (click → purchase, request → response, alert → ack) as a true
    two-stream join with bounded state.

    Both sides carry watermarks, so the state store holds only rows
    whose join window can still match: left rows are evicted once the
    right watermark passes ``left_ts + within``, right rows once the
    left watermark passes ``right_ts``. State is bounded by
    (watermark horizon × arrival rate) per side — the property that
    lets this run forever on an unbounded stream. ``watermark_delay``
    must exceed ``within`` plus cross-stream arrival skew for no
    matches to be lost (asserted against the batch plan in tests).

    ``left_ts`` and ``right_ts`` must be distinct column names; all
    other column names must not collide across the two sides. On batch
    frames the identical join condition plans as a regular range join —
    one code path, batch parity by construction.
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    if left.isStreaming:
        left = _event_time(left, left_ts).withWatermark(left_ts, watermark_delay)
    if right.isStreaming:
        right = _event_time(right, right_ts).withWatermark(right_ts, watermark_delay)
    cond = (
        (left[key] == right[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, "inner").drop(right[key])


class SimulatedCrash(Exception):
    """Raised by the fold protocol's test-only crash hooks."""


def _resolve_state(state_dir: str):
    """Resolve the CURRENT pointer to the newest COMPLETE state version.

    Returns ``(version, vdir, batch_marker, folded_files)`` or ``None``
    when no version has been committed. The pointer is only ever
    flipped (``os.replace``, atomic on POSIX) AFTER a version dir and
    its ``_meta.json`` are fully written, so whatever it names is
    complete by construction — a crash mid-write leaves the pointer on
    the previous version and the half-written dir is simply overwritten
    by the retry."""
    import json
    import os

    ptr = os.path.join(state_dir, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        name = f.read().strip()
    vdir = os.path.join(state_dir, name)
    with open(os.path.join(vdir, "_meta.json")) as f:
        meta = json.load(f)
    version = int(name.rsplit("-v", 1)[1])
    return version, vdir, int(meta["batch_id"]), set(meta["files"])


def _fold_protocol(
    state_dir: str,
    batch_id: int,
    batch_files: set[str],
    has_anon_rows: bool,
    write_merged,
    crash_after: str | None = None,
) -> bool:
    """Crash-safe versioned fold: the write-ahead protocol under
    :func:`agg_state_stream_maintenance`, factored out so property
    tests can drive arbitrary crash/replay interleavings with a
    lightweight engine (no Spark jobs) while the streaming path runs
    the identical code.

    Replay protection is SOURCE-IDENTITY based for file-backed rows:
    a batch's files that are already in the folded set are replays and
    are excluded, so even a LOST checkpoint (batch ids restarting at 0)
    cannot double-count old files NOR silently skip genuinely new ones.
    Rows without a file identity (non-file sources report no
    ``input_file_name``) fall back to the batch-id marker, which only
    guards replays under a continuous checkpoint — at lake scale both
    collapse into the Delta transaction's ``txnAppId/txnVersion``.

    Protocol (never touches the live version):

    1. resolve CURRENT → decide what is genuinely new;
    2. write the merged payload into a NEW ``state-v{n+1}`` dir via the
       ``write_merged(next_vdir, cur_vdir, new_files, include_anon)``
       callback;
    3. write ``_meta.json`` (batch marker + cumulative folded files)
       into that dir;
    4. flip CURRENT with ``os.replace`` — the atomic commit point;
    5. GC every other version dir.

    A crash at any point before (4) leaves CURRENT on the old complete
    version (the retry overwrites the orphan dir); a crash after (4)
    but before the streaming checkpoint commits makes the replayed
    batch a no-op in (1). ``crash_after`` ∈ {"payload", "meta",
    "pointer"} raises :class:`SimulatedCrash` after that step — test
    hook only. Returns True if anything folded."""
    import json
    import os

    import shutil

    def _gc(keep_name: str) -> None:
        for entry in os.listdir(state_dir):
            if entry.startswith("state-v") and entry != keep_name:
                shutil.rmtree(os.path.join(state_dir, entry), ignore_errors=True)

    assert crash_after in (None, "payload", "meta", "pointer")
    os.makedirs(state_dir, exist_ok=True)
    cur = _resolve_state(state_dir)
    if cur is None:
        version, cur_vdir, batch_marker, folded = -1, None, -1, set()
    else:
        version, cur_vdir, batch_marker, folded = cur
    new_files = set(batch_files) - folded
    include_anon = has_anon_rows and batch_id > batch_marker
    if not new_files and not include_anon:
        # pure replay: nothing folds, but a crash between the previous
        # commit and its GC may have stranded an old version dir —
        # clean it up here so garbage cannot accumulate
        if cur_vdir is not None:
            _gc(os.path.basename(cur_vdir))
        return False

    next_name = f"state-v{version + 1:09d}"
    next_vdir = os.path.join(state_dir, next_name)
    write_merged(next_vdir, cur_vdir, new_files, include_anon)
    if crash_after == "payload":
        raise SimulatedCrash("after payload write")
    meta = {
        "batch_id": max(batch_id, batch_marker),
        "files": sorted(folded | new_files),
    }
    with open(os.path.join(next_vdir, "_meta.json"), "w") as f:
        json.dump(meta, f)
    if crash_after == "meta":
        raise SimulatedCrash("after meta write")
    ptr = os.path.join(state_dir, "CURRENT")
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(next_name)
    os.replace(tmp, ptr)  # atomic commit
    if crash_after == "pointer":
        raise SimulatedCrash("after pointer flip")
    _gc(next_name)
    return True


def read_agg_state(spark, state_dir: str) -> DataFrame:
    """Read the current committed rollup of
    :func:`agg_state_stream_maintenance` (resolves the CURRENT pointer
    to the newest complete version dir)."""
    cur = _resolve_state(state_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return spark.read.parquet(cur[1])


def agg_state_stream_maintenance(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Streaming INCREMENTAL ROLLUP maintenance: every micro-batch's
    per-key (count, exact-sum, min, max) state folds into a persisted
    parquet state table via ``sketches.merge_agg_states`` — the
    materialized-view pattern where the rollup is always current and
    history is never rescanned (each fold costs |batch keys| + |state|,
    and at lake scale the state table is a Delta MERGE target keyed by
    the group columns).

    Exactly-once needs more than
    :func:`...stateful.stream_into_store`'s argument:
    the SCD2 merge is content-hash idempotent, but COUNTS DOUBLE on
    replay. Every fold runs the versioned write-ahead protocol of
    :func:`_fold_protocol`: the merged state lands in a NEW
    ``state-v{n}`` dir and a small CURRENT pointer flips atomically
    (``os.replace``) only after the dir is complete — the live version
    is never deleted first, so no crash window can lose the
    accumulated rollup. Replays are detected by SOURCE FILE IDENTITY
    (``input_file_name`` per row, recorded in the version's meta), so
    a lost checkpoint neither double-counts replayed files nor skips
    new ones; rows without file identity fall back to the batch-id
    marker. Crash-replay is e2e-tested in tests/test_streaming.py and
    the protocol is property-tested across interleavings in
    tests/test_outoforder_properties.py. Returns the started query
    (availableNow). Read the rollup with :func:`read_agg_state`.
    """
    from mlentory_etl_pipeline_spark.operators import sketches

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        src = batch_df.withColumn("_src", F.input_file_name())
        files = {r[0] for r in src.select("_src").distinct().collect()}
        has_anon = "" in files
        files.discard("")

        def write_merged(next_vdir, cur_vdir, new_files, include_anon):
            cond = F.col("_src").isin(*new_files) if new_files else F.lit(False)
            if include_anon:
                cond = cond | (F.col("_src") == "")
            fresh = src.where(cond).drop("_src")
            batch_state = sketches.agg_state(fresh, keys, value_col)
            if cur_vdir is not None:
                current = spark.read.parquet(cur_vdir)
                merged = sketches.merge_agg_states(current, batch_state, keys)
            else:
                merged = batch_state
            merged.write.mode("overwrite").parquet(next_vdir)

        _fold_protocol(state_dir, batch_id, files, has_anon, write_merged)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
