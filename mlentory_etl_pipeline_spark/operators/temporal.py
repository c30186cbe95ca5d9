"""Temporal joins over event/version tables.

The reference's only temporal query is the SCD2 interval predicate
(Q10, `GraphHandler.py` history lookups — see versioned_store.graph_at);
SURVEY §2.9 notes it has no as-of join. This module adds the general
operator Spark lacks natively, composed from existing DataFrame ops
(build-brief option (a): no UDF, no mapPartitions).

``asof_join``: for each left row, the single latest right row of the
same key with ``right_ts < left_ts`` (strict; or ``<=`` with
``strict=False``). Plan shape: one equi-join on the key (hash shuffle
both sides, AQE-broadcast if the right side is small) followed by one
``max_by`` aggregation keyed by the left row — map-side combinable, so
the per-key fan-out collapses before the final shuffle. Unmatched left
rows return via a left-anti join with null right columns, exactly the
LEFT JOIN + ROW_NUMBER()=1 SQL the oracle runs.

At 100 TB: both sides bucketed by the key (sources/bucketing.py) make
the equi-join shuffle-free; the window alternative (row_number over
pairs) would sort the full fan-out instead — max_by is the right
aggregation shape. Skewed hot keys fall back to operators/skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(c: Column) -> Column:
    """int64 microseconds since epoch, accepting TIMESTAMP and TIMESTAMP_NTZ.

    Parquet timestamps without timezone annotation arrive as TIMESTAMP_NTZ,
    which ``unix_micros`` rejects; casting through TIMESTAMP first is
    session-timezone-consistent, and every consumer here only compares or
    differences the values, so the absolute offset cancels out.

    Caveat: the cancellation assumes a FIXED-OFFSET session timezone
    (UTC — the engine default, set in ``session.get_spark``). Under a
    DST-observing session timezone the NTZ→TIMESTAMP offset changes
    across transitions, so gaps/overlaps/tolerances spanning a DST
    boundary would be off by the shift (and fall-back wall times are
    ambiguous). Keep ``spark.sql.session.timeZone=UTC`` when feeding
    NTZ data through the temporal operators.
    """
    return F.unix_micros(c.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    strict: bool = True,
) -> DataFrame:
    """Latest-prior match per left row (nulls where none exists).

    Right columns are prefixed ``asof_`` in the output; ties on
    ``right_ts`` break deterministically on the remaining right columns
    (lexicographic max), mirroring ``ORDER BY ts DESC, ... DESC``.
    """
    l = left.alias("l")
    r = right.alias("r")
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (F.col(f"l.{on}") == F.col(f"r.{on}")) & (
        (rt < lt) if strict else (rt <= lt)
    )
    right_payload = [c for c in right.columns if c != on]
    ord_cols: list[Column] = [rt] + [
        F.col(f"r.{c}") for c in right_payload if c != right_ts
    ]
    picked = (
        l.join(r, cond, "inner")
        .groupBy(*[F.col(f"l.{c}") for c in left.columns])
        .agg(
            F.max_by(
                F.struct(*[F.col(f"r.{c}").alias(c) for c in right_payload]),
                F.struct(*ord_cols),
            ).alias("_m")
        )
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col(f"_m.{c}").alias(f"asof_{c}") for c in right_payload],
        )
    )
    unmatched = l.join(r, cond, "left_anti").select(
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"asof_{c}") for c in right_payload],
    )
    return picked.unionByName(unmatched)


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """As-of join with direction and tolerance (pandas ``merge_asof``
    semantics, distributed).

    ``direction``:
      - ``backward``: latest right row with ``right_ts <= left_ts``
      - ``forward``: earliest right row with ``right_ts >= left_ts``
      - ``nearest``: right row minimizing ``|right_ts - left_ts|``;
        distance ties prefer the backward (prior) match, then break on
        the remaining right columns ascending — a total order, so the
        result is engine-reproducible.

    ``tolerance_seconds`` bounds the match window (unbounded if None).
    Unmatched left rows survive with null right columns.

    Same plan shape as :func:`asof_join` — one equi-join + one
    map-side-combinable ``min_by`` aggregation, never a window over the
    joined fan-out. The tolerance predicate tightens the join condition
    itself, so out-of-window pairs are dropped at the join, not after:
    at 100 TB a bounded tolerance is also the state bound (only
    ``tolerance``-wide slices of the right side can ever pair).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest: {direction}")
    l = left.alias("l")
    r = right.alias("r")
    lus, rus = _micros(F.col(f"l.{left_ts}")), _micros(F.col(f"r.{right_ts}"))
    delta = rus - lus
    if direction == "backward":
        cond = delta <= 0
        dist = -delta
    elif direction == "forward":
        cond = delta >= 0
        dist = delta
    else:
        cond = F.lit(True)
        dist = F.abs(delta)
    if tolerance_seconds is not None:
        cond = cond & (F.abs(delta) <= F.lit(int(tolerance_seconds) * 1_000_000))
    cond = (F.col(f"l.{on}") == F.col(f"r.{on}")) & cond
    right_payload = [c for c in right.columns if c != on]
    # prefer-backward flag only discriminates for `nearest`; harmless otherwise
    prefer = F.when(delta <= 0, F.lit(0)).otherwise(F.lit(1))
    ord_cols: list[Column] = [dist, prefer] + [
        F.col(f"r.{c}") for c in right_payload
    ]
    picked = (
        l.join(r, cond, "inner")
        .groupBy(*[F.col(f"l.{c}") for c in left.columns])
        .agg(
            F.min_by(
                F.struct(*[F.col(f"r.{c}").alias(c) for c in right_payload]),
                F.struct(*ord_cols),
            ).alias("_m")
        )
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col(f"_m.{c}").alias(f"asof_{c}") for c in right_payload],
        )
    )
    unmatched = l.join(r, cond, "left_anti").select(
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"asof_{c}") for c in right_payload],
    )
    return picked.unionByName(unmatched)


def interval_coalesce(
    intervals: DataFrame,
    key: str,
    start: str,
    end: str,
) -> DataFrame:
    """Merge overlapping/adjacent intervals per key (gaps-and-islands).

    The classic validity-interval compaction: an interval starts a new
    island iff its ``start`` exceeds the running maximum ``end`` of all
    earlier intervals of the same key (touching intervals merge —
    half-open semantics). Two window functions over ONE ``partitionBy
    (key).orderBy(start, end)`` — the running max-end (exclusive of the
    current row) flags island boundaries, the running sum numbers them —
    so the physical plan is a single hash exchange + one sort per key,
    the same single-exchange shape as :func:`sessionize` (plan-asserted
    in tests). The final per-island rollup groups on a superset of the
    partition key: no second shuffle.

    Comparison runs in int64 microseconds (lossless). Returns one row
    per (key, island): ``valid_from`` / ``valid_to`` / ``n_merged``.

    At 100 TB: per-key interval counts bound the window sort; keys are
    independent so AQE handles count skew at the rollup. This is the
    compaction pass for SCD2 validity ranges after retention vacuuming
    (versioned_store) and for any coverage/uptime computation.
    """
    w = Window.partitionBy(key).orderBy(start, end)
    sus = _micros(F.col(start))
    eus = _micros(F.col(end))
    prev_max_end = F.max(eus).over(w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = F.when(prev_max_end.isNull() | (sus > prev_max_end), 1).otherwise(0)
    numbered = intervals.withColumn(
        "_island", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return numbered.groupBy(key, "_island").agg(
        F.min(start).alias("valid_from"),
        F.max(end).alias("valid_to"),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("_island")


def sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int = 3600,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Batch sessionization: split each key's event stream on idle gaps.

    The batch analogue of the streaming session window (streaming/
    stateful.py): a new session starts where the gap to the previous
    event of the same key exceeds ``gap_seconds``. Two windows over ONE
    partitioning — ``lag`` to flag boundaries, running ``sum`` to number
    them — so the physical plan is a single hash-partition by key with
    one sort; Spark reuses the exchange for both window functions.

    Gap comparison runs in integer microseconds (perf-trap #4: µs int64
    is the lossless timestamp currency), strictly-greater, so the
    result is exactly reproducible in any engine with SQL window
    semantics.

    Returns one row per (key, session_id) with session_start /
    session_end / n_events. ``session_id`` is 1-based and ordered by
    time within the key.
    """
    order_cols = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    us = _micros(F.col(ts))
    prev_us = F.lag(us).over(w)
    is_new = F.when(
        prev_us.isNull() | ((us - prev_us) > F.lit(int(gap_seconds) * 1_000_000)), 1
    ).otherwise(0)
    numbered = events.withColumn(
        "session_id", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return numbered.groupBy(key, "session_id").agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    ts: str,
    start: str,
    end: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval join, shuffle-keyed instead of theta.

    A naive ``p.ts >= i.start AND p.ts < i.end`` predicate is a theta
    join — nested-loop per key, quadratic in hot keys. Bucketizing time
    makes it an equi-join: each point owns one bucket
    (``floor(ts / w)``); each interval explodes to every bucket it
    covers (``sequence(floor(start/w), floor(end/w))``); the join runs
    on (key, bucket) and the exact range predicate refines the bucket
    matches. No duplicates possible — a point matches an interval only
    in the point's single bucket. ``bucket_seconds`` trades replication
    (long intervals explode into more buckets) against candidate
    precision; pick ~the median interval length.

    Returns points columns + matching interval columns (inner join:
    points in no interval drop out, points in several match each).
    """
    # bucket via _micros so TIMESTAMP_NTZ inputs take the same
    # cast-first path as every other temporal operator
    w = F.lit(int(bucket_seconds) * 1_000_000)
    p = points.withColumn("_bkt", F.floor(_micros(F.col(ts)) / w))
    i = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(_micros(F.col(start)) / w),
                F.floor(_micros(F.col(end)) / w),
            )
        ),
    )
    return (
        p.join(i, [on, "_bkt"])
        .where((F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end)))
        .drop("_bkt")
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort-retention matrix — the standard activation/churn
    view (rows: the week a user first appeared; columns: weeks since;
    cells: how many of that cohort were active): the analytics shape
    behind "is week-4 retention improving release over release".

    Exactness: cohort and activity weeks are ``date_trunc('week')``
    (Monday-start in Spark AND DuckDB), the offset an integer
    ``datediff/7``, retention an integer ratio divided once — nothing
    float-ordered anywhere.

    Scale posture: one min-aggregation per user (map-side combined),
    one user-keyed join back, one distinct-user count per
    (cohort, offset) cell — two user-keyed shuffles plus a cell-keyed
    aggregation whose output is |cohorts|×|offsets| rows (metadata-
    sized regardless of event volume).

    Returns ``(cohort_week, week_offset, n_active, cohort_size,
    retention)`` ordered by (cohort_week, week_offset); offset 0 is
    the activation week itself (retention 1.0 by construction).
    """
    wk = lambda c: F.date_trunc("week", c)  # noqa: E731
    first = df.groupBy(F.col(user_col).alias("_u")).agg(
        wk(F.min(ts_col)).alias("cohort_week")
    )
    acts = (
        df.select(F.col(user_col).alias("_u"), wk(F.col(ts_col)).alias("_w"))
        .distinct()
        .join(first, "_u")
    )
    cells = acts.groupBy(
        "cohort_week",
        (F.datediff(F.col("_w"), F.col("cohort_week")) / 7)
        .cast("long")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    sizes = first.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        cells.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def kaplan_meier(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    churn_horizon_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier survival curve over per-user lifetimes with
    right-censoring — the churn-analysis primitive :func:`cohort_retention`
    doesn't cover: users still active near the end of the observation
    window are CENSORED (they leave the risk set without counting as
    churn), which naive retention curves get wrong.

    Lifetime = days between a user's first and last event; a user
    whose last event falls within ``churn_horizon_days`` of the
    stream's end is censored (still alive as far as we know). The
    product-limit estimator ``S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)``
    folds as a cumulative sum of micro-quantized ``ln(1 − d/n)``
    terms (each term one ln of an exact integer ratio — the DSIR
    scheme), closed by one ``exp`` on the identical integer operand.

    Scale posture: one per-user min/max aggregation (map-side
    combined), the stream-end maximum rides as a 1-row in-plan
    broadcast, and the risk-set/cumulative windows run over the
    DURATION-keyed aggregate (≤ observation-window-days rows —
    metadata), never over users. Returns
    ``(duration_days, n_risk, n_events, n_censored, survival)``.
    """
    spans = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last")
    )
    end = df.agg(F.max(ts_col).alias("_end"))
    per_user = spans.crossJoin(F.broadcast(end)).select(
        F.datediff(F.col("_last"), F.col("_first")).alias("duration_days"),
        F.when(
            F.col("_last") < F.date_sub(F.col("_end"), churn_horizon_days),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_event"),
    )
    by_t = per_user.groupBy("duration_days").agg(
        F.count(F.lit(1)).alias("_n_t"),
        F.sum("_event").alias("n_events"),
    )
    w_prior = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = per_user.agg(F.count(F.lit(1)).alias("_nn"))
    risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("_nn") - F.coalesce(F.sum("_n_t").over(w_prior), F.lit(0)),
        )
        .withColumn(
            "_lnq",
            F.when(
                # everyone at risk churns here: S drops to exactly 0 —
                # a finite sentinel (exp(-1e6) == 0.0 in IEEE) keeps
                # the integer fold total
                F.col("n_events") >= F.col("n_risk"),
                F.lit(-(10**12)),
            )
            .when(
                F.col("n_events") > 0,
                F.floor(
                    F.ln(
                        (F.col("n_risk") - F.col("n_events")).cast("double")
                        / F.col("n_risk").cast("double")
                    )
                    * 1_000_000
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(F.lit(0)),
        )
    )
    return risk.select(
        "duration_days",
        "n_risk",
        "n_events",
        (F.col("_n_t") - F.col("n_events")).alias("n_censored"),
        F.round(
            F.exp(F.sum("_lnq").over(w_cum).cast("double") / 1_000_000.0), 6
        ).alias("survival"),
    ).orderBy("duration_days")


def rfm_segments(
    df: DataFrame,
    custkey: Column,
    orderdate: Column,
    totalprice: Column,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation —
    the classic behavioral-segmentation rollup (who are the recent
    high-spend regulars vs the lapsed one-timers?), the same shape a
    corpus pipeline uses to segment SOURCES by freshness / volume /
    size before mixture weighting.

    Distributed-binning contract: plain ``ntile`` over the whole
    customer table is a GLOBAL single-partition window — instead the
    quintile boundaries come from one ``percentile_disc`` aggregation
    (boundaries are actual data points, so both engines pick identical
    values — the exact_percentiles_disc parity), broadcast back, and
    each customer scores 1–5 by four comparisons. Boundary semantics:
    score = 1 + Σ(v > q_i) for frequency/monetary (higher is better),
    5 − Σ(days > q_i) for recency (fresher is better); ties on a
    boundary fall to the lower bin deterministically in both engines
    (this is NOT ntile — equal keys never split across bins, which is
    the property that makes the result well-defined at all).

    Exactness: recency in whole days from the global max order date,
    frequency a count, monetary exact summed cents (DECIMAL) divided
    to dollars once. Output is the bounded segment rollup
    (≤125 rows): counts + average monetary per (r, f, m) cell.

    Scale posture: one per-customer aggregation (map-side combined),
    two broadcast one-row joins (reference date, boundaries), one
    bounded segment aggregation. Nothing sorts globally.
    """
    per_cust = (
        df.select(
            custkey.alias("_c"),
            orderdate.alias("_d"),
            F.floor(totalprice * 100).cast("long").alias("_cents"),
        )
        .groupBy("_c")
        .agg(
            F.max("_d").alias("_last"),
            F.count(F.lit(1)).alias("_f"),
            F.sum(F.col("_cents").cast("decimal(38,0)")).alias("_m"),
        )
        # pin the per-customer rollup: reference date, boundaries, and
        # scoring all reuse it — without this the raw table is scanned
        # once per consumer (4 scans observed in the executed plan)
        .localCheckpoint(eager=False)
    )
    ref = per_cust.agg(F.max("_last").alias("_ref"))
    cust = per_cust.crossJoin(F.broadcast(ref)).select(
        "_c",
        "_f",
        "_m",
        F.datediff(F.col("_ref"), F.col("_last")).alias("_rd"),
        (F.col("_m").cast("double") / 100).alias("_md"),
    )
    bounds = cust.agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY {c})"
            ).alias(f"_{n}{i}")
            for c, n in (("_rd", "r"), ("_f", "f"), ("_md", "m"))
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )
    def gt(col, pfx):
        return sum(
            F.when(col > F.col(f"_{pfx}{i}"), 1).otherwise(0)
            for i in range(1, 5)
        )

    scored = cust.crossJoin(F.broadcast(bounds)).select(
        "_c",
        "_m",
        (F.lit(5) - gt(F.col("_rd"), "r")).alias("r_score"),
        (F.lit(1) + gt(F.col("_f"), "f")).alias("f_score"),
        (F.lit(1) + gt(F.col("_md"), "m")).alias("m_score"),
    )
    from ..functions.rounding import round_ties_up_col

    # scale-robust close: cents/count quotients land on TRUE 4-dp ties
    # (small denominators), where F.round and DuckDB ROUND diverge —
    # the floor device is engine-identical (functions/rounding.py)
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        round_ties_up_col(
            F.sum("_m").cast("double")
            / F.count(F.lit(1)).cast("double")
            / 100,
            4,
        ).alias("avg_monetary"),
    )


def markov_transitions(
    df: DataFrame,
    entity: Column,
    ts: Column,
    state: Column,
    tiebreak: Column,
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences — P(next state | current state) estimated from observed
    consecutive pairs, the behavioral-model rollup (what follows a
    view? does signup ever follow error?) that complements the funnel
    (fixed step order) and the sessionizer (time gaps).

    Determinism contract: within an entity, events order by
    ``(ts, tiebreak)`` — the tiebreak column (any unique id) makes
    same-timestamp sequences well-defined, the ordering trap every
    lag/lead pipeline must close. Probabilities are exact integer
    pair counts divided by the exact per-source-state row total, one
    division to double.

    Scale posture: one per-entity ordered window (the entity is the
    parallelism unit) producing lag pairs map-side, one pair count
    aggregation (shuffle bounded by |states|², not |df|), and a
    per-source-state window over the tiny state-pair table for the
    row totals.
    """
    w = Window.partitionBy("_e").orderBy("_ts", "_tb")
    pairs = (
        df.select(
            entity.alias("_e"),
            ts.alias("_ts"),
            tiebreak.alias("_tb"),
            state.alias("_s"),
        )
        .withColumn("_prev", F.lag("_s").over(w))
        .where(F.col("_prev").isNotNull())
        .groupBy(
            F.col("_prev").alias("prev_state"),
            F.col("_s").alias("next_state"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_row = Window.partitionBy("prev_state")
    return pairs.select(
        "prev_state",
        "next_state",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_row).cast("double"),
            6,
        ).alias("p"),
    )


def transition_latency(
    df: DataFrame,
    entity: Column,
    ts: Column,
    state: Column,
    tiebreak: Column,
) -> DataFrame:
    """Time-to-transition distribution per (prev → next) state pair —
    the TIMING half of ``markov_transitions`` (that one says WHAT
    follows a view, this one says HOW LONG until it does): count,
    exact mean seconds, and median seconds between consecutive events
    of each pair.

    Exactness: deltas are exact epoch MICROseconds (long — second
    truncation differs between engines on fractional timestamps, so
    don't truncate); the mean is one DECIMAL sum divided once, the
    median is ``percentile_disc`` (an actual data point — the
    exact_percentiles_disc cross-engine parity), both divided to
    seconds at the end. Ordering determinism via the same
    (ts, tiebreak) contract as markov_transitions.

    Scale posture: one per-entity lag window, one aggregation keyed by
    the bounded state-pair set.
    """
    w = Window.partitionBy("_e").orderBy("_ts", "_tb")
    pairs = (
        df.select(
            entity.alias("_e"),
            ts.alias("_ts"),
            tiebreak.alias("_tb"),
            state.alias("_s"),
        )
        .withColumn("_prev", F.lag("_s").over(w))
        .withColumn("_prev_ts", F.lag("_ts").over(w))
        .where(F.col("_prev").isNotNull())
        .select(
            F.col("_prev").alias("prev_state"),
            F.col("_s").alias("next_state"),
            (
                _micros(F.col("_ts")) - _micros(F.col("_prev_ts"))
            ).alias("_gap_us"),
        )
    )
    return pairs.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.round(
            F.sum(F.col("_gap_us").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / 1000000.0,
            4,
        ).alias("avg_seconds"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _gap_us)")
            .cast("double")
            / 1000000.0,
            6,
        ).alias("median_seconds"),
    )


def weekday_seasonality(
    df: DataFrame,
    group: Column,
    ts: Column,
) -> DataFrame:
    """Per-group multiplicative weekday index over DENSIFIED daily
    counts — the STL-lite seasonal profile that complements
    ``acf_daily`` (ACF says *whether* there's a weekly rhythm; this
    says its SHAPE: Mondays run 1.3×, Sundays 0.4×) and feeds
    seasonally-adjusted anomaly baselines.

    ``seasonal_index(w) = avg(count | weekday w) / avg(count)``
    closes as ``(sum_w · days_all) / (days_w · sum_all)`` — one double
    division of exact integer products, engine-reproducible. The
    calendar is densified per group (missing days count 0, the
    ADVICE-r5 observed-days contract), so a weekday the feed skips
    entirely scores a genuine 0, not a hole. Weekday is ISO (1=Monday
    .. 7=Sunday).

    Scale posture: one groupBy to daily counts (shuffle bounded by
    |groups|×|days|), a per-group calendar explode (years, not rows),
    one weekday aggregation (7×|groups| rows) + a broadcast-sized
    per-group total join.
    """
    day = F.to_date(ts)
    c = (
        df.select(group.alias("_g"), day.alias("_d"))
        .groupBy("_g", "_d")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    bounds = c.groupBy("_g").agg(
        F.min("_d").alias("_d0"), F.max("_d").alias("_d1")
    )
    grid = bounds.select(
        "_g",
        F.explode(F.expr("sequence(_d0, _d1, interval 1 day)")).alias("_d"),
    )
    dense = grid.join(c, ["_g", "_d"], "left").select(
        "_g", "_d", F.coalesce(F.col("_c"), F.lit(0)).alias("_v")
    )
    wk = (
        dense.groupBy("_g", (F.weekday("_d") + 1).alias("weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.col("_v").cast("decimal(38,0)")).alias("_sv"),
        )
        # pinned: consumed twice (per-group totals + the final join)
        .localCheckpoint(eager=False)
    )
    tot = wk.groupBy("_g").agg(
        F.sum("n_days").alias("_nall"), F.sum("_sv").alias("_sall")
    )
    return wk.join(F.broadcast(tot), "_g").select(
        F.col("_g").alias("group"),
        "weekday",
        "n_days",
        F.round(
            F.col("_sv").cast("double") / F.col("n_days").cast("double"), 6
        ).alias("avg_count"),
        F.round(
            (F.col("_sv") * F.col("_nall")).cast("double")
            / (F.col("n_days") * F.col("_sall")).cast("double"),
            6,
        ).alias("seasonal_index"),
    )


def sequence_ngrams(
    df: DataFrame,
    entity: Column,
    ts: Column,
    state: Column,
    tiebreak: Column,
    n: int = 3,
    min_count: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Top consecutive state n-grams across per-entity event sequences
    — the sequential-pattern-mining step above the Markov matrix
    (order-1 says what follows a view; the trigram table finds the
    multi-step rituals: view→view→purchase vs view→click→purchase).

    Only CONSECUTIVE runs count (classic n-gram, not gappy
    subsequences — the gappy variant is exponential and needs
    PrefixSpan-style pruning; consecutive is one window pass).
    Ordering determinism via the (ts, tiebreak) contract; ranking
    (count DESC, gram ASC) is a total order.

    Scale posture: ONE per-entity ordered window computing n−1 lags in
    a single pass; the n-gram aggregation is keyed by the bounded
    |states|ⁿ pattern space (map-side combinable); top-k is
    TakeOrdered, never a corpus sort.
    """
    if n < 2:
        raise ValueError("sequence_ngrams needs n >= 2")
    w = Window.partitionBy("_e").orderBy("_ts", "_tb")
    seq = df.select(
        entity.alias("_e"),
        ts.alias("_ts"),
        tiebreak.alias("_tb"),
        state.alias("_s0"),
    )
    for i in range(1, n):
        seq = seq.withColumn(f"_s{i}", F.lag("_s0", i).over(w))
    grams = seq.where(F.col(f"_s{n - 1}").isNotNull()).select(
        *[
            F.col(f"_s{n - 1 - i}").alias(f"state_{i + 1}")
            for i in range(n)
        ]
    )
    gram_cols = [f"state_{i + 1}" for i in range(n)]
    counted = (
        grams.groupBy(*gram_cols)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    return counted.orderBy(
        F.desc("n_occurrences"), *[F.asc(c) for c in gram_cols]
    ).limit(top_k)


def build_training_labels(
    df: DataFrame,
    entity: Column,
    ts: Column,
    feature_days: int = 7,
    label_days: int = 14,
    snapshot_stride_days: int = 7,
) -> DataFrame:
    """Leakage-safe training-label construction — the supervised-ML
    companion every churn/propensity pipeline needs and gets wrong by
    peeking: at aligned snapshot dates, the FEATURE is activity in the
    trailing ``feature_days`` window (strictly before the snapshot)
    and the LABEL is whether the entity acts in the following
    ``label_days`` — past and future touch disjoint day ranges by
    construction, and right-censored snapshots (future window past the
    corpus horizon) are dropped rather than mislabeled negative.

    Mechanics: per-entity daily counts are DENSIFIED on the GLOBAL
    calendar (so snapshots align across entities and silent days count
    0); on a dense daily series, trailing/leading sums are exact ROWS
    windows (ROWS == RANGE on a gap-free grid — the acf_daily
    contract); snapshots are every ``snapshot_stride_days``-th day
    from the global minimum. All outputs are exact integers.

    Scale posture: one groupBy to daily counts, an |entities|×|days|
    dense-grid explode (the deliberate price of aligned zero-filled
    snapshots — document the day-span bound, it is calendar-, not
    event-, sized), ONE per-entity ordered window computing both the
    trailing feature sum and the leading label flag in a single pass,
    then a stride filter. Returns (entity, snapshot_date,
    past_events, label_active).
    """
    day = F.to_date(ts)
    c = (
        df.select(entity.alias("_e"), day.alias("_d"))
        .groupBy("_e", "_d")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    gb = F.broadcast(
        c.agg(F.min("_d").alias("_d0"), F.max("_d").alias("_d1"))
    )
    ents = c.select("_e").distinct()
    grid = ents.crossJoin(gb).select(
        "_e",
        "_d0",
        "_d1",
        F.explode(F.expr("sequence(_d0, _d1, interval 1 day)")).alias("_d"),
    )
    dense = grid.join(c, ["_e", "_d"], "left").select(
        "_e",
        "_d",
        "_d0",
        "_d1",
        F.coalesce(F.col("_c"), F.lit(0)).alias("_v"),
    )
    w = Window.partitionBy("_e").orderBy("_d")
    past = F.sum("_v").over(w.rowsBetween(-feature_days, -1))
    fut = F.sum("_v").over(w.rowsBetween(0, label_days - 1))
    lab = dense.select(
        "_e",
        "_d",
        "_d0",
        "_d1",
        F.coalesce(past, F.lit(0)).alias("past_events"),
        (F.coalesce(fut, F.lit(0)) > 0).alias("label_active"),
    )
    return lab.where(
        (F.datediff(F.col("_d"), F.col("_d0")) % snapshot_stride_days == 0)
        # full feature AND label windows must exist inside the corpus
        & (F.datediff(F.col("_d"), F.col("_d0")) >= feature_days)
        & (F.datediff(F.col("_d1"), F.col("_d")) >= label_days - 1)
    ).select(
        F.col("_e").alias("entity"),
        F.col("_d").alias("snapshot_date"),
        "past_events",
        "label_active",
    )


def logrank_test(
    per_entity: DataFrame,
    group: Column,
    duration: Column,
    event: Column,
) -> DataFrame:
    """Two-group log-rank test — the standard significance companion
    to :func:`kaplan_meier` (KM draws the two survival curves; this
    says whether they actually differ): over the POOLED distinct event
    times, compare observed group-1 events against the hypergeometric
    expectation from the shared risk set,

        χ² = (O₁ − E₁)² / V,   E₁ = Σ_t d_t·n₁t/n_t,
        V  = Σ_t d_t·(n₁t/n_t)·(1 − n₁t/n_t)·(n_t − d_t)/(n_t − 1).

    Input is one row per entity: boolean ``group``, integer
    ``duration``, 0/1 ``event`` (1 = observed, 0 = right-censored) —
    exactly what a spans+censor rule produces upstream.

    Determinism: risk sets and event counts are exact integers
    (duration-keyed aggregation + per-group cumulative over the
    densified duration×group grid); each time's E/V term is quantized
    ONCE to micro/nano-units with a fixed expression shape, so the
    sums fold order-free in longs and χ² closes as one final double
    expression — identical in any engine (the kaplan_meier/KL
    quantization contract). Times with n_t ≤ 1 or d_t = 0 contribute 0.

    Scale posture: one entity-level aggregation upstream (the caller),
    one (group, duration)-keyed count aggregation here, per-group
    cumulative windows over ≤ |distinct durations| rows (metadata,
    observation-span-bounded — the kaplan_meier allowlist category),
    one 1-row final fold.
    """
    pu = per_entity.select(
        group.cast("boolean").alias("_g"),
        duration.alias("_d"),
        event.cast("int").alias("_ev"),
    )
    bt = pu.groupBy("_g", "_d").agg(
        F.count(F.lit(1)).alias("_nt"), F.sum("_ev").alias("_ne")
    )
    durs = bt.select("_d").distinct()
    grps = bt.select("_g").distinct()
    grid = durs.crossJoin(F.broadcast(grps))
    dense = grid.join(bt, ["_g", "_d"], "left").select(
        "_g",
        "_d",
        F.coalesce(F.col("_nt"), F.lit(0)).alias("_nt"),
        F.coalesce(F.col("_ne"), F.lit(0)).alias("_ne"),
    )
    tot = dense.groupBy("_g").agg(F.sum("_nt").alias("_tot"))
    w = Window.partitionBy("_g").orderBy("_d")
    r = dense.join(F.broadcast(tot), "_g").select(
        "_g",
        "_d",
        "_nt",
        "_ne",
        (
            F.col("_tot")
            - F.coalesce(
                F.sum("_nt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).alias("_nr"),
    )
    by_d = r.groupBy("_d").agg(
        F.sum(F.when(F.col("_g"), F.col("_nr")).otherwise(0)).alias("_n1"),
        F.sum("_nr").alias("_n"),
        F.sum(F.when(F.col("_g"), F.col("_ne")).otherwise(0)).alias("_d1"),
        F.sum("_ne").alias("_dt"),
    )
    n = F.col("_n").cast("double")
    n1 = F.col("_n1").cast("double")
    dt = F.col("_dt").cast("double")
    e_u = F.when(
        (F.col("_dt") > 0) & (F.col("_n") > 0),
        F.floor((F.col("_dt") * F.col("_n1")).cast("double") * 1000000.0 / n),
    ).otherwise(F.lit(0)).cast("long")
    v_u = F.when(
        (F.col("_dt") > 0) & (F.col("_n") > 1),
        F.floor(
            dt
            * (n1 / n)
            * ((n - n1) / n)
            * ((n - dt) / (n - F.lit(1.0)))
            * 1000000000.0
        ),
    ).otherwise(F.lit(0)).cast("long")
    agg = by_d.agg(
        F.sum("_d1").alias("o1"),
        F.sum(e_u).alias("_e_u"),
        F.sum(v_u).alias("_v_u"),
        F.sum("_dt").alias("events_total"),
    )
    e1 = F.col("_e_u").cast("double") / 1000000.0
    v = F.col("_v_u").cast("double") / 1000000000.0
    diff = F.col("o1").cast("double") - e1
    return agg.select(
        "events_total",
        "o1",
        F.round(e1, 6).alias("e1"),
        F.round(F.try_divide(diff * diff, v), 6).alias("chi2"),
    )


def cohort_ltv(
    df: DataFrame,
    entity: Column,
    ts: Column,
    revenue: Column,
    cents: int = 100,
) -> DataFrame:
    """Weekly cohort lifetime-value curves — the REVENUE companion to
    :func:`cohort_retention` (retention says who comes back; LTV says
    what they're worth cumulatively): cohort = Monday-truncated
    first-seen week, each cell is the cohort's revenue at that week
    offset, and the curve is the running total divided by the ORIGINAL
    cohort size (per-acquired-user value, the number acquisition cost
    is compared against).

    Week offsets are DENSIFIED per cohort (zero-revenue weeks appear
    as flat curve segments, not holes). Revenue quantizes once to
    exact integer raw units (⌊value·cents⌋); the cumulative is an
    exact integer window sum divided once per row.

    Scale posture: one per-entity min aggregation, one (cohort,
    offset)-keyed revenue aggregation, a metadata-sized offset grid +
    per-cohort cumulative window (|cohorts|×|weeks| rows).
    """
    first = df.groupBy(entity.alias("_e")).agg(
        F.date_trunc("week", F.min(ts)).alias("_cw")
    )
    q = F.floor(revenue * F.lit(cents)).cast("long")
    rev = (
        df.select(entity.alias("_e"), ts.alias("_ts"), revenue.alias("_v"))
        .where(F.col("_v").isNotNull())
        .join(first, "_e")
        .select(
            "_cw",
            (
                F.datediff(
                    F.date_trunc("week", F.col("_ts")), F.col("_cw")
                )
                / 7
            )
            .cast("long")
            .alias("_off"),
            F.floor(F.col("_v") * F.lit(cents)).cast("long").alias("_q"),
        )
        .groupBy("_cw", "_off")
        .agg(F.sum("_q").alias("_rev"))
        .localCheckpoint(eager=False)
    )
    sizes = first.groupBy("_cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    span = rev.groupBy("_cw").agg(F.max("_off").alias("_mx"))
    grid = span.select(
        "_cw",
        F.explode(F.sequence(F.lit(0), F.col("_mx"))).alias("_off"),
    )
    dense = grid.join(rev, ["_cw", "_off"], "left").select(
        "_cw", "_off", F.coalesce(F.col("_rev"), F.lit(0)).alias("_rev")
    )
    w = Window.partitionBy("_cw").orderBy("_off").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cf = float(cents)
    return (
        dense.withColumn("_cum", F.sum("_rev").over(w))
        .join(F.broadcast(sizes), "_cw")
        .select(
            F.col("_cw").alias("cohort_week"),
            F.col("_off").alias("week_offset"),
            "cohort_size",
            F.round(F.col("_rev").cast("double") / F.lit(cf), 6).alias(
                "week_revenue"
            ),
            F.round(
                F.col("_cum").cast("double")
                / F.col("cohort_size").cast("double")
                / F.lit(cf),
                6,
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def seasonal_adjusted_bursts(
    df: DataFrame,
    group: Column,
    ts: Column,
    z_threshold: float = 2.5,
) -> DataFrame:
    """Seasonality-adjusted burst detection — the composition that
    closes the weekday loop: a plain daily z-score flags every Monday
    of a weekday-rhythmic feed as an anomaly; dividing each day's
    count by its group's multiplicative weekday index
    (:func:`weekday_seasonality`) first leaves only the bursts that
    are NOT explained by the weekly rhythm.

    Determinism: the adjusted count is quantized ONCE to micro-units
    with every factor an exact integer —
    ``⌊c·days_w·sum_all·10⁶ / (sum_w·days_all)⌋`` — so the per-group
    mean/sd fold in exact DECIMAL and each day's z closes in
    fixed-shape doubles (micro-unit scale cancels). Days on a weekday
    the feed NEVER fires (index 0) are excluded from both the moments
    and the output. DECIMAL budget: counts to ~10⁹/day keep the
    product under 10³⁴.

    Scale posture: one daily rollup (|groups|×|days| shuffle bound),
    the weekday index tables are 7×|groups| broadcasts, one per-group
    moment fold, one filtered output pass. Returns the bursting days:
    (group, day, n_events, adjusted, z).
    """
    day = F.to_date(ts)
    c = (
        df.select(group.alias("_g"), day.alias("_d"))
        .groupBy("_g", "_d")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    bounds = c.groupBy("_g").agg(
        F.min("_d").alias("_d0"), F.max("_d").alias("_d1")
    )
    grid = bounds.select(
        "_g",
        F.explode(F.expr("sequence(_d0, _d1, interval 1 day)")).alias("_d"),
    )
    dense = grid.join(c, ["_g", "_d"], "left").select(
        "_g",
        "_d",
        F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
        (F.weekday("_d") + 1).alias("_wd"),
    )
    wk = dense.groupBy("_g", "_wd").agg(
        F.count(F.lit(1)).alias("_dw"),
        F.sum("_c").alias("_sw"),
    ).localCheckpoint(eager=False)
    tot = wk.groupBy("_g").agg(
        F.sum("_dw").alias("_da"), F.sum("_sw").alias("_sa")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    adj_u = F.floor(
        (dec(F.col("_c")) * F.col("_dw") * F.col("_sa")).cast("double")
        * F.lit(1000000.0)
        / (F.col("_sw") * F.col("_da")).cast("double")
    ).cast("long")
    adjusted = (
        dense.join(F.broadcast(wk), ["_g", "_wd"])
        .join(F.broadcast(tot), "_g")
        .where(F.col("_sw") > 0)
        .select("_g", "_d", "_c", adj_u.alias("_au"))
        .localCheckpoint(eager=False)
    )
    mo = adjusted.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(F.col("_au"))).alias("_s"),
        F.sum(dec(F.col("_au")) * F.col("_au")).alias("_ss"),
    )
    n = F.col("_n").cast("double")
    m = F.col("_s").cast("double") / n
    sd = F.sqrt(
        (F.col("_ss").cast("double") - F.col("_s").cast("double") * m) / n
    )
    # exact integer zero-variance gate (n·Σv² − (Σv)², the
    # ols2_by_group discipline): a group whose ADJUSTED series is
    # constant has no bursts — without the exact check the float
    # radicand can land at a tiny NEGATIVE residual, sqrt gives NaN,
    # and Spark orders NaN above every threshold, flagging EVERY day
    var_exact = (
        F.col("_n").cast("decimal(38,0)") * F.col("_ss")
        - F.col("_s") * F.col("_s")
    )
    z = F.when(
        var_exact != 0,
        F.try_divide(F.col("_au").cast("double") - m, sd),
    )
    return (
        adjusted.join(F.broadcast(mo), "_g")
        .select(
            F.col("_g").alias("group"),
            F.col("_d").alias("day"),
            F.col("_c").alias("n_events"),
            F.round(F.col("_au").cast("double") / F.lit(1000000.0), 6).alias(
                "adjusted"
            ),
            F.round(z, 4).alias("z"),
        )
        .where(F.abs(F.col("z")) >= F.lit(z_threshold))
        .orderBy("group", "day")
    )


def attribution_credits(
    df: DataFrame,
    entity: Column,
    ts: Column,
    tiebreak: Column,
    is_touch: Column,
    is_conversion: Column,
    channel: Column,
    lookback_days: int = 7,
) -> DataFrame:
    """Multi-touch attribution — the four standard credit models
    computed side by side per channel: for every conversion, the
    touchpoints are the same entity's touch events in the
    ``lookback_days`` window strictly before it, and credit splits as

    - **first_touch** — 1 to the earliest touch,
    - **last_touch**  — 1 to the latest,
    - **linear**      — 1/n to each,
    - **position**    — 40/20/40: 0.4 first, 0.4 last, 0.2 split over
      middles (n=1 → 1, n=2 → 0.5/0.5),

    (the single-model last-touch join exists in streaming form; this
    is the model COMPARISON a marketing team actually debates).
    Fractional credits are exact integer micro-units (⌊10⁶/n⌋ etc.),
    so per-channel totals fold order-free; conversions with no touch
    in window contribute nothing.

    Scale posture: one entity-keyed join between conversions and
    touches with the time predicate (fan-out bounded by touches per
    lookback window per entity — the attribution join's inherent
    cost), one per-conversion rank window, one (channel, model)-keyed
    aggregation (map-side combinable).
    """
    base = df.select(
        entity.alias("_e"),
        ts.alias("_ts"),
        tiebreak.alias("_tb"),
        is_touch.alias("_it"),
        is_conversion.alias("_ic"),
        channel.alias("_ch"),
    )
    conv = base.where(F.col("_ic")).select(
        "_e",
        F.col("_ts").alias("_cts"),
        F.col("_tb").alias("_cid"),
    )
    touch = base.where(F.col("_it")).select(
        "_e", "_ts", "_tb", "_ch"
    )
    j = conv.join(touch, "_e").where(
        (F.col("_ts") < F.col("_cts"))
        & (
            F.col("_ts")
            >= F.col("_cts") - F.expr(f"interval {lookback_days} days")
        )
    )
    w = Window.partitionBy("_e", "_cid").orderBy("_ts", "_tb")
    ranked = j.select(
        "_e",
        "_cid",
        "_ch",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(
            Window.partitionBy("_e", "_cid")
        ).alias("_n"),
    )
    n = F.col("_n")
    r = F.col("_r")
    first_u = F.when(r == 1, F.lit(1000000)).otherwise(0)
    last_u = F.when(r == n, F.lit(1000000)).otherwise(0)
    linear_u = F.floor(F.lit(1000000.0) / n.cast("double")).cast("long")
    position_u = (
        F.when(n == 1, F.lit(1000000))
        .when((n == 2), F.lit(500000))
        .when(r == 1, F.lit(400000))
        .when(r == n, F.lit(400000))
        .otherwise(
            F.floor(F.lit(200000.0) / (n - 2).cast("double")).cast("long")
        )
    )
    models = F.array(
        F.struct(F.lit("first_touch").alias("model"), first_u.cast("long").alias("u")),
        F.struct(F.lit("last_touch").alias("model"), last_u.cast("long").alias("u")),
        F.struct(F.lit("linear").alias("model"), linear_u.alias("u")),
        F.struct(F.lit("position").alias("model"), position_u.cast("long").alias("u")),
    )
    exploded = ranked.select(
        "_ch", F.explode(models).alias("_m")
    ).select("_ch", "_m.model", "_m.u")
    return (
        exploded.groupBy(F.col("_ch").alias("channel"), "model")
        .agg(F.sum("u").alias("_cu"))
        .select(
            "channel",
            "model",
            F.round(F.col("_cu").cast("double") / 1000000.0, 6).alias(
                "credit"
            ),
        )
        .orderBy("channel", "model")
    )


def cox_ph_binary(
    df: DataFrame,
    duration: Column,
    event: Column,
    group: Column,
    iters: int = 4,
) -> DataFrame:
    """Cox proportional-hazards fit for ONE binary covariate (Breslow
    tie handling) — the third leg of the survival stool: Kaplan–Meier
    DESCRIBES each arm, the log-rank test DETECTS a difference,
    Cox QUANTIFIES it as a hazard ratio with the censoring handled
    properly (naive churn-rate ratios are biased by censoring).

    For binary x the partial-likelihood machinery collapses to
    per-event-time risk counts: with n0(t), n1(t) at risk and d(t),
    d1(t) events (d1 in group 1),

        U(β) = Σ_t d1 − d·(e^β·n1)/(n0 + e^β·n1)
        I(β) = Σ_t d·(e^β·n1·n0)/(n0 + e^β·n1)²

    and Newton iterates β ← β + U/I.

    Exactness contract: risk counts derive
    from ``distributed_cum_before`` over the duration-keyed aggregate
    (exact integers, ≤ |distinct durations| rows — observation-span
    bounded); per iteration β is a micro-unit INTEGER, e^β the one
    libm call on the identical exact operand, per-time score/info
    terms floor to micro-units and sum exactly, and the update floors
    back to micro — the whole trajectory replays in SQL. Degenerate
    contract: I ≤ 0 (no events in one arm at every time) → NULL β/HR
    from that iteration on.

    Scale posture: risk sets computed ONCE (one groupBy + the
    range-partition prefix sum); each Newton step is one map-side
    aggregation over the metadata-sized time table (5 numbers out).
    """
    from mlentory_etl_pipeline_spark.operators.stats import (
        distributed_cum_before,
    )

    q = df.select(
        duration.cast("long").alias("_t"),
        F.when(event, F.lit(1)).otherwise(F.lit(0)).alias("_e"),
        F.when(group, F.lit(1)).otherwise(F.lit(0)).alias("_g"),
    )
    bt = q.groupBy("_t").agg(
        F.sum(F.lit(1) - F.col("_g")).alias("_c0"),
        F.sum("_g").alias("_c1"),
        F.sum((F.lit(1) - F.col("_g")) * F.col("_e")).alias("_d0"),
        F.sum(F.col("_g") * F.col("_e")).alias("_d1"),
    )
    ranked = distributed_cum_before(bt, "_t", ["_c0", "_c1"])
    tot = F.broadcast(
        bt.agg(
            F.sum("_c0").alias("_t0"),
            F.sum("_c1").alias("_t1"),
            F.sum(F.col("_d0") + F.col("_d1")).alias("n_events"),
            F.sum(F.col("_c0") + F.col("_c1")).alias("n"),
        )
    )
    times = (
        ranked.crossJoin(tot.select("_t0", "_t1"))
        .where((F.col("_d0") + F.col("_d1")) > 0)
        .select(
            (F.col("_t0") - F.col("_cb__c0")).alias("_n0"),
            (F.col("_t1") - F.col("_cb__c1")).alias("_n1"),
            (F.col("_d0") + F.col("_d1")).alias("_d"),
            F.col("_d1").alias("_d1"),
        )
        .localCheckpoint(eager=False)
    )
    spark = df.sparkSession
    state = spark.range(1).select(F.lit(0).cast("long").alias("bm"))
    for _ in range(iters):
        j = times.crossJoin(F.broadcast(state))
        eb = F.exp(F.col("bm").cast("double") / F.lit(1000000.0))
        en1 = eb * F.col("_n1").cast("double")
        s0 = F.col("_n0").cast("double") + en1
        u_term = F.floor(
            (F.col("_d1").cast("double") - F.col("_d").cast("double") * (en1 / s0))
            * F.lit(1000000.0)
        ).cast("long")
        i_term = F.floor(
            (
                F.col("_d").cast("double")
                * ((en1 * F.col("_n0").cast("double")) / (s0 * s0))
            )
            * F.lit(1000000.0)
        ).cast("long")
        agg = j.groupBy("bm").agg(
            F.sum(u_term.cast("decimal(38,0)")).alias("_u"),
            F.sum(i_term.cast("decimal(38,0)")).alias("_i"),
        )
        state = agg.select(
            F.when(
                F.col("_i") > 0,
                F.col("bm")
                + F.floor(
                    F.col("_u").cast("double")
                    / F.col("_i").cast("double")
                    * F.lit(1000000.0)
                ).cast("long"),
            ).alias("bm"),
        ).localCheckpoint(eager=False)
    beta = F.col("bm") / F.lit(1000000.0)
    return state.crossJoin(tot.select("n", "n_events")).select(
        "n",
        "n_events",
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(F.round(beta, 6)), 6).alias("hazard_ratio"),
    )
