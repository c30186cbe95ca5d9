"""Group-wise statistics behind the registry's statistics queries.

What is here: the deterministic Poisson bootstrap (below), exact
prefix sums (:func:`distributed_cum_before`, also used by
``temporal.cox_ph_binary``), AUC and calibration bins, two-sample and
agreement tests (Mann-Whitney, KS, Welch, chi-squared, Cohen's kappa,
Krippendorff's alpha), per-group trends and series monitors (OLS,
EWMA, isotonic, ACF, rolling z-score, CUSUM), profile statistics
(Gini, Shannon diversity, weighted percentiles, correlation matrix,
jackknife), reciprocal-rank fusion for hybrid search
(:func:`rrf_fuse`) and an order-invariant dataset content digest.

The reference reports point aggregates only (count/avg audit queries,
``LoadProcessor.py:531-545``); a pipeline making data-driven curation
decisions (did the filter change mean quality? is the dedup rate
stable?) needs ERROR BARS on those aggregates. The classic bootstrap
resamples the dataset B times — impossible by materialization at
100 TB, standard via the POISSON approximation (Chamandy et al.,
Google 2012): each row enters replica b with multiplicity
``Poisson(1)``, approximating multinomial resampling with independent
per-(row, replica) draws, ONE pass, no data movement.

Determinism contract (what lets a *randomized* method run under a hard
SQL oracle): each row's base hash is its md5's first 60 bits mod
2³¹−1, computed ONCE; the per-replica uniform derives from it by an
affine permutation mod the same prime (the MinHash coefficient
scheme — B× cheaper than B md5 calls and identical in any engine);
the Poisson(1) inverse CDF is a CASE chain over HARD-CODED decimal
breakpoint literals (no libm call → no cross-engine rounding), and
replica statistics fold in exact DECIMAL arithmetic, dividing to
double only at the end. Same family of tricks as the DSIR /
lm_perplexity quantization scheme.

Scale posture: the explode is map-side (B× rows inside the scan
stage, never shuffled raw — partial aggregation combines per
(replica, group) before the exchange), so the shuffle carries
``B × |groups|`` rows. The CI step sorts B replica means — B rows,
one task, free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# P(Poisson(1) <= k) for k = 0..7, rounded to 15 significant digits.
# Literal breakpoints (not computed) so every engine parses the exact
# same doubles: determinism beats the ~1e-15 CDF truncation error.
POISSON1_CDF = [
    0.367879441171442,
    0.735758882342885,
    0.919698602928606,
    0.981011843123846,
    0.996340153172656,
    0.999405815182418,
    0.999916758850712,
    0.999989750803325,
]


def _poisson_weight(u: Column) -> Column:
    """Inverse-CDF lookup: uniform in [0,1) → Poisson(1) draw, capped
    at 8 (P(X > 8) ≈ 1.1e-6 — the cap is part of the contract and of
    the oracle)."""
    expr = F.lit(8)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


BOOTSTRAP_P = 2_147_483_647  # 2^31 − 1 (prime; the MinHash modulus)


def bootstrap_coeffs(n_replicas: int) -> list[tuple[int, int]]:
    """Deterministic affine constants for replica uniforms (a distinct
    multiplier family from ``dedup.minhash_coeffs`` so the two hash
    streams never correlate)."""
    return [
        ((48271 * (b + 1)) % BOOTSTRAP_P, (16807 * (b + 1)) % BOOTSTRAP_P)
        for b in range(n_replicas)
    ]


def bootstrap_replicas(
    df: DataFrame,
    key: Column,
    value: Column,
    n_replicas: int = 64,
    scale: int = 2,
) -> DataFrame:
    """B Poisson-bootstrap replica means of ``value``.

    ``key`` must be a deterministic row identity (content key, not
    position). Returns ``(replica, n_eff, mean_value)`` — one row per
    replica, mean rounded to 6 dp after an exact decimal weighted sum.

    Each row is hashed ONCE (md5 → 60 bits mod 2³¹−1); the B replica
    uniforms derive from that base hash by affine permutations mod the
    same prime — the MinHash coefficient scheme, B× cheaper than B
    md5 calls (the one-md5-per-(row, replica) variant measured ~100 s
    for 600k rows × 64 at sf0.1; this one ~10 s, identical plan shape)
    and equally engine-portable. Trade-off: within one row the replica
    draws come from a structured affine family rather than independent
    hashes — across rows (what each replica's sum aggregates) they
    remain independent, which is the axis Poisson bootstrap needs.

    The weighted sums fold in exact INTEGER raw units
    (``floor(value·10^scale)`` longs — note floor, not round), divided
    back to double once at the end: long aggregation runs ~10× faster
    than the decimal fold through the 64× explode (measured 9.0 s vs
    0.9 s steady at sf0.1 — the B×N multiply-accumulate is the entire
    operator, and decimal128 arithmetic is the wrong engine for it).
    Overflow bound: |Σ w·v_raw| ≤ 8·max_raw·N per replica, so N up to
    ~10¹⁴ rows at max_raw ≈ 10⁴ fits int64 — beyond that, raise
    ``scale`` down or split replicas.
    """
    coeffs = bootstrap_coeffs(n_replicas)
    rep = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("replica")
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("_k")), 1, 15), 16, 10).cast("long"),
        F.lit(BOOTSTRAP_P),
    )
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    u = (
        F.pmod(
            F.element_at(a_arr, F.col("replica") + 1) * F.col("_h")
            + F.element_at(b_arr, F.col("replica") + 1),
            F.lit(BOOTSTRAP_P),
        ).cast("double")
        / F.lit(float(BOOTSTRAP_P))
    )
    weighted = df.select(
        key.cast("string").alias("_k"),
        F.floor(value * F.lit(10**scale)).cast("long").alias("_v"),
    ).select(
        h.alias("_h"), "_v"
    ).select(
        rep, "_h", "_v"
    ).select("replica", _poisson_weight(u).alias("_w"), "_v")
    return (
        weighted.groupBy("replica")
        .agg(
            F.sum("_w").alias("n_eff"),
            F.sum(F.col("_w") * F.col("_v")).alias("_wsum"),
        )
        .select(
            "replica",
            "n_eff",
            F.round(
                F.col("_wsum").cast("double")
                / F.col("n_eff").cast("double")
                / F.lit(float(10**scale)),
                6,
            ).alias("mean_value"),
        )
    )


def bootstrap_ci(
    df: DataFrame,
    key: Column,
    value: Column,
    n_replicas: int = 64,
    lo_rank: int = 2,
    hi_rank: int = 62,
    scale: int = 2,
) -> DataFrame:
    """One-row bootstrap interval: the point mean (exact decimal over
    the REAL dataset) plus the ``lo_rank``-th / ``hi_rank``-th order
    statistics of the B replica means (ranks, not interpolated
    percentiles, so both engines select the identical elements —
    defaults ≈ the 2.5%/97.5% band at B=64)."""
    reps = bootstrap_replicas(df, key, value, n_replicas, scale)
    # constant-partition window: ranks B replica rows (64), bounded by
    # the replica count, never by data size
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.asc("mean_value"), F.asc("replica")
    )
    ranked = reps.select(
        "mean_value", F.row_number().over(w).alias("_r")
    )
    bounds = ranked.agg(
        F.max(F.when(F.col("_r") == lo_rank, F.col("mean_value"))).alias("ci_lo"),
        F.max(F.when(F.col("_r") == hi_rank, F.col("mean_value"))).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_replicas"),
    )
    point = df.agg(
        F.round(
            F.sum(value.cast(f"decimal(18,{scale})")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("point_mean")
    )
    return point.crossJoin(F.broadcast(bounds)).select(
        "point_mean", "ci_lo", "ci_hi", "n_replicas"
    )


def distributed_cum_before(
    g: DataFrame, order_col: str, weight_cols: list[str]
) -> DataFrame:
    """EXCLUSIVE prefix sums of ``weight_cols`` over ``g`` ordered by
    ``order_col``, with no single-partition WindowExec — the shared
    rank primitive behind exact_auc / mann_whitney_u / ks_two_sample
    and the V8 entity-chunking shape (versioned_store.assign_chunks):

    1. ``repartitionByRange`` on ``order_col`` (range order == sort
       order, so partition id IS the global bucket index),
    2. local running sum per range partition (bounded by the bucket),
    3. per-range totals folded to global offsets via a tiny triangular
       self-join, broadcast back.

    Adds one ``_cb_<w>`` column per weight column; all other columns
    of ``g`` pass through. ``localCheckpoint(eager=False)`` pins the
    partition ids so the three consumers of ``ranged`` agree (the
    documented cluster substitute is a checkpoint dir — SCALE.md).
    """
    n_ranges = int(
        g.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranged = (
        g.repartitionByRange(n_ranges, order_col)
        .withColumn("_rng", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_local = (
        Window.partitionBy("_rng")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = ranged.groupBy("_rng").agg(
        *[F.sum(w).alias(f"_tot_{w}") for w in weight_cols]
    )
    offsets = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b._rng") < F.col("a._rng"), "left")
        .groupBy(F.col("a._rng").alias("_rng"))
        .agg(
            *[
                F.coalesce(F.sum(f"b._tot_{w}"), F.lit(0)).alias(f"_off_{w}")
                for w in weight_cols
            ]
        )
    )
    out = ranged.join(F.broadcast(offsets), "_rng")
    for w in weight_cols:
        local_prec = F.coalesce(F.sum(w).over(w_local), F.lit(0))
        out = out.withColumn(f"_cb_{w}", F.col(f"_off_{w}") + local_prec)
    return out.drop("_rng", *[f"_off_{w}" for w in weight_cols])


def exact_auc(
    df: DataFrame,
    label: Column,
    score: Column,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact tie-corrected ROC AUC (Mann-Whitney U) of ``score``
    against the boolean ``label`` — the evaluation primitive behind
    every quality-classifier audit (does the NB/fasttext score actually
    separate keep from drop?). The reference ships classifiers but no
    ranking-quality audit; a curation pipeline that THRESHOLDS a score
    needs its AUC measured on pseudo-labels before the threshold ships.

    Exactness contract: scores quantize to ``floor(score·scale)``
    longs FIRST (tie groups are then engine-identical integers), and
    the tie-corrected rank-sum closes in pure integer arithmetic:
    per distinct quantized score with ``c`` rows (``p`` positive) and
    ``cb`` rows strictly below it, twice the average 1-based rank of
    the group is ``2·cb + c + 1``, so

        AUC = (Σ_g p_g·(2·cb_g + c_g + 1) − P·(P+1)) / (2·P·N)

    with one division to double at the end. Equals the probability a
    random positive outranks a random negative, ties counted half.

    Scale posture: one groupBy on the quantized score (map-side
    combined — the shuffle carries |distinct scores| ≤ score-range ×
    scale rows, bounded by the quantization, NOT by |df|), then the
    cum-below rank via the DISTRIBUTED prefix sum (range partition +
    local window + triangular offsets — the V8 entity-chunking shape),
    so there is no single-partition WindowExec even when the
    quantized-score table is itself large.

    Degenerate-input contract: with zero positives or zero negatives
    AUC is undefined — the row comes back with ``auc = NULL``
    (``try_divide``, so the same under ANSI mode) and the caller reads
    ``n_pos``/``n_neg`` to see why.
    """
    q = df.select(
        F.floor(score * scale).cast("long").alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = q.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_c"), F.sum("_y").alias("_p")
    )
    ranked = distributed_cum_before(g, "_s", ["_c"]).select(
        "_c", "_p", F.col("_cb__c").alias("_cb")
    )
    agg = ranked.agg(
        # the rank-sum reaches ~2N^2 at data scale: accumulate DECIMAL
        F.sum(
            (F.col("_p") * (2 * F.col("_cb") + F.col("_c") + 1)).cast(
                "decimal(38,0)"
            )
        ).alias("_rs2"),
        F.sum("_p").alias("n_pos"),
        F.sum(F.col("_c") - F.col("_p")).alias("n_neg"),
    )
    pos = F.col("n_pos").cast("decimal(38,0)")
    neg = F.col("n_neg").cast("decimal(38,0)")
    num = F.col("_rs2") - pos * (pos + 1)
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.try_divide(num.cast("double"), (2 * pos * neg).cast("double")), 6
        ).alias("auc"),
    )


def mann_whitney_u(
    df: DataFrame,
    group: Column,
    value: Column,
    a,
    b,
    scale: int = 1_000_000,
) -> DataFrame:
    """Mann-Whitney U rank-sum test between groups ``a`` and ``b`` of
    ``group`` — the nonparametric sibling of ``welch_t_test`` for the
    same A/B decision when values are skewed/heavy-tailed (latency,
    spend, document quality scores) and a mean test misleads. The
    reference reports raw aggregates only (``LoadProcessor.py:531-545``);
    a curation pipeline comparing two variants needs a distribution-
    free verdict.

    Exactness contract (the exact_auc scheme): values quantize to
    ``floor(value·scale)`` longs first; the tie-corrected rank-sum
    closes in pure integer arithmetic — per distinct quantized value
    with ``c`` rows (``c1`` in group a) and ``cb`` rows strictly
    below, twice group a's rank-sum is ``Σ c1·(2·cb + c + 1)``
    (DECIMAL(38,0)); ``2·U_a = 2·R_a − n_a(n_a+1)``. The normal
    approximation with the standard tie correction

        z = (2·U_a − n_a·n_b) / (2·σ),
        σ² = n_a·n_b/12 · (n+1 − T/(n(n−1))),  T = Σ(c³−c)

    closes in double on identical exact operands (one SQRT, no libm
    beyond it — the welch_t_test posture).

    Scale posture: one groupBy on the quantized value (shuffle bounded
    by |distinct values|, not |df|), then ``distributed_cum_before``
    — no single-partition window. Degenerate contract: z is NULL when
    either group is empty or all values tie — the all-tie case is
    decided on the EXACT integer tie factor ``n(n+1)(n−1) − T`` in
    DECIMAL (the ols2_by_group discipline: the float σ² lands at a
    tiny nonzero residual instead of 0 once n³ passes 2⁵³, which
    would emit a garbage z instead of NULL).
    """
    q = df.where(group.isin(a, b)).select(
        F.floor(value * scale).cast("long").alias("_s"),
        F.when(group == a, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = q.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_c"), F.sum("_y").alias("_c1")
    )
    ranked = distributed_cum_before(g, "_s", ["_c"]).select(
        "_c", "_c1", F.col("_cb__c").alias("_cb")
    )
    agg = ranked.agg(
        F.sum(
            (F.col("_c1") * (2 * F.col("_cb") + F.col("_c") + 1)).cast(
                "decimal(38,0)"
            )
        ).alias("_rs2"),
        F.sum("_c1").alias("n_a"),
        F.sum(F.col("_c") - F.col("_c1")).alias("n_b"),
        F.sum(
            (
                F.col("_c").cast("decimal(38,0)") * F.col("_c") * F.col("_c")
                - F.col("_c")
            )
        ).alias("_tie"),
    )
    na = F.col("n_a").cast("decimal(38,0)")
    nb = F.col("n_b").cast("decimal(38,0)")
    n = F.col("n_a") + F.col("n_b")
    two_u = (F.col("_rs2") - na * (na + 1)).cast("double")
    var12 = na.cast("double") * nb.cast("double") / F.lit(12.0) * (
        (n + 1).cast("double")
        - F.col("_tie").cast("double")
        / (n.cast("double") * (n - 1).cast("double"))
    )
    # exact integer all-tie check: σ² = 0 ⟺ n(n+1)(n−1) − T = 0
    n_dec = (F.col("n_a") + F.col("n_b")).cast("decimal(38,0)")
    tie_factor = n_dec * (n_dec + 1) * (n_dec - 1) - F.col("_tie")
    return agg.select(
        "n_a",
        "n_b",
        F.round(two_u / 2, 1).alias("u_a"),
        F.round(
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0) & (tie_factor != 0),
                F.try_divide(
                    two_u - na.cast("double") * nb.cast("double"),
                    2 * F.sqrt(var12),
                ),
            ),
            4,
        ).alias("z_value"),
    )


def ks_two_sample(
    df: DataFrame,
    group: Column,
    value: Column,
    a,
    b,
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between groups ``a`` and
    ``b`` — the whole-distribution drift check (did this week's score /
    value / quality distribution shift vs last week's?) that a mean or
    rank test can miss. The canonical monitoring primitive over a
    curation score column.

    Exactness contract: values quantize to ``floor(value·scale)``
    longs; per distinct value the two samples' INCLUSIVE cumulative
    counts come from ``distributed_cum_before`` + the value's own
    counts, and the sup-distance closes in integers first:
    ``D = max |cum_a·n_b − cum_b·n_a| / (n_a·n_b)`` — one division to
    double at the end. ``ks_stat = D·sqrt(n_a·n_b/(n_a+n_b))`` is the
    scaled statistic (p ≈ 2·exp(−2·ks_stat²), left to the caller: no
    cross-engine libm exp in oracled output; SQRT only, the
    welch/mann-whitney posture).

    Scale posture: groupBy on the quantized value bounds the shuffle
    by |distinct values|; the totals row is a broadcast cross-join;
    the sup is one max aggregation. NULL stats when a group is empty.
    """
    q = df.where(group.isin(a, b)).select(
        F.floor(value * scale).cast("long").alias("_s"),
        F.when(group == a, F.lit(1)).otherwise(F.lit(0)).alias("_ya"),
        F.when(group == b, F.lit(1)).otherwise(F.lit(0)).alias("_yb"),
    )
    g = q.groupBy("_s").agg(
        F.sum("_ya").alias("_ca"), F.sum("_yb").alias("_cb_ct")
    )
    ranked = distributed_cum_before(g, "_s", ["_ca", "_cb_ct"]).select(
        (F.col("_cb__ca") + F.col("_ca")).alias("_cuma"),
        (F.col("_cb__cb_ct") + F.col("_cb_ct")).alias("_cumb"),
    )
    totals = g.agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb_ct").alias("n_b")
    )
    na = F.col("n_a").cast("decimal(38,0)")
    nb = F.col("n_b").cast("decimal(38,0)")
    dnum = ranked.crossJoin(F.broadcast(totals)).agg(
        F.max(
            F.abs(
                F.col("_cuma").cast("decimal(38,0)") * nb
                - F.col("_cumb").cast("decimal(38,0)") * na
            )
        ).alias("_dnum"),
        F.min("n_a").alias("n_a"),
        F.min("n_b").alias("n_b"),
    )
    d = F.try_divide(
        F.col("_dnum").cast("double"),
        (na * nb).cast("double"),
    )
    return dnum.select(
        "n_a",
        "n_b",
        F.round(d, 6).alias("ks_d"),
        F.round(
            d
            * F.sqrt(
                F.try_divide(
                    (na * nb).cast("double"), (na + nb).cast("double")
                )
            ),
            6,
        ).alias("ks_stat"),
    )


def cohen_kappa(
    df: DataFrame,
    rater_a: Column,
    rater_b: Column,
) -> DataFrame:
    """Cohen's kappa between two categorical labelers over the same
    rows — the inter-annotator-agreement audit (rule classifier vs
    model classifier, two model versions, human vs heuristic) that
    decides whether a cheaper labeler can replace an expensive one.

    Closed in exact integer arithmetic:

        kappa = (N·Σ_k n_kk − Σ_k a_k·b_k) / (N² − Σ_k a_k·b_k)

    where ``n_kk`` is the agreement diagonal and ``a_k``/``b_k`` the
    per-category marginals — the observed/expected-agreement form with
    both N divisions cleared, so partitioning cannot move the result;
    one division to double at the end. Returns one row
    ``(n_items, n_agree, po, pe, kappa)`` (po/pe rounded 6 dp).

    Degenerate-input contract: when both raters use a SINGLE category
    (pe = 1, the kappa denominator N²−Σa·b is 0) kappa is undefined
    and comes back NULL (``try_divide`` — same under ANSI mode);
    likewise po/pe/kappa on an empty input.

    Scale posture: one groupBy on the (a, b) label pair — the shuffle
    carries |categories|² rows regardless of |df| (marginals derive
    from the same aggregate, no second scan).
    """
    pairs = (
        df.select(
            rater_a.cast("string").alias("_a"),
            rater_b.cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        # |categories|² rows; pinned so the three consumers below
        # (marginals × 2, observed) don't re-aggregate the input
        .localCheckpoint(eager=False)
    )
    am = pairs.groupBy("_a").agg(F.sum("_n").alias("_an"))
    bm = pairs.groupBy("_b").agg(F.sum("_n").alias("_bn"))
    exp = (
        am.join(bm, F.col("_a") == F.col("_b"))
        .agg(
            # marginal products reach N² per category: DECIMAL sum
            F.sum(
                (F.col("_an").cast("decimal(38,0)") * F.col("_bn"))
            ).alias("_e")
        )
    )
    obs = pairs.agg(
        F.sum("_n").alias("_nn"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_n")).otherwise(0)).alias(
            "_d"
        ),
    )
    d = "decimal(38,0)"
    nn = F.col("_nn").cast(d)
    dg = F.col("_d").cast(d)
    e = F.coalesce(F.col("_e"), F.lit(0).cast(d)).cast(d)
    return obs.crossJoin(F.broadcast(exp)).select(
        F.col("_nn").alias("n_items"),
        F.col("_d").alias("n_agree"),
        F.round(F.try_divide(dg.cast("double"), nn.cast("double")), 6).alias("po"),
        F.round(
            F.try_divide(e.cast("double"), (nn * nn).cast("double")), 6
        ).alias("pe"),
        F.round(
            F.try_divide(
                (nn * dg - e).cast("double"), (nn * nn - e).cast("double")
            ),
            6,
        ).alias("kappa"),
    )


def acf_daily(
    df: DataFrame,
    group: Column,
    ts: Column,
    max_lag: int = 7,
) -> DataFrame:
    """Per-group autocorrelation of DAILY event counts at lags
    1..``max_lag`` — the seasonality fingerprint (a strong lag-7 says
    weekly rhythm; a collapsing lag-1 says the feed decorrelated) that
    complements rolling_zscore_anomalies. The calendar is DENSIFIED
    per group (``sequence`` over [min_day, max_day], missing days
    count 0) so zero-event days weigh in — the observed-days
    trap flagged on the rolling z-score (ADVICE r5) does not apply.

    Exactness contract: counts are integers, so every lag's sufficient
    statistics are exact DECIMAL sums — P_k = Σ c_t·c_{t+k},
    A_k = Σ_{t≤n−k} c_t, B_k = Σ_{t>k} c_t, plus n, S, SS — and

        r_k = (P_k − m·(A_k + B_k) + (n−k)·m²) / (SS − n·m²),  m = S/n

    closes in double on identical exact operands (zero-variance and
    short-series groups yield NULL acf via try_divide/NULL sums).

    Scale posture: one groupBy to daily counts (shuffle bounded by
    |groups|×|days|, not |df|), a per-group dense-grid explode (years,
    not rows), ONE per-group ordered window computing all ``max_lag``
    leads in a single pass, one aggregation; the lag unpivot is over
    |groups|×max_lag rows.
    """
    day = F.to_date(ts)
    c = (
        df.select(group.alias("_g"), day.alias("_d"))
        .groupBy("_g", "_d")
        .agg(F.count(F.lit(1)).alias("_c"))
        # pin the daily rollup: both the bounds pass and the grid join
        # reuse it — otherwise the raw table is scanned twice
        .localCheckpoint(eager=False)
    )
    bounds = c.groupBy("_g").agg(
        F.min("_d").alias("_d0"), F.max("_d").alias("_d1")
    )
    grid = bounds.select(
        "_g",
        F.explode(
            F.expr("sequence(_d0, _d1, interval 1 day)")
        ).alias("_d"),
    )
    dense = grid.join(c, ["_g", "_d"], "left").select(
        "_g", "_d", F.coalesce(F.col("_c"), F.lit(0)).alias("_v")
    )
    w = Window.partitionBy("_g").orderBy("_d")
    leads = dense.select(
        "_g",
        "_v",
        *[F.lead("_v", k).over(w).alias(f"_v{k}") for k in range(1, max_lag + 1)],
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dec(F.col("_v"))).alias("_s"),
        F.sum(dec(F.col("_v")) * F.col("_v")).alias("_ss"),
    ]
    for k in range(1, max_lag + 1):
        vk = F.col(f"_v{k}")
        aggs += [
            F.sum(
                F.when(vk.isNotNull(), dec(F.col("_v")) * vk)
            ).alias(f"_p{k}"),
            F.sum(F.when(vk.isNotNull(), dec(F.col("_v")))).alias(f"_a{k}"),
            F.sum(dec(vk)).alias(f"_b{k}"),
        ]
    a = leads.groupBy("_g").agg(*aggs)
    m = F.col("_s").cast("double") / F.col("n_days").cast("double")
    den = F.col("_ss").cast("double") - F.col("n_days").cast("double") * m * m
    # exact integer zero-variance check: n·Σv² − (Σv)² in DECIMAL —
    # a CONSTANT daily series must yield NULL acf, and the float den
    # above only lands at exactly 0 while n·m² stays inside 2⁵³
    nd_dec = F.col("n_days").cast("decimal(38,0)")
    den_exact = nd_dec * F.col("_ss") - F.col("_s") * F.col("_s")
    lag_rows = []
    for k in range(1, max_lag + 1):
        num = (
            F.col(f"_p{k}").cast("double")
            - m * (F.col(f"_a{k}") + F.col(f"_b{k}")).cast("double")
            + (F.col("n_days") - k).cast("double") * m * m
        )
        lag_rows.append(
            F.struct(
                F.lit(k).alias("lag"),
                F.round(
                    F.when(den_exact != 0, F.try_divide(num, den)), 6
                ).alias("acf"),
            )
        )
    return a.select(
        F.col("_g").alias("group"),
        "n_days",
        F.explode(F.array(*lag_rows)).alias("_lr"),
    ).select(
        "group",
        "n_days",
        F.col("_lr.lag").alias("lag"),
        F.col("_lr.acf").alias("acf"),
    )


def ols2_by_group(
    df: DataFrame,
    keys: list[str],
    x1: Column,
    x2: Column,
    y: Column,
    y_scale: int = 100,
) -> DataFrame:
    """Per-group TWO-feature least squares ``y ~ b0 + b1·x1 + b2·x2``
    via closed-form 2×2 normal equations — the multivariate step past
    ``groupwise_trend`` (simple OLS): does the target depend on both
    drivers jointly, controlling for each other? One aggregation pass,
    nine exact sufficient statistics per group.

    Exactness contract: x1/x2 must be integer-valued drivers (hour,
    weekday, bucket ids — the caller quantizes); y quantizes to
    ``floor(y·y_scale)`` longs. All nine sums (n, Σx1, Σx2, Σy, Σx1²,
    Σx1x2, Σx2², Σx1y, Σx2y) accumulate in DECIMAL(38,0). The centered
    moments and the determinant are then formed EXACTLY in
    DECIMAL(38,0) — ``M11 = n·Σx1² − (Σx1)²``, ``M12 = n·Σx1x2 −
    Σx1·Σx2``, ``M22 = n·Σx2² − (Σx2)²``, ``DET = M11·M22 − M12²``
    (the n-scaled forms of the per-n centered moments — DET comes out
    n²-scaled; the scale cancels in every ratio) — and collinearity
    is decided on the
    EXACT integer DET, never on a float-rounded one (the
    ``groupwise_trend`` discipline: a float-closed ``m11·m22 − m12²``
    lands at ~2e-16 instead of 0 on exactly-collinear regressors and
    emits garbage coefficients / R² > 1). Only after ``DET ≠ 0`` do
    the coefficients and R² close in double on identical exact
    operands in a FIXED operation order (no libm). Collinear or
    degenerate groups return NULL b1/b2/b0/r2; SYY = 0 (constant y)
    returns NULL r2.

    Exactness bound: DET = M11·M22 − M12² must fit DECIMAL(38,0).
    With bounded drivers |x| ≤ X, M ≤ n²·X², so DET ≤ n⁴·X⁴ — for
    hour/day-of-month drivers (X ≤ 31) that holds to n ≈ 10⁸ rows
    per group; callers with larger drivers re-bucket first.

    Scale posture: one map-side-combinable groupBy — the shuffle
    carries 9 numbers per group; nothing else scales with |df|.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    q = df.select(
        *keys,
        x1.cast("long").alias("_x1"),
        x2.cast("long").alias("_x2"),
        F.floor(y * y_scale).cast("long").alias("_y"),
    )
    a = q.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("_x1"))).alias("_s1"),
        F.sum(dec(F.col("_x2"))).alias("_s2"),
        F.sum(dec(F.col("_y"))).alias("_sy"),
        F.sum(dec(F.col("_x1")) * F.col("_x1")).alias("_s11"),
        F.sum(dec(F.col("_x1")) * F.col("_x2")).alias("_s12"),
        F.sum(dec(F.col("_x2")) * F.col("_x2")).alias("_s22"),
        F.sum(dec(F.col("_x1")) * F.col("_y")).alias("_s1y"),
        F.sum(dec(F.col("_x2")) * F.col("_y")).alias("_s2y"),
        F.sum(dec(F.col("_y")) * F.col("_y")).alias("_syy"),
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    s = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # Exact n-scaled centered moments and exact determinant (DECIMAL):
    # the zero-check happens HERE, before any double rounding exists.
    M11 = (n_dec * s("_s11") - s("_s1") * s("_s1")).alias("_M11")
    M12 = (n_dec * s("_s12") - s("_s1") * s("_s2")).alias("_M12")
    M22 = (n_dec * s("_s22") - s("_s2") * s("_s2")).alias("_M22")
    C1 = (n_dec * s("_s1y") - s("_s1") * s("_sy")).alias("_C1")
    C2 = (n_dec * s("_s2y") - s("_s2") * s("_sy")).alias("_C2")
    SYY = (n_dec * s("_syy") - s("_sy") * s("_sy")).alias("_SYY")
    m = a.select(*keys, "n", "_s1", "_s2", "_sy", M11, M12, M22, C1, C2, SYY)
    DET = F.col("_M11") * F.col("_M22") - F.col("_M12") * F.col("_M12")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n_d = F.col("n").cast("double")
    # Double close only under the exact DET ≠ 0 guard; every operand
    # below is the double image of an exact decimal, combined in a
    # fixed order replicated by the oracle.
    b1 = F.when(
        DET != 0,
        (d("_C1") * d("_M22") - d("_C2") * d("_M12")) / DET.cast("double"),
    )
    b2 = F.when(
        DET != 0,
        (d("_C2") * d("_M11") - d("_C1") * d("_M12")) / DET.cast("double"),
    )
    b0 = (d("_sy") - b1 * d("_s1") - b2 * d("_s2")) / n_d
    # SSE and SST in the same n-scale: sse·n = SYY − b1·C1 − b2·C2.
    sse = d("_SYY") - b1 * d("_C1") - b2 * d("_C2")
    r2 = F.when(
        F.col("_SYY") != 0, F.lit(1.0) - sse / d("_SYY")
    )  # NULL when SYY = 0 exactly, or when b1/b2 are NULL (det = 0)
    return m.select(
        *keys,
        "n",
        F.round(b0 / y_scale, 6).alias("b0"),
        F.round(b1 / y_scale, 6).alias("b1"),
        F.round(b2 / y_scale, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


def gini_by_group(
    df: DataFrame,
    group: Column,
    value: Column,
    scale: int = 100,
) -> DataFrame:
    """Per-group Gini coefficient of ``value`` — the one-number
    concentration audit (is corpus volume dominated by a few sources?
    is spend concentrated in a few customers?). The reference reports
    plain counts (``LoadProcessor.py:531-545``); a mixture builder
    needs to SEE concentration before reweighting.

    Exactness contract: values quantize to ``floor(value·scale)``
    longs; with per-group ascending ranks ``i`` the closed form

        G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)

    accumulates both sums in DECIMAL(38,0) (rank·value reaches n·max
    at data scale) and divides once in double. Rank ties are benign:
    permuting equal values leaves Σ i·x_i unchanged, so the
    nondeterministic row_number among ties cannot change the result.
    Intended for non-negative values (Gini is ill-defined below 0);
    NULL gini (try_divide) when a group's total is 0.

    Scale posture: ONE per-group sort window (partitioned — the group
    is the parallelism unit; a single pathological group bounds one
    task, the documents/customers groupings here are thousands of
    rows each) + one aggregation.
    """
    q = df.select(
        group.alias("_g"),
        F.floor(value * scale).cast("long").alias("_v"),
    )
    w = Window.partitionBy("_g").orderBy("_v")
    r = q.withColumn("_i", F.row_number().over(w))
    agg = r.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_v").cast("decimal(38,0)")).alias("_s"),
        F.sum(
            (F.col("_i").cast("decimal(38,0)") * F.col("_v"))
        ).alias("_w"),
    )
    s_d = F.col("_s").cast("double")
    w_d = F.col("_w").cast("double")
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("_g").alias("group"),
        "n",
        F.round(s_d / scale, 2).alias("total_value"),
        F.round(
            F.try_divide(
                2 * w_d - (F.col("n") + 1).cast("double") * s_d, n_d * s_d
            ),
            6,
        ).alias("gini"),
    )


def jackknife_mean(
    df: DataFrame,
    group: Column,
    value: Column,
    scale: int = 100,
) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of the overall mean
    of ``value`` — "how sensitive is the corpus average to dropping
    any one source?", the robustness error bar that complements the
    Poisson bootstrap (rows resample independently there; here whole
    correlated blocks leave together, the right model when sources
    are the unit of contamination).

    θ̂_(i) = (S − s_i)/(N − n_i) over exact quantized-long sums; each
    deleted mean then quantizes to micro-longs (``floor(θ·10⁶+0.5)``,
    the zipf_slope trick) so the across-group variance

        SE² = (g−1)/g · Σ(θ̂_(i) − θ̄)²

    closes in double on identical exact operands in both engines
    (GREATEST(0,·) guards the ~1-ulp negative variance case before
    the single SQRT). One row out: n_rows, n_groups, theta_hat,
    jack_se.

    Scale posture: one group aggregation (map-side combined), one
    broadcast totals row, one final fold over g group rows — nothing
    scales with |df| past the first scan.
    """
    q = df.select(
        group.alias("_g"),
        F.floor(value * scale).cast("long").alias("_v"),
    )
    a = q.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,0)")).alias("_s"),
    )
    tot = a.agg(
        F.sum("_n").alias("_nn"),
        F.sum("_s").alias("_ss"),
        F.count(F.lit(1)).alias("_gg"),
    )
    j = a.crossJoin(F.broadcast(tot)).select(
        "_nn",
        "_ss",
        "_gg",
        F.floor(
            (F.col("_ss") - F.col("_s")).cast("double")
            / (F.col("_nn") - F.col("_n")).cast("double")
            / scale
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("_qi"),
    )
    z = j.agg(
        F.min("_nn").alias("n_rows"),
        F.min("_gg").alias("n_groups"),
        F.min("_ss").alias("_ss2"),
        F.sum(F.col("_qi").cast("decimal(38,0)")).alias("_sq"),
        F.sum(
            (F.col("_qi").cast("decimal(38,0)") * F.col("_qi"))
        ).alias("_sqq"),
    )
    g_d = F.col("n_groups").cast("double")
    sq_d = F.col("_sq").cast("double")
    var_term = F.greatest(
        F.lit(0.0),
        F.col("_sqq").cast("double") - sq_d * sq_d / g_d,
    )
    return z.select(
        "n_rows",
        "n_groups",
        F.round(
            F.col("_ss2").cast("double")
            / F.col("n_rows").cast("double")
            / scale,
            6,
        ).alias("theta_hat"),
        F.round(
            F.sqrt((g_d - 1) / g_d * var_term) / 1_000_000, 6
        ).alias("jack_se"),
    )


def groupwise_trend(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    cents: int = 100,
) -> DataFrame:
    """Per-group closed-form OLS trend (value drift per day) — the
    time-series health signal behind "is this source's quality/volume
    drifting" dashboards, computed for every group in ONE aggregation.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over x = seconds since
    the group's first event, y = value in integer ``cents``.

    Determinism: x and y are exact integers (µs diff floor-divided to
    seconds; value scaled+floored), so the four sufficient statistics
    are EXACT integer sums — partitioning cannot move them — and the
    closing products run in DECIMAL(38,0) (n·Σx² overflows int64 at
    ~10⁵ rows × month-long spans; decimal keeps them exact in both
    engines). Division to double happens once, on identical exact
    operands. Groups with < 2 points or zero x-variance return NULL.

    Scale posture: one min-aggregation (map-side combined) broadcast
    back to center x, one sufficient-stats aggregation (map-side
    combined) — two shuffles of |groups| rows each, nothing sorted.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        *group_cols,
        us.alias("_us"),
        F.floor(F.col(value_col) * cents).cast("long").alias("_y"),
    )
    t0 = base.groupBy(*group_cols).agg(F.min("_us").alias("_t0"))
    xy = base.join(t0, group_cols).select(
        *group_cols,
        F.expr("(_us - _t0) DIV 1000000").alias("_x"),
        "_y",
    )
    d = "decimal(38,0)"
    d0 = "decimal(38,0)"
    stats_df = xy.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        # x·y and x² sums pass 2^63 at ~10^7 month-span rows per
        # group: accumulate DECIMAL (the close already is)
        F.sum((F.col("_x") * F.col("_y")).cast(d0)).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(d0)).alias("_sxx"),
    )
    n = F.col("n_points").cast(d)
    num = n * F.col("_sxy").cast(d) - F.col("_sx").cast(d) * F.col("_sy").cast(d)
    den = n * F.col("_sxx").cast(d) - F.col("_sx").cast(d) * F.col("_sx").cast(d)
    return stats_df.select(
        *group_cols,
        "n_points",
        F.round(
            F.when(
                den != 0,
                num.cast("double")
                / den.cast("double")
                * F.lit(86400.0)
                / F.lit(float(cents)),
            ),
            6,
        ).alias("slope_per_day"),
    ).orderBy(*group_cols)


def ewma_last(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
    max_lag: int = 31,
    cents: int = 100,
) -> DataFrame:
    """Per-group exponentially-weighted moving average (α = ½ per
    step) evaluated at each group's LATEST event — the recency-biased
    health signal (recent activity level, decayed spend rate).

    α = ½ is chosen deliberately: every weight is a POWER OF TWO, so
    the weighted sum is exact integer arithmetic (``v_cents <<
    (max_lag − lag)`` longs), normalized by the exact weight sum and
    divided once — bit-deterministic across partitionings and engines
    (the reason a smoothing statistic can carry a hard SQL oracle).
    The look-back truncates at ``max_lag`` steps (weight 2⁻³¹ ≈ 5e-10
    — far under the cents resolution, so the truncation is the
    contract, not an approximation error).

    Plan: one row_number window keyed by group (deterministic order:
    ts then ``order_tiebreak``), one bounded self-join (each latest
    row pairs with ≤ max_lag+1 predecessors — fan-out is a constant,
    not a data size), one aggregation. At lake scale the join stays
    keyed by group and the latest-row side is |groups| rows.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*group_cols).orderBy(ts_col, order_tiebreak)
    r = df.select(
        *group_cols,
        F.col(ts_col),
        F.col(order_tiebreak),
        F.floor(F.col(value_col) * cents).cast("long").alias("_v"),
    ).withColumn("_rn", F.row_number().over(w))
    last = r.groupBy(*group_cols).agg(F.max("_rn").alias("_last"))
    cur = r.join(last, group_cols).where(F.col("_rn") == F.col("_last")).select(
        *group_cols, F.col("_rn").alias("_cur")
    )
    j = cur.join(r, group_cols).where(
        (F.col("_rn") <= F.col("_cur")) & (F.col("_rn") > F.col("_cur") - (max_lag + 1))
    )
    shift = F.expr(f"shiftleft(1L, CAST({max_lag} - (_cur - _rn) AS INT))")
    return (
        j.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_window"),
            F.sum(F.col("_v") * shift).alias("_num"),
            F.sum(shift).alias("_den"),
        )
        .select(
            *group_cols,
            "n_window",
            F.round(
                F.col("_num").cast("double")
                / F.col("_den").cast("double")
                / F.lit(float(cents)),
                6,
            ).alias("ewma_value"),
        )
        .orderBy(*group_cols)
    )


def isotonic_rate(
    df: DataFrame,
    group: Column,
    bucket: Column,
    label: Column,
) -> DataFrame:
    """Per-group ISOTONIC (monotone non-decreasing) calibration of a
    binary rate over ordered buckets — the reliability-curve smoother
    (is purchase propensity really monotone in spend bucket? what is
    the best monotone fit?) that pairs with ``calibration_bins``:
    bins show raw rates, this returns the least-squares monotone fit.

    Algorithm: the raw stream aggregates to per-(group, bucket) counts
    ``(w, s)`` first (one map-side-combinable shuffle bounded by
    |groups|×|buckets|, NOT |df|); the fit then uses the minimax
    characterization of weighted isotonic regression

        fit_i = max_{j≤i} min_{k≥i} (Σ_{j..k} s) / (Σ_{j..k} w)

    over the BOUNDED bucket grid: an O(B²) pair self-join per group
    with two per-group windows (suffix-min over k, prefix-max over j).
    B is a caller-bounded calibration grid (tens), so B² stays tiny
    and everything is built-in Column arithmetic — no UDF; for very
    large B the PAVA stack in applyInPandas is the alternative path.

    Exactness: all interval means are divisions of exact integer
    sums, and min/max are monotone — the fitted doubles are
    bit-identical in any engine evaluating the same formula (rounding
    a min of correctly-rounded rationals equals the min of the
    rounded values).
    """
    g = (
        df.select(
            group.alias("_g"),
            bucket.alias("_b"),
            F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
        )
        .groupBy("_g", "_b")
        .agg(F.count(F.lit(1)).alias("_w"), F.sum("_y").alias("_s"))
    )
    w_ord = Window.partitionBy("_g").orderBy("_b")
    pre = g.select(
        "_g",
        "_b",
        "_w",
        "_s",
        F.row_number().over(w_ord).alias("_i"),
        F.sum("_w").over(w_ord).alias("_pw"),
        F.sum("_s").over(w_ord).alias("_ps"),
    )
    j = pre.select(
        F.col("_g").alias("_g"),
        F.col("_i").alias("_ji"),
        (F.col("_pw") - F.col("_w")).alias("_pw0"),
        (F.col("_ps") - F.col("_s")).alias("_ps0"),
    )
    k = pre.select(
        F.col("_g").alias("_g2"),
        F.col("_i").alias("_ki"),
        F.col("_pw").alias("_pwk"),
        F.col("_ps").alias("_psk"),
    )
    pairs = j.join(
        k,
        (F.col("_g") == F.col("_g2")) & (F.col("_ji") <= F.col("_ki")),
    ).select(
        "_g",
        "_ji",
        "_ki",
        (
            (F.col("_psk") - F.col("_ps0")).cast("double")
            / (F.col("_pwk") - F.col("_pw0")).cast("double")
        ).alias("_mean"),
    )
    w_suf = (
        Window.partitionBy("_g", "_ji")
        .orderBy(F.col("_ki").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sm = pairs.withColumn("_smin", F.min("_mean").over(w_suf))
    w_prefix = (
        Window.partitionBy("_g", "_ki")
        .orderBy("_ji")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fit = (
        sm.withColumn("_fit", F.max("_smin").over(w_prefix))
        .where(F.col("_ji") == F.col("_ki"))
        .select("_g", F.col("_ki").alias("_i"), "_fit")
    )
    return (
        pre.join(fit, ["_g", "_i"])
        .select(
            F.col("_g").alias("group"),
            F.col("_b").alias("bucket"),
            F.col("_w").alias("n"),
            F.round(
                F.col("_s").cast("double") / F.col("_w").cast("double"), 6
            ).alias("rate"),
            F.round(F.col("_fit"), 6).alias("rate_iso"),
        )
    )


def calibration_bins(
    df: DataFrame,
    label: Column,
    score: Column,
    lo: float,
    hi: float,
    n_bins: int = 10,
    scale: int = 2,
) -> DataFrame:
    """Reliability diagram data: fixed-range score bins vs observed
    outcome rate — the calibration audit that pairs with
    :func:`exact_auc` (AUC says the score RANKS well; calibration says
    its VALUES mean what they claim — the pair is the complete
    pre-threshold audit of any quality classifier).

    Fixed [lo, hi) bin edges (not quantiles) keep bin membership a
    pure per-row expression — batch-stable and engine-identical, the
    same design choice as the fixed-range Z-order buckets. Mean score
    per bin closes in exact DECIMAL, the outcome rate is an integer
    ratio, each divided once.

    Scale posture: one map-side-combined aggregation; the shuffle
    carries ``n_bins`` rows. Returns ``(bin, n, mean_score,
    outcome_rate)`` ordered by bin.
    """
    width = (hi - lo) / n_bins
    b = F.least(
        F.greatest(
            F.floor((score - F.lit(lo)) / F.lit(width)).cast("long"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    return (
        df.select(
            b.alias("bin"),
            score.cast(f"decimal(18,{scale})").alias("_s"),
            F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_s").alias("_ss"),
            F.sum("_y").alias("_sy"),
        )
        .select(
            "bin",
            "n",
            F.round(F.col("_ss").cast("double") / F.col("n").cast("double"), 6).alias(
                "mean_score"
            ),
            F.round(F.col("_sy").cast("double") / F.col("n").cast("double"), 6).alias(
                "outcome_rate"
            ),
        )
        .orderBy("bin")
    )


def welch_t_test(
    df: DataFrame,
    group: Column,
    value: Column,
    group_a: str,
    group_b: str,
    cents: int = 100,
    segment_cols: list[str] | None = None,
) -> DataFrame:
    """Welch's unequal-variance two-sample t statistic — the A/B
    decision primitive (did the new filter change mean quality? does
    source A differ from source B?) computed from exact sufficient
    statistics in ONE aggregation pass.

    Values scale to integer ``cents`` first, so n/Σx/Σx² are exact
    longs (partitioning cannot move them); means, variances, the t
    statistic and the Welch–Satterthwaite df close in double on
    identical exact operands — each input reads once, no per-group
    sort, no second scan. Returns one row ``(n_a, n_b, mean_a,
    mean_b, t_stat, df)`` (4 dp on t/df, 6 dp on means).

    Per-segment sweeps: pass ``segment_cols`` and the SAME
    sufficient-statistics aggregation keys by (segment, group) with
    the close running per segment — one scan tests every segment at
    once (the output is |segments| rows, the shuffle
    2·|segments|). Segments missing either group emit NULL t/df.

    NULL contract: rows with a NULL value are DROPPED before
    aggregating, so n counts exactly the observations that entered
    Σx/Σx² (counting them with ``count(1)`` while ``sum`` skips NULLs
    would silently skew mean/variance denominators).
    """
    seg = list(segment_cols or [])
    g = group.cast("string")
    v = F.floor(value * cents).cast("long")
    agg = df.select(*seg, g.alias("_g"), v.alias("_v")).where(
        F.col("_g").isin([group_a, group_b]) & F.col("_v").isNotNull()
    ).groupBy(*seg, "_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_s"),
        # cents^2 sums pass 2^63 near 10^9 rows: accumulate DECIMAL
        F.sum((F.col("_v") * F.col("_v")).cast("decimal(38,0)")).alias("_ss"),
    )
    wide = agg.groupBy(*seg).agg(
        *[
            F.max(F.when(F.col("_g") == gname, F.col(c))).alias(f"{c}{suf}")
            for gname, suf in ((group_a, "a"), (group_b, "b"))
            for c in ("_n", "_s", "_ss")
        ]
    )
    def close(suf):
        n = F.col(f"_n{suf}").cast("double")
        mean = F.col(f"_s{suf}").cast("double") / n / cents
        # unbiased variance from the EXACT n-scaled numerator
        # n·Σv² − (Σv)² (DECIMAL, the ols2_by_group discipline): a
        # zero-variance group is exactly 0.0, never a float residual
        # that would leak a garbage t; try_divide: a single-
        # observation group (denominator n(n−1) = 0) has no variance
        # and must yield NULL t/df, not an ANSI divide-by-zero error
        nd = F.col(f"_n{suf}").cast("decimal(38,0)")
        vnum = (
            nd * F.col(f"_ss{suf}")
            - F.col(f"_s{suf}").cast("decimal(38,0)") * F.col(f"_s{suf}")
        )
        var = (
            F.try_divide(vnum.cast("double"), n * (n - 1))
            / (cents * cents)
        )
        return n, mean, var

    na, ma, va = close("a")
    nb, mb, vb = close("b")
    sea, seb = va / na, vb / nb
    # try_divide: zero-variance segments (or degenerate counts) emit
    # NULL statistics rather than erroring the whole sweep
    t = F.try_divide(ma - mb, F.sqrt(sea + seb))
    # products, not pow(): x*x is the same IEEE op in every engine
    dof = F.try_divide(
        (sea + seb) * (sea + seb),
        F.try_divide(sea * sea, na - 1) + F.try_divide(seb * seb, nb - 1),
    )
    out = wide.select(
        *seg,
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(dof, 4).alias("df"),
    )
    return out.orderBy(*seg) if seg else out


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    cents: int = 100,
) -> DataFrame:
    """Pearson correlation for every column pair in ONE aggregation
    pass — the data-profiling primitive (feature redundancy, drift in
    column relationships) over arbitrarily many numeric columns
    without a second scan.

    Exactness: every column scales to integer ``cents`` first, so all
    sufficient statistics (Σx, Σx², Σxy) are exact integer sums
    accumulated in DECIMAL(38,0) (cross-products of cent values can
    pass 2⁶³ at data scale); the closing covariance/variance terms
    stay in DECIMAL, and the one non-exact step is the final
    IEEE-correctly-rounded sqrt/divide on identical operands — the
    scale factor cancels in the ratio. Returns long-form
    ``(col_a, col_b, n, corr)``, one row per unordered pair, 6 dp.

    Scale posture: single map-side-combined aggregation; the shuffle
    carries ONE row of |cols|·(|cols|+3)/2 statistics regardless of
    data size.

    NULL contract: LISTWISE deletion — a row with a NULL in ANY of
    ``cols`` is dropped before aggregating, so the single n matches
    every Σx/Σx²/Σxy denominator (the alternative, pairwise-complete
    statistics, would need a per-pair n and is a different estimator).
    """
    d = "decimal(38,0)"
    q = {c: F.floor(F.col(c) * cents).cast("long").alias(f"_q_{c}") for c in cols}
    base = df.select(*q.values()).na.drop("any")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(f"_q_{c}").cast(d)).alias(f"_s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                F.sum((F.col(f"_q_{a}") * F.col(f"_q_{b}")).cast(d)).alias(
                    f"_p_{a}_{b}"
                )
            )
    wide = base.agg(*aggs)
    n = F.col("_n").cast(d)
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            num = n * F.col(f"_p_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}")
            da = n * F.col(f"_p_{a}_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}")
            db = n * F.col(f"_p_{b}_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}")
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("_n").alias("n"),
                    F.round(
                        num.cast("double")
                        / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
                        6,
                    ).alias("corr"),
                )
            )
    return (
        wide.select(F.explode(F.array(*pairs)).alias("_r"))
        .select("_r.col_a", "_r.col_b", "_r.n", "_r.corr")
        .orderBy("col_a", "col_b")
    )


def chi_squared_independence(
    df: DataFrame,
    col_a: Column,
    col_b: Column,
) -> DataFrame:
    """Chi-squared test of independence between two categorical
    columns — the drift/association audit (did the label distribution
    shift across sources? are two pipeline flags independent?).

    Observed counts and both marginals are exact integers from ONE
    (a, b) aggregation (marginals derive from the same aggregate —
    no second scan); each term ``(o − e)²/e`` with ``e = rowm·colm/N``
    closes in double on identical exact operands. Zero-count cells
    contribute ``e`` (o = 0), summed via the marginal-product
    identity: Σ_cells e = N, so chi2 = Σ_{observed} ((o−e)²/e − e)
    + N — no dense cell materialization, the sparse-contingency form.
    Returns one row ``(n_items, n_cat_a, n_cat_b, dof, chi2)``, 4 dp.

    Scale posture: the shuffle carries |A|·|B| observed cells; all
    downstream arithmetic is over that metadata-sized aggregate.
    """
    cells = (
        df.select(col_a.cast("string").alias("_a"), col_b.cast("string").alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint(eager=False)
    )
    am = cells.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    bm = cells.groupBy("_b").agg(F.sum("_o").alias("_rb"))
    tot = cells.agg(F.sum("_o").alias("_nn"))
    joined = (
        cells.join(F.broadcast(am), "_a")
        .join(F.broadcast(bm), "_b")
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_rb").cast("double")
        / F.col("_nn").cast("double")
    )
    o = F.col("_o").cast("double")
    # per-cell terms QUANTIZE to micro-longs before the sum (the DSIR
    # scheme): the fold is an exact integer sum — no float-order drift
    term_q = F.floor(((o - e) * (o - e) / e - e) * 1_000_000 + F.lit(0.5)).cast(
        "long"
    )
    agg = joined.agg(
        F.max("_nn").alias("n_items"),
        F.count_distinct("_a").alias("n_cat_a"),
        F.count_distinct("_b").alias("n_cat_b"),
        F.sum(term_q).alias("_tq"),
    )
    return agg.select(
        "n_items",
        "n_cat_a",
        "n_cat_b",
        ((F.col("n_cat_a") - 1) * (F.col("n_cat_b") - 1)).alias("dof"),
        F.round(
            F.col("_tq").cast("double") / 1_000_000.0 + F.col("n_items"), 4
        ).alias("chi2"),
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    window_days: int = 7,
    z_threshold: float = 3.0,
    densify: bool = False,
) -> DataFrame:
    """Volume-burst detection: each group's DAILY event count scored
    against the trailing ``window_days`` baseline — the ingestion-
    monitoring primitive (did a source spike 10x?) that a 100 TB
    pipeline runs on every load.

    Calendar semantics — the contract, explicitly: by DEFAULT the
    trailing window is ROWS-based over the group's OBSERVED days, so
    calendar days with zero events are skipped (the baseline is the
    last ``window_days`` days the group emitted anything) and a feed
    that dies emits NO rows at all — spike detection, not dead-feed
    detection. Pass ``densify=True`` for CALENDAR-trailing semantics:
    the (group, day) grid is filled with zero-count days from each
    group's first day through the GLOBAL last day, so gaps score
    against the true calendar baseline and a dead feed keeps emitting
    n=0 rows (which go anomalous once the baseline has variance) —
    that mode answers "did a feed die?".

    Exactness: with trailing sums s = Σx and ss = Σx² over exactly w
    integer daily counts, the z-score rewrites divisionless as

        z = (w·x − s) / sqrt(w·ss − s²)

    — integer numerator, integer radicand, ONE sqrt+divide on exact
    operands (no mean/std intermediate floats). Days without a full
    trailing window emit NULL z (warm-up, the contract). A zero-
    variance baseline emits NULL z unless the value equals the
    constant baseline everywhere (then z = 0).

    Scale posture: one (group, day) count aggregation (map-side
    combined — the shuffle carries |groups|·|days| rows, metadata),
    then group-keyed rolling windows over that aggregate; densify
    adds one sequence-explode over that same metadata-sized grid and
    a broadcast of the 1-row global max day. Returns
    ``(group_cols…, day, n, z, is_anomaly)`` ordered by group/day.
    """
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    daily = df.groupBy(*group_cols, day).agg(F.count(F.lit(1)).alias("n"))
    if densify:
        span = daily.groupBy(*group_cols).agg(F.min("day").alias("_d0"))
        gmax = daily.agg(F.max("day").alias("_d1"))
        grid = (
            span.crossJoin(F.broadcast(gmax))
            .select(
                *group_cols,
                F.explode(
                    F.sequence("_d0", "_d1", F.expr("INTERVAL 1 DAY"))
                ).alias("day"),
            )
        )
        daily = grid.join(daily, [*group_cols, "day"], "left").select(
            *group_cols, "day", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    with_stats = daily.select(
        *group_cols,
        "day",
        "n",
        F.count("n").over(w).alias("_w"),
        F.sum("n").over(w).alias("_s"),
        # n² sums (and s² below) pass 2^63 near 10^9-row days: DECIMAL
        F.sum((F.col("n") * F.col("n")).cast("decimal(38,0)")).over(w).alias(
            "_ss"
        ),
    )
    dz = "decimal(38,0)"
    num = (F.col("_w") * F.col("n") - F.col("_s")).cast(dz)
    rad = F.col("_w").cast(dz) * F.col("_ss") - F.col("_s").cast(
        dz
    ) * F.col("_s").cast(dz)
    z = F.when(
        (F.col("_w") == window_days) & (rad > 0),
        F.round(num.cast("double") / F.sqrt(rad.cast("double")), 4),
    ).when(
        (F.col("_w") == window_days) & (rad == 0) & (num == 0), F.lit(0.0)
    )
    return (
        with_stats.select(
            *group_cols,
            "day",
            "n",
            z.alias("z"),
            F.when(F.abs(z) >= z_threshold, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_anomaly"),
        )
        .orderBy(*group_cols, "day")
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
    cents: int = 100,
) -> DataFrame:
    """CUSUM level-shift detection per group: the point where the
    cumulative deviation from the group mean peaks — the classic
    "when did this source's quality/value regime change" locator
    (Page 1954), complementing :func:`groupwise_trend` (gradual
    drift) with abrupt-shift detection.

    Exactness: with values as integer cents, ``n·CUSUM_t = n·P_t −
    t·S`` (P_t the running prefix sum, S/n the group total/count) is
    an EXACT integer for every t — the mean division is cleared, so
    the argmax over t is a pure integer comparison with a
    (magnitude DESC, t ASC) total order. The displayed peak value
    divides twice at the end.

    Scale posture: one group-keyed running-sum window (the same
    per-group sort every sessionization pass pays), one broadcast of
    |groups| totals, one argmax aggregation — shuffles keyed by
    group throughout. Returns ``(group_cols…, n_points,
    changepoint_pos, peak_cusum)`` where ``changepoint_pos`` is the
    1-based position of the peak |deviation| in the group's
    (ts, tiebreak) order.
    """
    base = df.select(
        *group_cols,
        F.col(ts_col),
        F.col(order_tiebreak),
        F.floor(F.col(value_col) * cents).cast("long").alias("_v"),
    )
    wseq = Window.partitionBy(*group_cols).orderBy(ts_col, order_tiebreak)
    run = base.select(
        *group_cols,
        F.row_number().over(wseq).alias("_t"),
        F.sum("_v").over(
            wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_p"),
    )
    tots = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_sum")
    )
    d = "decimal(38,0)"
    dev = (
        F.col("_n").cast(d) * F.col("_p").cast(d)
        - F.col("_t").cast(d) * F.col("_sum").cast(d)
    )
    scored = run.join(F.broadcast(tots), group_cols).select(
        *group_cols,
        F.col("_n"),
        F.col("_t"),
        dev.alias("_dev"),
    )
    peak = scored.groupBy(*group_cols).agg(
        F.max("_n").alias("n_points"),
        F.max_by(
            F.struct(F.col("_t").alias("pos"), F.col("_dev").alias("dev")),
            F.struct(
                F.abs(F.col("_dev")).alias("mag"), (-F.col("_t")).alias("ord")
            ),
        ).alias("_pk"),
    )
    return peak.select(
        *group_cols,
        "n_points",
        F.col("_pk.pos").alias("changepoint_pos"),
        F.round(
            F.col("_pk.dev").cast("double")
            / F.col("n_points").cast("double")
            / F.lit(float(cents)),
            4,
        ).alias("peak_cusum"),
    ).orderBy(*group_cols)


# ------------------------------------------------- retrieval ranking


def rrf_weights(depth: int, c: int = 60) -> list[int]:
    """Integer nano-unit reciprocal-rank-fusion weight table:
    ``w[r-1] = round(1e9 / (c + r))`` for ranks 1..depth (Cormack &
    Clarke's RRF with the standard c=60). Integerizing makes the
    cross-list fused score an ORDER-FREE exact integer sum, so fusion
    ranking is engine-reproducible and the SQL oracle embeds identical
    literals."""
    return [round(1_000_000_000 / (c + r)) for r in range(1, depth + 1)]


def rrf_fuse(
    rankings: list[DataFrame],
    k: int,
    depth: int,
    c: int = 60,
    query_col: str | None = None,
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion — the standard hybrid-search combiner
    (lexical BM25 ⊕ semantic ANN ⊕ priors): each input ranking
    contributes ``1/(c + rank)`` for its top-``depth`` items; items are
    re-ranked by the summed contribution. Rank-based, so it needs NO
    score calibration between rankers — the reason it wins in practice
    over score interpolation (the reference's ES relevance and cosine
    matcher produce incomparable score scales; this is how they'd be
    combined).

    Contributions are exact nano-unit integers (:func:`rrf_weights`),
    summed order-free; ties break on item id. ``query_col=None`` fuses
    single-list rankings (e.g. a corpus-wide relevance list with a
    quality prior).

    Scale posture: inputs are ALREADY top-``depth`` lists, so the union
    is ≤ |rankers|·depth rows per query; one (query, item)-keyed
    map-side-combinable aggregation; the rank window is per-query (or
    over the bounded fused candidate set in single-list mode — never
    corpus-sized)."""
    from functools import reduce

    w_arr = F.array(*[F.lit(v).cast("long") for v in rrf_weights(depth, c)])
    parts = []
    for r in rankings:
        cols = [
            F.col(item_col).alias("_i"),
            F.col(rank_col).cast("int").alias("_r"),
        ]
        if query_col is not None:
            cols.insert(0, F.col(query_col).alias("_q"))
        parts.append(r.where(F.col(rank_col) <= depth).select(*cols))
    u = reduce(lambda a, b: a.unionByName(b), parts)
    keys = (["_q"] if query_col else []) + ["_i"]
    agg = u.groupBy(*keys).agg(
        F.sum(F.element_at(w_arr, F.col("_r"))).alias("_fu"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    order = [F.desc("_fu"), F.asc("_i")]
    w = (
        Window.partitionBy("_q").orderBy(*order)
        if query_col
        else Window.orderBy(*order)
    )
    out = agg.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    sel = ([F.col("_q").alias(query_col)] if query_col else []) + [
        F.col("_i").alias(item_col),
        F.col("n_lists"),
        F.round(F.col("_fu").cast("double") / 1e9, 6).alias("rrf_score"),
        F.col("rank"),
    ]
    return out.select(*sel)


def shannon_diversity(
    df: DataFrame,
    group: Column,
    category: Column,
) -> DataFrame:
    """Per-group Shannon entropy of a categorical distribution plus
    Pielou evenness — the behavioral-diversity audit (does this user
    do one thing or many? is a source's doc-type mix collapsing?) that
    a bare distinct-count can't express because it ignores balance.

    Identity used: H = ln(n) − (1/n)·Σ_c n_c·ln(n_c), so the only
    logs are of INTEGERS — each is quantized once to micro-units
    (⌊ln(k)·10⁶⌋, the kl_domain_drift scheme) and multiplied by exact
    integer counts in DECIMAL(38,0); H and the evenness ratio
    H/ln(n_categories) close as single divisions of exact integers
    (evenness is NULL for single-category groups via try_divide).

    Scale posture: one (group, category)-keyed count aggregation, one
    per-group fold (map-side combinable both times); output is
    |groups| rows.
    """
    cnt = df.select(group.alias("_g"), category.alias("_c")).groupBy(
        "_g", "_c"
    ).agg(F.count(F.lit(1)).alias("_n"))
    lq = F.floor(F.log(F.col("_n").cast("double")) * F.lit(1000000)).cast(
        "long"
    )
    per_g = cnt.groupBy("_g").agg(
        F.sum("_n").alias("_ng"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(F.col("_n").cast("decimal(38,0)") * lq).alias("_sl"),
    )
    lg = F.floor(F.log(F.col("_ng").cast("double")) * F.lit(1000000)).cast(
        "long"
    )
    lk = F.floor(
        F.log(F.col("n_categories").cast("double")) * F.lit(1000000)
    ).cast("long")
    num = F.col("_ng").cast("decimal(38,0)") * lg - F.col("_sl")
    return per_g.select(
        F.col("_g").alias("group"),
        F.col("_ng").alias("n_events"),
        "n_categories",
        F.round(
            num.cast("double")
            / (F.col("_ng").cast("double") * F.lit(1000000.0)),
            6,
        ).alias("entropy"),
        F.round(
            F.try_divide(
                num.cast("double"),
                F.col("_ng").cast("double") * lk.cast("double"),
            ),
            6,
        ).alias("evenness"),
    )


def weighted_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    weight: Column,
    percentiles: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group WEIGHTED discrete percentiles — the
    volume-weighted median/quartiles (median price per UNIT SOLD, not
    per order line) that plain percentile_disc misstates whenever
    weights vary: the p-quantile is the smallest value whose
    cumulative weight reaches p·W (the percentile_disc definition with
    weight standing in for count).

    Determinism: weights fold to exact integers per distinct value
    (one rollup); the cumulative is an exact integer window sum over
    the per-group sorted VALUE DOMAIN; the threshold test
    ``cum ≥ p·W`` multiplies an exact integer by a literal (one IEEE
    product, identical everywhere) — the selected element is a data
    point, no interpolation.

    Scale posture: one (group, value)-keyed weight rollup (map-side
    combinable — the shuffle carries |group × distinct values|, not
    rows), one per-group ordered cumulative window over that rollup,
    one min-per-threshold aggregation.
    """
    base = df.select(
        *[F.col(c) for c in group_cols],
        value.alias("_v"),
        weight.cast("long").alias("_w"),
    ).where(F.col("_v").isNotNull() & F.col("_w").isNotNull())
    rolled = base.groupBy(*group_cols, "_v").agg(
        F.sum("_w").alias("_wv")
    )
    w = Window.partitionBy(*group_cols).orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy(*group_cols)
    cum = rolled.select(
        *group_cols,
        "_v",
        F.sum("_wv").over(w).alias("_cum"),
        F.sum("_wv").over(wt).alias("_tot"),
    )
    aggs = [F.max("_tot").alias("total_weight")]
    for p in percentiles:
        aggs.append(
            F.min(
                F.when(
                    F.col("_cum").cast("double")
                    >= F.lit(float(p)) * F.col("_tot").cast("double"),
                    F.col("_v"),
                )
            ).alias(f"wp{int(p * 100)}")
        )
    return cum.groupBy(*group_cols).agg(*aggs).orderBy(*group_cols)


def dataset_content_digest(
    df: DataFrame,
    row_key: Column,
) -> DataFrame:
    """Order-invariant dataset content digest: ``Σ md5_60(row_key)``
    (exact DECIMAL(38,0)) plus the row count — the cache-key /
    did-anything-change primitive for content-addressable dataset
    versioning at lake scale. Addition is a commutative monoid, so
    per-partition / per-shard digests MERGE by adding (the sketch
    mergeability property), and the digest is independent of
    partitioning, ordering, and engine. Collision bound: birthday on
    60 bits — fine for change detection, not for adversarial
    integrity (document the threat model; use a Merkle tree for
    that)."""
    h = F.conv(F.substring(F.md5(row_key), 1, 15), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("decimal(38,0)").alias("digest"),
    )


def krippendorff_alpha_nominal(
    ann: DataFrame,
    item_col: str,
    label_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) — the inter-annotator
    reliability coefficient that, unlike Cohen's kappa, handles ANY
    number of annotators per item and missing annotations: the
    annotation-pipeline health stat before trusting crowd labels.

    Exact-arithmetic construction: per item with m_i >= 2 annotations,
    the ordered disagreeing-pair count is ``pd_i = m_i^2 - sum_c
    m_ic^2`` (pure integer); its 1/(m_i - 1) coincidence weight is
    quantized once as ``floor((pd_i * 1e6) / (m_i - 1))`` — the
    quotient is exact in double below 2^53, so the floor is
    deterministic in both engines. With n pairable
    annotations and per-label totals n_c,

        alpha = 1 - (n - 1) * (Do_micros / 1e6) / (n^2 - sum n_c^2)

    evaluated in one fixed double chain rounded to 6 dp. Plan shape:
    one (item, label)-keyed count, one item-keyed rollup, one global
    single-row aggregate pair — map-side-combinable throughout, no
    windows. Items with a single annotation are excluded (standard:
    they carry no pairable information).

    Returns one row: (n_items, n_annotations, do_micros, alpha).
    """
    il = ann.groupBy(
        F.col(item_col).alias("_i"), F.col(label_col).alias("_c")
    ).agg(F.count(F.lit(1)).alias("_mic"))
    per_item = il.groupBy("_i").agg(
        F.sum("_mic").alias("_m"),
        F.sum(F.col("_mic") * F.col("_mic")).alias("_msq"),
    ).where(F.col("_m") >= 2)
    item_stats = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("_m").alias("n_annotations"),
        F.sum(
            F.floor(
                (
                    (F.col("_m") * F.col("_m") - F.col("_msq"))
                    * F.lit(1000000)
                ).cast("double")
                / (F.col("_m") - 1).cast("double")
            ).cast("long")
        ).alias("do_micros"),
    )
    label_tot = (
        il.join(per_item.select("_i"), "_i")
        .groupBy("_c")
        .agg(F.sum("_mic").alias("_nc"))
        .agg(F.sum(F.col("_nc") * F.col("_nc")).alias("_ncsq"))
    )
    joined = item_stats.crossJoin(F.broadcast(label_tot))
    de_pairs = (
        F.col("n_annotations") * F.col("n_annotations") - F.col("_ncsq")
    )
    alpha = F.round(
        F.lit(1.0)
        - (
            (F.col("n_annotations") - 1).cast("double")
            * (F.col("do_micros").cast("double") / F.lit(1000000.0))
        )
        / de_pairs.cast("double"),
        6,
    )
    return joined.select(
        "n_items", "n_annotations", "do_micros", alpha.alias("alpha")
    )
