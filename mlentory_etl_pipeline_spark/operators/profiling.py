"""Data-profiling operators: skew diagnostics and column statistics.

The engine-side tooling for operating joins and layouts at 100 TB:
``heavy_hitters`` tells you WHICH keys need salting/AQE-skew handling
before a join melts one task; ``profile_columns`` is the ANALYZE TABLE
surface (null fractions, cardinalities, ranges) that drives layout
choices (partition column selection, dictionary-encoding wins, zone-map
usefulness).

Scale posture:

- heavy_hitters: one map-side-combined count per key + a bounded
  global top-k (``TakeOrderedAndProject`` — never a full sort); the
  total row count rides along as a 1-row broadcast, no driver
  round-trip.
- profile_columns: ONE aggregation pass computes every column's stats
  as a wide row (map-side partial aggs), then an unpivot projects it
  long — C columns cost one shuffle, not C. Exact distinct counts keep
  the oracle checkable; pass ``approx=True`` to swap in HLL++
  (`approx_count_distinct`) at corpus scale where exact per-column
  distinct would shuffle the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(df: DataFrame, key_cols: list[str], k: int = 10) -> DataFrame:
    """Top-``k`` hottest key values with absolute and relative
    frequency. Returns (key..., n, frac) ordered by n desc (ties:
    key asc)."""
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n"))
    total = df.groupBy().agg(F.count("*").alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            *key_cols,
            "n",
            F.round(F.col("n") / F.col("_total").cast("double"), 6).alias("frac"),
        )
        .orderBy(F.desc("n"), *[F.asc(c) for c in key_cols])
        .limit(k)
    )


def profile_columns(
    df: DataFrame, cols: list[str], approx: bool = False
) -> DataFrame:
    """Per-column stats in long form: (column, n_nulls, n_distinct,
    min_value, max_value) with min/max rendered as strings for a
    uniform schema. One aggregation pass for all columns."""
    aggs = []
    for c in cols:
        distinct = (
            F.approx_count_distinct(c) if approx else F.count_distinct(F.col(c))
        )
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}"),
            distinct.alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"_nn_{c}"),
            F.col(f"_nd_{c}"),
            F.col(f"_mn_{c}"),
            F.col(f"_mx_{c}"),
        ]
    return wide.select(
        F.stack(
            F.lit(len(cols)), *stack_args
        ).alias("column", "n_nulls", "n_distinct", "min_value", "max_value")
    )


def mg_candidates(df: DataFrame, key_col: str, budget: int) -> DataFrame:
    """Misra-Gries candidate pass: per-partition BOUNDED-MEMORY
    frequency summaries (≤ ``budget`` counters each), merged downstream.

    This is the first pass of the production two-pass heavy-hitters
    recipe: where ``heavy_hitters`` shuffles one combined row per
    DISTINCT key (fine until key cardinality itself is lake-scale —
    URLs, n-grams, user agents), the MG pass shuffles at most
    ``partitions × budget`` candidate rows regardless of cardinality.

    Each Arrow batch folds into the summary by counter addition, then
    shrinks back to ``budget`` by subtracting the (budget+1)-th largest
    count from every counter and dropping the non-positive ones — the
    mergeable-summaries formulation of MG (Agarwal et al., PODS 2012),
    vectorized per batch instead of row-at-a-time. Guarantee: every key
    with partition frequency > n_p/(budget+1) survives with a positive
    lower bound, so a key with GLOBAL frequency ≥ N/(budget+1) survives
    in at least one partition (weighted-average argument).

    Returns (key, lb) candidate rows; ``lb`` is the MG residual (a
    lower bound on partition frequency), only useful for pruning —
    :func:`frequent_items` recounts candidates exactly.
    """
    import pandas as pd  # noqa: F401  (mapInPandas runtime dep)

    from pyspark.sql.types import LongType, StructField, StructType

    field = df.schema[key_col]
    out_schema = StructType([field, StructField("lb", LongType())])

    def run(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            for k, v in pdf[key_col].value_counts().items():
                counts[k] = counts.get(k, 0) + int(v)
            if len(counts) > budget:
                cut = sorted(counts.values(), reverse=True)[budget]
                counts = {k: c - cut for k, c in counts.items() if c > cut}
        if counts:
            yield pd.DataFrame(
                {key_col: list(counts.keys()), "lb": list(counts.values())}
            )

    return df.select(key_col).mapInPandas(run, out_schema)


def frequent_items(
    df: DataFrame,
    key_col: str,
    support: float,
    budget_mult: int = 4,
) -> DataFrame:
    """All keys with frequency ≥ ``support`` · N, EXACTLY, without ever
    shuffling the full key cardinality.

    Two passes: (1) :func:`mg_candidates` with budget
    ``budget_mult/support`` — since budget+1 > 1/support, the MG
    guarantee makes the candidate set a SUPERSET of the true frequent
    keys under any partitioning; (2) an exact recount restricted to
    candidates (broadcast semi-join prunes the scan before its
    groupBy), thresholded at ``ceil(support · N)``.

    The output is therefore partition-invariant and bit-equal to the
    plain ``GROUP BY … HAVING count >= ceil(support·N)`` — which is
    exactly its SQL oracle — while the shuffled volume is
    ``partitions × budget`` candidates + the recount of matching rows
    only. Returns (key, n, frac) ordered by n desc then key.
    """
    import math

    budget = int(math.ceil(budget_mult / support))
    cand = mg_candidates(df, key_col, budget).select(key_col).distinct()
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    exact = (
        df.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("n") >= F.ceil(F.lit(support) * F.col("_total")))
        .select(
            key_col,
            "n",
            F.round(F.col("n") / F.col("_total").cast("double"), 6).alias("frac"),
        )
        .orderBy(F.desc("n"), F.asc(key_col))
    )


# P(first significant digit = d) under Benford's law, d = 1..9:
# log10(1 + 1/d) as hard-coded 15-significant-digit literals (the
# POISSON1_CDF idiom — no libm call, so every engine parses the exact
# same doubles).
BENFORD_P = [
    0.301029995663981,
    0.176091259055681,
    0.124938736608300,
    0.096910013008056,
    0.079181246047625,
    0.066946789630613,
    0.057991946977687,
    0.051152522447381,
    0.045757490560675,
]


def benford_audit(
    df: DataFrame,
    value: "F.Column",
    group_cols: list[str] | None = None,
    cents: int = 100,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-or-truncated-numbers smell test for a money or
    measurement column, as one aggregation.

    Determinism: the value quantizes to integer raw units
    (``floor(v * cents)``) and the first digit is the first character
    of the INTEGER's decimal string — no ``log10`` per row, so no
    cross-engine libm variance; the Benford expectations are literal
    doubles. Emits one row per (group, digit): observed count, observed
    frac, expected Benford frac, and the digit's chi-square term
    ``(obs - n·p)²/(n·p)`` — sum the column for the group statistic
    (13.36 / 20.09 are the 0.10 / 0.01 critical values at 8 df).

    Scale: one map-side digit extraction + one (group, digit)-keyed
    count + a broadcast of |groups| totals. Rows with ``v <= 0`` are
    excluded (Benford is defined on positive magnitudes).
    """
    g = list(group_cols or [])
    raw = F.floor(value * cents).cast("long")
    base = df.select(
        *g, F.substring(raw.cast("string"), 1, 1).cast("int").alias("digit")
    ).where(raw > 0)
    counts = base.groupBy(*g, "digit").agg(F.count(F.lit(1)).alias("n_obs"))
    totals = base.groupBy(*g).agg(F.count(F.lit(1)).alias("_n"))
    expected = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_P]), F.col("digit")
    )
    chi_term = (
        (F.col("n_obs").cast("double") - F.col("_n").cast("double") * expected)
        * (F.col("n_obs").cast("double") - F.col("_n").cast("double") * expected)
        / (F.col("_n").cast("double") * expected)
    )
    joined = (
        counts.join(F.broadcast(totals), g)
        if g
        else counts.crossJoin(F.broadcast(totals))
    )
    return joined.select(
        *g,
        "digit",
        "n_obs",
        F.round(F.col("n_obs").cast("double") / F.col("_n").cast("double"), 6).alias(
            "obs_frac"
        ),
        F.round(expected, 6).alias("benford_frac"),
        F.round(chi_term, 4).alias("chi2_term"),
    ).orderBy(*g, "digit")


def functional_dependency_audit(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Does column A functionally determine column B? For each
    candidate FD ``A -> B``: the number of A-values that map to more
    than one distinct B (violating keys), the minimum rows to delete
    to make the FD hold (rows outside each key's plurality B — the
    standard g3 error measure), and whether it holds exactly. The
    schema-discovery audit that decides normalization, dedup keys, and
    whether a column is safe to drop as derivable.

    One (A, B)-keyed count + one A-keyed fold per pair; pairs run as a
    union of independent aggregations (each map-side combined). NULLs
    count as ordinary values (SQL ``GROUP BY`` semantics).
    """
    outs = []
    for det, dep in pairs:
        ab = (
            df.select(F.col(det).alias("_a"), F.col(dep).alias("_b"))
            .groupBy("_a", "_b")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        per_a = ab.groupBy("_a").agg(
            F.count(F.lit(1)).alias("_n_b"),
            F.sum("_n").alias("_rows"),
            F.max("_n").alias("_plurality"),
        )
        outs.append(
            per_a.agg(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(F.when(F.col("_n_b") > 1, 1).otherwise(0)).alias(
                    "violating_keys"
                ),
                F.sum(F.col("_rows") - F.col("_plurality")).alias("g3_rows"),
                (F.max("_n_b") == F.lit(1)).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("determinant", "dependent")


def categorical_mi(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Mutual information between categorical column pairs, in nats —
    the dependence measure that complements the chi-square test
    (chi2 answers "is there dependence?"; MI answers "how MUCH
    information does one column carry about the other", comparable
    across pairs). Computed from entropies, H(X) + H(Y) − H(X,Y),
    each via the count identity ``H = ln n − (Σ c·ln c)/n`` — one
    (x, y)-keyed count per pair and the marginals derived FROM that
    count table (|xy-keys| rows), never a second scan of the facts.

    Also reports the normalized MI ``mi / min(H(X), H(Y))`` (0 = independent,
    1 = one column determines the other — the soft version of
    :func:`functional_dependency_audit`'s exact ``holds``), NULL when a
    marginal entropy is 0 (a constant column carries no information).
    """
    outs = []
    for x, y in pairs:
        base = df.select(
            F.col(x).cast("string").alias("_x"), F.col(y).cast("string").alias("_y")
        )
        cxy = base.groupBy("_x", "_y").agg(F.count(F.lit(1)).alias("c"))
        cx = cxy.groupBy("_x").agg(F.sum("c").alias("c"))
        cy = cxy.groupBy("_y").agg(F.sum("c").alias("c"))

        def _ent(d, alias):
            cd = F.col("c").cast("double")
            return d.agg(
                F.sum("c").alias(f"_n_{alias}"),
                F.sum(cd * F.log(cd)).alias(f"_sl_{alias}"),
            )

        j = (
            _ent(cxy, "xy")
            .crossJoin(F.broadcast(_ent(cx, "x")))
            .crossJoin(F.broadcast(_ent(cy, "y")))
        )
        n = F.col("_n_xy").cast("double")
        hx = F.log(n) - F.col("_sl_x") / n
        hy = F.log(n) - F.col("_sl_y") / n
        hxy = F.log(n) - F.col("_sl_xy") / n
        mi = hx + hy - hxy
        outs.append(
            j.select(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("_n_xy").alias("n"),
                F.round(hx, 6).alias("h_x"),
                F.round(hy, 6).alias("h_y"),
                F.round(hxy, 6).alias("h_xy"),
                F.round(mi, 6).alias("mi_nats"),
                F.round(
                    mi / F.when(F.least(hx, hy) > 0, F.least(hx, hy)), 6
                ).alias("nmi"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_x", "col_y")
