"""Similarity search over embedding columns (``array<float>``).

Covers the reference's cosine top-k section matching (SURVEY §2.8 N5 —
``QAMatchingEngine.py:154-237``) and the beyond-reference ANN layer:

- :func:`brute_force_topk` — exact cosine top-k per query. The query
  side is small (questions / probe set) → broadcast cross join; scoring
  stays JVM-side via higher-order functions; top-k per group is a
  bounded window.
- :func:`lsh_bucket_topk` — the scale path: sign-random-projection
  buckets (deterministic hyperplanes) shrink each query's search set;
  same scoring inside buckets. Recall is tunable via number of planes /
  probes. At 100 TB the bucketed table is written partitioned by bucket
  so a query touches a handful of partitions (partition pruning).
- :func:`ivf_topk` / :func:`pq_adc_topk` — IVF-Flat and
  product-quantization ADC, each runnable with a deterministic seed
  quantizer (SQL-oracle-replicable) or a TRAINED one
  (:func:`trained_centroids` / :func:`train_pq_codebook`, backed by the
  in-repo distributed Lloyd's loop) behind the identical plan shape.
- :func:`kmeans_cluster` — distributed Lloyd's k-means (N6 scale path).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.functions.vectors import (
    cosine_similarity,
    cosine_similarity_sql,
    dot_product,
    dot_product_sql,
    l2_norm,
    l2_norm_sql,
)
from mlentory_etl_pipeline_spark.operators.capping import spread


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (query_id, neighbor_id, score, rank). Scores are rounded
    (default 4 dp) so results are stable across engines' float
    summation orders; ranking ties break on neighbor id.
    """
    # Precompute norms once per side — the cross join then evaluates a
    # single dot product per pair instead of re-deriving both norms.
    # spread: the per-pair HOF dot products evaluate interpreted on
    # the corpus side's partitions; a one-file local corpus arrives as
    # ONE partition and runs single-threaded (no-op on a real
    # many-split corpus — same guard as dedup shingling).
    # SQL-text projections (one parse each; the Column-composed HOF
    # builders cost dozens of Py4J round-trips per call — bit-identity
    # with the Column twins pinned by test_vector_sql_twins_bit_identical)
    c = spread(corpus).selectExpr(
        f"`{id_col}`", f"`{vec_col}`", f"{l2_norm_sql(f'`{vec_col}`')} AS _cn"
    )
    q = queries.selectExpr(
        f"`{query_id_col}`",
        f"`{query_vec_col}`",
        f"{l2_norm_sql(f'`{query_vec_col}`')} AS _qn",
    )
    joined = F.broadcast(q).crossJoin(c)
    score_sql = (
        f"({dot_product_sql(f'`{query_vec_col}`', f'`{vec_col}`')} / (_qn * _cn))"
    )
    if round_digits is not None:
        score_sql = f"round({score_sql}, {round_digits})"
    scored = joined.selectExpr(
        f"`{query_id_col}`",
        f"`{id_col}` AS neighbor_id",
        f"{score_sql} AS score",
    ).where(F.col(query_id_col) != F.col("neighbor_id"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no RNG dependency:
    a fixed multiplicative-hash sequence, reproducible anywhere)."""
    planes = []
    state = seed
    for _ in range(num_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            v.append((state / float(1 << 64)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _dlit(x: float) -> str:
    """SQL double literal with exact binary64 round-trip: ``repr`` is
    the shortest string that parses back to the same bits (verified for
    exponents, negatives, and denormals), and Spark's ``…D`` literal
    parses via Double.parseDouble — so the SQL text and ``F.lit(x)``
    produce bit-identical Literal values."""
    return repr(x) + "D"


def _bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL text of one band's sign-RP bucket: bit i = sign of the dot
    product with hyperplane i. Semantically identical to the Column
    composition (same zip_with/aggregate fold, same double accumulator,
    same CASE) — expressed as TEXT because constructing thousands of
    per-component ``F.lit`` Columns is ~3 s of Py4J round-trips per
    call, while one ``F.expr`` parse of the same tree is ~50 ms."""
    bits = []
    for i, plane in enumerate(planes):
        dot = _dot_sql(vec_col, plane)
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INT)"


def _dot_sql(vec_col: str, plane: list[float]) -> str:
    """SQL text of ``dot_product(col, lit(plane))`` — the same
    zip_with/aggregate fold with a double accumulator."""
    arr = "array(" + ",".join(_dlit(x) for x in plane) + ")"
    return (
        f"aggregate(zip_with(`{vec_col}`, {arr}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def rp_bucket(df: DataFrame, vec_col: str, dim: int, num_planes: int = 8, seed: int = 7) -> DataFrame:
    """Attach a sign-random-projection bucket id: bit i = sign of the
    dot product with hyperplane i. Deterministic, engine-portable."""
    bucket = F.expr(_bucket_sql(vec_col, _hyperplanes(dim, num_planes, seed)))
    return df.withColumn("bucket", bucket)


# Memoized band-bucket array expressions, keyed by the full
# rp_bucket_bands signature (see construction note inside).
_RP_BANDS_CACHE: dict[tuple, "Column"] = {}


def rp_bucket_bands(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int,
    num_bands: int,
    seed_base: int = 7,
    seed_stride: int = 1000,
) -> DataFrame:
    """All OR-amplification bands in ONE pass: per input row, compute
    every band's sign-random-projection bucket (band b uses the
    hyperplane set seeded ``seed_base + seed_stride*b`` — bit-identical
    to calling :func:`rp_bucket` per band) as an array, then posexplode
    to ``(…, band, bucket)`` rows.

    Bucket values and therefore every downstream candidate set are
    unchanged vs the per-band loop; what changes is the PLAN: one scan
    and one (band, bucket)-keyed join instead of ``num_bands`` scans
    and joins unioned. Total shuffle volume is the same (the explode
    is num_bands rows per input either way); scans drop num_bands-fold.
    """
    # The bucket expressions are deterministic in the signature and
    # were expensive to CONSTRUCT Column-by-Column (num_bands *
    # num_planes literal hyperplane arrays = thousands of Py4J calls,
    # measured ~3 s per call). Built instead as ONE SQL text + one
    # F.expr parse (~50 ms; bit-identity with the Column composition
    # asserted in tests), and still memoized per signature so a query
    # that buckets both sides or is re-built in a sweep pays the parse
    # once per process.
    key = (vec_col, dim, num_planes, num_bands, seed_base, seed_stride)
    bands_expr = _RP_BANDS_CACHE.get(key)
    if bands_expr is None:
        band_sqls = [
            _bucket_sql(
                vec_col, _hyperplanes(dim, num_planes, seed_base + seed_stride * band)
            )
            for band in range(num_bands)
        ]
        bands_expr = F.expr("array(" + ",".join(band_sqls) + ")")
        _RP_BANDS_CACHE[key] = bands_expr
    return df.select("*", F.posexplode(bands_expr).alias("band", "bucket"))


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    extra_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    bucket. Equi-join on bucket replaces the cross join — the candidate
    set shrinks ~2^planes-fold.

    ``extra_probes`` > 0 enables multi-probe LSH: each query also
    probes the buckets reached by flipping one sign bit, in order of
    the query's distance to that hyperplane (nearest hyperplane first —
    the bucket most likely to hide a missed neighbor). Recall rises
    steeply with probes while the scored candidate set stays
    ``(1 + extra_probes) / 2^planes`` of the corpus — the corpus side
    is still bucketed once, only the (tiny) query side fans out."""
    # corpus-side bucket signs are num_planes interpreted HOF dots per
    # vector — spread a one-partition local input first (no-op at scale)
    c = rp_bucket(spread(corpus), vec_col, dim, num_planes)
    if extra_probes > 0:
        planes = _hyperplanes(dim, num_planes)
        # Project per-plane dots first (expressions inside HOF lambdas
        # are not CSE'd — see dedup._shingles_of_words).
        q = queries.select(
            "*",
            *[
                F.expr(_dot_sql(query_vec_col, p)).alias(f"_d{i}")
                for i, p in enumerate(planes)
            ],
        )
        bucket = None
        for i in range(num_planes):
            bit = F.when(F.col(f"_d{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        q = q.withColumn("_b0", bucket.cast("int"))
        # (|distance to plane|, flip mask) sorted ascending = probe order.
        by_closeness = F.array_sort(
            F.array(
                *[
                    F.struct(F.abs(F.col(f"_d{i}")).alias("d"), F.lit(1 << i).alias("mask"))
                    for i in range(num_planes)
                ]
            )
        )
        flips = F.transform(
            F.slice(by_closeness, 1, min(extra_probes, num_planes)),
            lambda x: F.col("_b0").bitwiseXOR(x["mask"]),
        )
        q = q.select(
            F.col(query_id_col),
            F.col(query_vec_col),
            F.explode(F.concat(F.array(F.col("_b0")), flips)).alias("bucket"),
        )
    else:
        q = rp_bucket(queries, query_vec_col, dim, num_planes)
    joined = q.join(c, "bucket")
    score = F.round(cosine_similarity(F.col(query_vec_col), F.col(vec_col)), 4)
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        score.alias("score"),
    ).where(F.col(query_id_col) != F.col("neighbor_id"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ------------------------------------------------------------------ IVF

def ann_capacity(n: int) -> dict:
    """The written scale-aware quantizer capacity rule (VERDICT r8 №1):
    a frozen (nlist, nprobe, ksub, shortlist) halves trained-ANN recall
    toward coin-flip every decade of corpus growth even though the PLAN
    (IVF cells, broadcast codebooks) is scale-safe — capacity must grow
    with the corpus. The rule, all integer arithmetic so a SQL oracle
    derives the identical numbers from ``COUNT(*)``:

    - ``nlist``: the largest power of two with ``nlist² ≤ N`` (floor 16,
      cap 65536) — cells hold ≈√N vectors each, the standard IVF sizing;
      power-of-two steps keep the quantizer stable within a ~4× corpus
      band instead of retraining per row.
    - ``nprobe = max(4, nlist // 4)`` — a fixed ¼ of cells probed, so
      the scanned FRACTION of the corpus is constant as nlist grows
      (finer cells, same coverage).
    - ``ksub``: 16 below 1 000 vectors, 32 at or above — the per-
      subspace PQ codeword budget (m·ksub total) steps up once the
      population per codeword justifies it; more codewords = finer ADC
      distance resolution exactly when more points crowd inside the
      old quantization error.
    - ``shortlist = 4 · nlist`` (floor 64) — the ADC/exact-rerank
      candidate pool grows ∝ √N with the quantizer (via the already-
      exact nlist ladder): a FIXED shortlist pushed true top-5 members
      outside the rerank set at 10× corpus, while a linear pool
      (N/10-style) would exact-score 10% of the corpus per query at
      N=10⁶ and erase the two-stage design's point — √N keeps the
      rerank sublinear AND tracks the crowd of within-quantization-
      error neighbors (measured equal recall to N/10 at the audit
      scales, −36% rerank work at sf0.1).

    Measured recall@5 vs brute force under this rule (10 queries,
    trained quantizers, r9): sf0.01 N=500 (shortlist 64) → ivf 0.92 /
    pq 0.98 / ivf_pq 0.90; sf0.1 N=2000 (shortlist 128) → ivf 0.94 /
    pq 0.92 / ivf_pq 0.94 — every method ≥ 0.85 at BOTH scales (vs
    pq 0.80 / ivf_pq 0.70 at sf0.1 under the frozen r8 capacity).
    """
    nlist = 16
    while nlist < 65536 and (nlist * 2) * (nlist * 2) <= n:
        nlist *= 2
    return {
        "nlist": nlist,
        "nprobe": max(4, nlist // 4),
        "ksub": 16 if n < 1000 else 32,
        "shortlist": 4 * nlist,
    }


def ann_capacity_sql(table: str = "embeddings") -> str:
    """The DuckDB twin of :func:`ann_capacity` as a ``cap`` CTE body —
    same integer ladder (powers of two up to 65536), same floors — so
    trained-ANN oracles derive (nlist, nprobe, ksub, shortlist) from
    the live ``COUNT(*)`` and stay correct at every scale factor."""
    ladder = ",".join(f"({16 * 2 ** i})" for i in range(13))  # 16 … 65536
    return f"""
      SELECT nlist,
             GREATEST(nlist // 4, 4) AS nprobe,
             CASE WHEN n < 1000 THEN 16 ELSE 32 END AS ksub,
             4 * nlist AS shortlist
      FROM (
        SELECT n,
               COALESCE((SELECT MAX(p) FROM (VALUES {ladder}) t(p)
                         WHERE CAST(p AS BIGINT) * p <= n), 16) AS nlist
        FROM (SELECT COUNT(*) AS n FROM {table})
      )
    """


def seed_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One-row DataFrame holding the centroid array
    ``_cents: array<struct<cid, cv, cn>>`` sorted by centroid id.

    Centroids are the corpus vectors with ``id < n_centroids`` — a
    deterministic stand-in for a trained coarse quantizer, which keeps
    the whole IVF pipeline replicable by a SQL oracle. The TRAINED
    production path is :func:`trained_centroids` (in-repo distributed
    Lloyd's) producing the same broadcast-array shape; every downstream
    step is unchanged.
    """
    cent = corpus.where(F.col(id_col) < n_centroids).selectExpr(
        f"CAST(`{id_col}` AS INT) AS cid",
        f"`{vec_col}` AS cv",
        f"{l2_norm_sql(f'`{vec_col}`')} AS cn",
    )
    return cent.agg(F.sort_array(F.collect_list(F.struct("cid", "cv", "cn"))).alias("_cents"))


def ivf_probe_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
    norm_alias: str = "_n",
    round_digits: int = 6,
) -> DataFrame:
    """Assign each vector its ``nprobe`` nearest centroid cells
    (cosine, ties → lower centroid id) — one row per (vector, cell).

    The scale-critical property: assignment is a pure MAP over a
    broadcast centroid array (transform → sort → slice → explode), no
    shuffle and no N×C join. ``nprobe=1`` is plain IVF assignment for
    the corpus side; queries probe several cells. Scores are rounded
    before ranking so the centroid choice is reproducible across
    engines (the oracle ranks with the identical rounded cosine).
    """
    # SQL-text form of the former Column composition (same transform →
    # array_sort → slice → explode nodes; bit-identity pinned by
    # test_vector_sql_twins_bit_identical): the per-call HOF lambda
    # construction alone was ~0.3 s of Py4J round-trips.
    v = df.crossJoin(F.broadcast(centroids)).selectExpr(
        "*", f"{l2_norm_sql(f'`{vec_col}`')} AS {norm_alias}"
    )
    # struct(-score, cid): ascending array_sort = score desc, cid asc.
    negsc = (
        f"-round({dot_product_sql(f'`{vec_col}`', 'c.cv')} / "
        f"(`{norm_alias}` * c.cn), {round_digits})"
    )
    probes = (
        f"slice(array_sort(transform(_cents, "
        f"c -> struct({negsc} AS negsc, c.cid AS cid))), 1, {nprobe})"
    )
    return v.selectExpr(
        f"`{id_col}`",
        f"`{vec_col}`",
        f"`{norm_alias}`",
        f"explode({probes}) AS _p",
    ).selectExpr(f"`{id_col}`", f"`{vec_col}`", f"`{norm_alias}`", "_p.cid AS cell")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: corpus vectors are inverted-listed
    under their nearest centroid; each query scores only the vectors in
    its ``nprobe`` nearest cells.

    Plan shape at 100 TB: centroid assignment is map-only (broadcast
    centroid array, see :func:`ivf_probe_cells`); the single shuffle is
    the cell equi-join, and with the corpus written
    ``partitionBy("cell")`` it becomes partition pruning — a query
    touches nprobe/​n_centroids of the data. Recall vs
    :func:`brute_force_topk` is asserted in tests; with
    ``nprobe = n_centroids`` results are exact.

    ``centroids`` overrides the seed quantizer with a pre-trained
    1-row centroid frame (:func:`trained_centroids`); the plan is
    identical either way.
    """
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(corpus, n_centroids, id_col, vec_col)
    )
    # corpus-side cell assignment is an interpreted HOF map over every
    # vector × n_centroids — spread a one-partition local input first
    # (no-op on a many-split corpus; seeds keep the unspread corpus so
    # the id<n filter still pushes down to the scan)
    c = ivf_probe_cells(
        spread(corpus), cents, id_col, vec_col, nprobe=1, norm_alias="_cn"
    )
    q = ivf_probe_cells(
        queries, cents, query_id_col, query_vec_col, nprobe=nprobe, norm_alias="_qn"
    )
    scored = (
        q.join(c, "cell")
        .where(F.col(query_id_col) != F.col(id_col))
        .selectExpr(
            f"`{query_id_col}`",
            f"`{id_col}` AS neighbor_id",
            f"round({dot_product_sql(f'`{query_vec_col}`', f'`{vec_col}`')} / "
            f"(_qn * _cn), 4) AS score",
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def int8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage ANN: coarse top-``shortlist`` on symmetric int8 codes
    (exact integer dot products rescaled by the two per-vector scales),
    then exact float cosine re-rank of the survivors to top-``k``.

    The 100 TB shape: the scan touches only the 4×-smaller code table;
    float vectors are fetched for |queries|·shortlist candidates via a
    broadcast join — never scanned in full. Locally both live in one
    DataFrame; the plan still proves the candidate-only re-rank (the
    exact cosine evaluates after the shortlist window, not in the cross
    join). Integer dots are engine-exact, so the shortlist is
    deterministic; ties break on neighbor id."""
    short = _int8_coarse_ranked(
        corpus, queries, shortlist, id_col, vec_col, query_id_col, query_vec_col
    )
    # Candidate-only exact re-rank: shortlist (|q|·shortlist rows) is
    # broadcast; the float corpus is probed by neighbor id.
    floats = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    exact = F.broadcast(short.select(query_id_col, query_vec_col, "neighbor_id")).join(
        floats, "neighbor_id"
    )
    rescored = exact.selectExpr(
        f"`{query_id_col}`",
        "neighbor_id",
        f"round({cosine_similarity_sql(f'`{query_vec_col}`', f'`{vec_col}`')}, 4)"
        " AS score",
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def _int8_coarse_ranked(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """The coarse stage of the int8 two-stage ANN: symmetric int8
    codes on both sides, exact long-accumulated integer dot rescaled by
    the two per-vector scales, per-query rank ``_r`` (approx_score
    DESC, neighbor ASC) cut at ``shortlist``. The integer dot is
    engine-exact and the rescale is a product of three doubles (one
    IEEE op each), so the ranking is bit-reproducible in any engine."""
    from mlentory_etl_pipeline_spark.functions.vectors import (
        abs_max_sql,
        quantize_int8_sql,
    )

    corpus = spread(corpus)  # int8 dot HOFs run corpus-side
    # SQL-text projections (bit-identity with the Column twins pinned
    # by test_vector_sql_twins_bit_identical)
    c = corpus.selectExpr(
        f"`{id_col}`",
        f"`{vec_col}`",
        f"({abs_max_sql(f'`{vec_col}`')} / 127.0D) AS _csc",
    ).selectExpr(
        f"`{id_col}`",
        f"`{vec_col}`",
        "_csc",
        f"{quantize_int8_sql(f'`{vec_col}`', '_csc')} AS _cq",
    )
    q = queries.selectExpr(
        f"`{query_id_col}`",
        f"`{query_vec_col}`",
        f"({abs_max_sql(f'`{query_vec_col}`')} / 127.0D) AS _qsc",
    ).selectExpr(
        f"`{query_id_col}`",
        f"`{query_vec_col}`",
        "_qsc",
        f"{quantize_int8_sql(f'`{query_vec_col}`', '_qsc')} AS _qq",
    )
    # Integer dot (exact, engine-portable) — accumulate in long.
    int_dot_sql = (
        "aggregate(zip_with(_qq, _cq, (x, y) -> CAST(x AS BIGINT) * "
        "CAST(y AS BIGINT)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    coarse = (
        F.broadcast(q)
        .crossJoin(c.drop(vec_col))
        .where(F.col(query_id_col) != F.col(id_col))
        .selectExpr(
            f"`{query_id_col}`",
            f"`{query_vec_col}`",
            f"`{id_col}` AS neighbor_id",
            f"(CAST({int_dot_sql} AS DOUBLE) * _qsc * _csc) AS approx_score",
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    return coarse.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= shortlist
    )


# ------------------------------------------------------ product quant.

def _subspace_chunks(
    df: DataFrame, id_col: str, vec_col: str, m: int, sub: int
) -> DataFrame:
    """One row per (vector, subspace j) with the j-th length-``sub``
    chunk — map-only explode of a literal-sized sequence."""
    return df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        F.col(vec_col).alias("_v"),
    ).select(
        id_col, "j", F.slice(F.col("_v"), F.col("j") * sub + 1, sub).alias("chunk")
    )


def _l2sq_sql(a: str, b: str, digits: int = 6) -> str:
    """SQL text of the rounded squared L2 distance between two float
    arrays: a double-cast ``zip_with`` fold, rounded so every argmin /
    shortlist is engine-reproducible. SQL text rather than a
    Column-composed lambda, which costs dozens of Py4J round-trips per
    call in the hot PQ constructors."""
    return (
        f"round(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
        f"(acc, v) -> acc + v), {digits})"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    ksub: int = 16,
    shortlist: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring,
    fully relational — every step is a broadcast join + partial-agg, so
    the plan is oracle-replicable SQL and scales like IVF.

    Encode: the vector splits into ``m`` subspaces; each chunk maps to
    its nearest of ``ksub`` codewords (default codebook = chunks of the
    first ``ksub`` corpus vectors in id order — the same deterministic
    seed-quantizer posture as :func:`seed_centroids`; pass
    ``codebook=train_pq_codebook(...)`` for the per-subspace-KMeans
    production quantizer, plan unchanged). A vector stores ``m`` small
    codes — with m=4, ksub=16 that is 2 bytes instead of 256 (128×).

    Query: a per-query distance table (m×ksub rounded sub-distances,
    exact DECIMAL when summed — no float-order drift) broadcasts onto
    the corpus codes; approximate distance is the sum of m table
    lookups, never a touch of the float corpus. The ADC shortlist then
    re-ranks with exact cosine on candidates only (the int8_rerank
    two-stage shape).

    At 100 TB: the scanned table is the 128×-smaller code table; the
    distance-table join fans each code row out once per query — for
    query batches this is the standard ADC batch scan; float vectors
    are probed by id for |queries|·shortlist candidates only.
    """
    # corpus must expose the vector dim statically via the first row's size
    dim_row = corpus.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not dim_row:
        return corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.lit(0).alias(query_id_col),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        ).limit(0)
    dim = dim_row[0].d
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m

    if codebook is None:
        # codebook: m×ksub rows, code index = rank of the seed id within j
        seeds = _subspace_chunks(
            corpus.where(F.col(id_col) < ksub), id_col, vec_col, m, sub
        )
        wseed = Window.partitionBy("j").orderBy(id_col)
        codebook = seeds.select(
            "j",
            (F.row_number().over(wseed) - 1).alias("code"),
            F.col("chunk").alias("cw"),
        )

    # encode corpus: nearest codeword per (vector, subspace) — spread a
    # one-partition local input before the m×ksub interpreted _l2sq_sql
    # evals per vector (no-op on a many-split corpus; the seed-codebook
    # path above keeps the unspread corpus for filter pushdown)
    cchunks = _subspace_chunks(spread(corpus), id_col, vec_col, m, sub)
    codes = (
        cchunks.join(F.broadcast(codebook), "j")
        .groupBy(id_col, "j")
        .agg(
            F.expr(
                f"min_by(code, struct({_l2sq_sql('chunk', 'cw')}, code))"
            ).alias("code")
        )
    )

    # per-query ADC distance table: (query, j, code, d)
    qchunks = _subspace_chunks(queries, query_id_col, query_vec_col, m, sub)
    dtable = qchunks.join(F.broadcast(codebook), "j").select(
        query_id_col,
        "j",
        "code",
        F.expr(f"CAST({_l2sq_sql('chunk', 'cw')} AS DECIMAL(18,6))").alias("d"),
    )

    # ADC scan: m exact-decimal lookups per (query, corpus vector)
    approx = (
        codes.join(F.broadcast(dtable), ["j", "code"])
        .where(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d").alias("approx_dist"))
    )
    wshort = Window.partitionBy(query_id_col).orderBy(
        F.asc("approx_dist"), F.asc(id_col)
    )
    short = (
        approx.withColumn("_r", F.row_number().over(wshort))
        .where(F.col("_r") <= shortlist)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"))
    )

    # candidate-only exact cosine re-rank
    floats = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    qfloats = queries.select(F.col(query_id_col), F.col(query_vec_col))
    rescored = (
        F.broadcast(short)
        .join(qfloats, query_id_col)
        .join(floats, "neighbor_id")
        .selectExpr(
            f"`{query_id_col}`",
            "neighbor_id",
            f"round({cosine_similarity_sql(f'`{query_vec_col}`', f'`{vec_col}`')}, 4)"
            " AS score",
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 16,
    shortlist: int = 40,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    train_iters: int = 3,
) -> DataFrame:
    """IVF-PQ: the standard production ANN composition — a coarse IVF
    quantizer routes vectors to cells, and PQ encodes the RESIDUAL
    (vector minus its cell centroid) instead of the raw vector.
    Residuals concentrate around the origin, so the same ``m × ksub``
    codebook budget spends its codewords on a much smaller volume than
    raw-vector PQ — recall rises sharply at identical code size (the
    gap :func:`pq_adc_topk` at m=4/ksub=16 leaves open).

    Plan shape (all stages relational, no driver loops at query time):

    - corpus → cell is the map-only broadcast-centroid assignment of
      :func:`ivf_probe_cells` (nprobe=1); the residual subtraction is a
      ``zip_with`` against the broadcast centroid row — still map-only;
    - PQ codes are trained on residuals (one shared codebook across
      cells, the FAISS ``IVF…,PQ…`` arrangement) and stored as
      ``(cell, j, code)`` — at 100 TB this is the 128×-smaller code
      table written ``partitionBy("cell")``, so a query's ADC scan is
      partition-pruned to its ``nprobe`` cells;
    - each query computes per-PROBED-CELL residuals and a per-(query,
      cell) ADC distance table (m × ksub rounded sub-distances, exact
      DECIMAL when summed); the equi-join on (cell, j, code) touches
      only probed cells' codes;
    - the ADC shortlist re-ranks with exact float cosine on candidates
      only (the :func:`int8_rerank_topk` two-stage shape).

    ``centroids`` / ``codebook`` accept pre-trained quantizers (the
    codebook must be residual-trained for scores to make sense);
    otherwise both train in-repo via the distributed Lloyd's loop.
    Deterministic end-to-end: id-ordered seeds, fixed iterations,
    rounded distances, id tiebreaks.
    """
    dim_row = corpus.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not dim_row:
        return corpus.select(
            F.lit(0).alias(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        ).limit(0)
    dim = dim_row[0].d
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m

    cents = (
        centroids
        if centroids is not None
        else trained_centroids(corpus, n_centroids, train_iters, id_col, vec_col)
    )
    cent_rows = cents.select(F.explode("_cents").alias("_c")).select(
        F.col("_c.cid").alias("cell"), F.col("_c.cv").alias("_cellv")
    )

    # corpus → (id, cell, residual); broadcast joins only, then pinned:
    # the codebook training scans it several times. spread fans a
    # one-partition local input out across cores before the
    # interpreted per-cell HOF assignment (no-op on a real corpus);
    # c_res and every training iteration inherit the spread through the
    # localCheckpoint.
    c_cells = ivf_probe_cells(
        spread(corpus), cents, id_col, vec_col, nprobe=1, norm_alias="_cn"
    )
    c_res = (
        c_cells.join(F.broadcast(cent_rows), "cell")
        .selectExpr(
            f"`{id_col}`",
            "cell",
            f"zip_with(`{vec_col}`, _cellv, (a, b) -> "
            "CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) AS _resid",
        )
        .localCheckpoint(eager=False)
    )
    if codebook is None:
        codebook = train_pq_codebook(
            c_res, m=m, ksub=ksub, iters=train_iters, id_col=id_col, vec_col="_resid"
        )

    # encode residuals → (id, cell, j, code): nearest codeword per chunk
    cchunks = _subspace_chunks(c_res, id_col, "_resid", m, sub)
    codes = (
        cchunks.join(F.broadcast(codebook), "j")
        .groupBy(id_col, "j")
        .agg(
            F.expr(
                f"min_by(code, struct({_l2sq_sql('chunk', 'cw')}, code))"
            ).alias("code")
        )
        .join(c_res.select(id_col, "cell"), id_col)
    )

    # queries → per-probed-cell residuals → per-(query, cell) ADC table
    q_cells = ivf_probe_cells(
        queries, cents, query_id_col, query_vec_col, nprobe=nprobe, norm_alias="_qn"
    )
    q_res = q_cells.join(F.broadcast(cent_rows), "cell").selectExpr(
        f"`{query_id_col}`",
        "cell",
        f"zip_with(`{query_vec_col}`, _cellv, (a, b) -> "
        "CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) AS _qresid",
    )
    qchunks = q_res.select(
        F.col(query_id_col),
        F.col("cell"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        F.col("_qresid").alias("_v"),
    ).select(
        query_id_col, "cell", "j",
        F.slice(F.col("_v"), F.col("j") * sub + 1, sub).alias("chunk"),
    )
    dtable = qchunks.join(F.broadcast(codebook), "j").select(
        query_id_col,
        "cell",
        "j",
        "code",
        F.expr(f"CAST({_l2sq_sql('chunk', 'cw')} AS DECIMAL(18,6))").alias("d"),
    )

    # ADC scan over probed cells only; m exact-decimal lookups per pair
    approx = (
        codes.join(F.broadcast(dtable), ["cell", "j", "code"])
        .where(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d").alias("approx_dist"))
    )
    wshort = Window.partitionBy(query_id_col).orderBy(F.asc("approx_dist"), F.asc(id_col))
    short = (
        approx.withColumn("_r", F.row_number().over(wshort))
        .where(F.col("_r") <= shortlist)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"))
    )

    # candidate-only exact cosine re-rank
    floats = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    qfloats = queries.select(F.col(query_id_col), F.col(query_vec_col))
    rescored = (
        F.broadcast(short)
        .join(qfloats, query_id_col)
        .join(floats, "neighbor_id")
        .selectExpr(
            f"`{query_id_col}`",
            "neighbor_id",
            f"round({cosine_similarity_sql(f'`{query_vec_col}`', f'`{vec_col}`')}, 4)"
            " AS score",
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


# ------------------------------------------------------------- k-means

def kmeans_cluster(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the scale
    path for N6 question clustering (``QAMatchingEngine.py:315-360``
    runs sklearn AgglomerativeClustering on the driver; fine for ~30
    questions, impossible for a corpus).

    Deterministic by construction: seeds are the first ``k`` vectors in
    id order, iteration count is fixed, distances are rounded before the
    argmin and ties break on the lower centroid id — two runs (and any
    partitioning) give identical assignments.

    Scale shape per iteration:

    - assignment is a pure MAP against a broadcast 1-row centroid array
      (transform → array_sort → [1]) — no N×k join, no shuffle;
    - the centroid update is ``posexplode`` + grouBy(cluster, dim) avg —
      partial-aggregable, so the shuffle volume is partitions × k × d,
      never N × d; the k×d result lands on the driver exactly like
      ``pyspark.ml`` KMeans' per-iteration aggregate.

    Returns (id, cluster) with cluster ∈ [0, k).
    """
    dim_df = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not dim_df:
        return df.select(F.col(id_col), F.lit(0).alias("cluster")).limit(0)
    # spread a one-partition local input before the interpreted per-
    # centroid HOF assignment loop; the checkpoint pins the spread for
    # every Lloyd iteration (no-op on a many-split corpus)
    vecs = spread(df.select(id_col, vec_col)).localCheckpoint(eager=False)
    centroids = _lloyd_centroids(vecs, id_col, vec_col, k, iters, round_digits)
    return _kmeans_assign(vecs, id_col, vec_col, centroids, round_digits).select(
        F.col(id_col), F.col("cluster")
    )


def _cent_array_sql(cents: list[list[float]]) -> str:
    """SQL text of the literal ``array<struct<cid:int, cv:array<double>>>``
    centroid table — the Column composition costs k×(d+3) Py4J
    round-trips per call (k=32, d=64 → ~2 500 calls ≈ 1.5 s PER Lloyd
    iteration); one ``F.expr`` parse of the same tree is ~10 ms.
    ``_dlit`` keeps every component an exact binary64 round-trip, so the
    literals are bit-identical to ``F.lit(x)``."""
    return (
        "array("
        + ",".join(
            f"named_struct('cid', {i}, 'cv', array("
            + ",".join(_dlit(x) for x in cv)
            + "))"
            for i, cv in enumerate(cents)
        )
        + ")"
    )


def _kmeans_assign(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]],
    round_digits: int = 6,
) -> DataFrame:
    """Map-only nearest-centroid assignment against a literal centroid
    array (rounded L2, ties -> lower centroid id)."""
    # whole assignment as ONE SQL text (the centroid literal was
    # already text; the per-iteration lambda construction was the
    # remaining Py4J cost — this runs once per Lloyd iteration)
    scored = (
        f"transform({_cent_array_sql(cents)}, c -> struct("
        f"round(aggregate(zip_with(`{vec_col}`, c.cv, "
        f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        f"0.0D, (acc, x) -> acc + x), {round_digits}) AS dist, "
        f"c.cid AS cid))"
    )
    return vecs.selectExpr(
        f"`{id_col}`",
        f"`{vec_col}`",
        f"element_at(array_sort({scored}), 1).cid AS cluster",
    )


def _lloyd_centroids(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    round_digits: int = 6,
) -> list[list[float]]:
    """Run ``iters - 1`` Lloyd updates and return the final k×d centroid
    list (driver-side, like ``pyspark.ml`` KMeans' model centers).
    Deterministic: id-ordered seeds, fixed iterations, rounded argmin."""
    seeds = [
        [float(x) for x in r[0]]
        for r in vecs.select(vec_col).orderBy(id_col).limit(k).collect()
    ]
    centroids = seeds
    quant = 10**6
    for _ in range(max(iters - 1, 0)):
        assigned = _kmeans_assign(vecs, id_col, vec_col, centroids, round_digits)
        # centroid update in scaled-long arithmetic: components quantize
        # to floor(val * 1e6) BEFORE the sum, so the per-(cluster, dim)
        # fold is order-independent integers and the new centroid
        # floor(sum/cnt)/1e6 is bit-identical on any partitioning or
        # engine — what lets the registry query unroll the whole Lloyd
        # loop as a SQL oracle (graph.pagerank uses the same scheme)
        upd = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("val").cast("double") * quant).cast("long")
                ).alias("sq"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        new_cents = [list(cv) for cv in centroids]  # empty clusters keep seeds
        by_cluster: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster, {})[r.pos] = (r.sq // r.cnt) / quant
        for cid, dims in by_cluster.items():
            new_cents[cid] = [dims[i] for i in range(len(dims))]
        centroids = new_cents
    return centroids


# -------------------------------------------------- trained quantizers

def trained_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer TRAINED with the in-repo distributed Lloyd's
    k-means (:func:`kmeans_cluster`'s loop), packaged in the exact 1-row
    broadcast shape :func:`seed_centroids` produces — so
    :func:`ivf_topk` runs the identical map-only assignment plan on
    either. Deterministic (id-ordered seeds, fixed iters, rounded
    argmin), so results are stable run-to-run; the training itself is
    iterative and therefore not SQL-oracle-expressible — trained-ANN
    registry queries are rows-only by declared design, with recall@k vs
    :func:`brute_force_topk` asserted in tests."""
    spark = corpus.sparkSession
    vecs = spread(corpus.select(id_col, vec_col)).localCheckpoint(
        eager=False
    )
    cents = _lloyd_centroids(vecs, id_col, vec_col, n_centroids, iters)
    rows = [(i, [float(x) for x in cv]) for i, cv in enumerate(cents)]
    # explicit schema: empty corpora yield zero seed rows, and schema
    # inference cannot work from an empty list
    # NOTE: cn is the norm of the DOUBLE cv (as the Column form
    # computed it — l2_norm referenced the pre-cast input), not of the
    # float-cast copy; casting first would perturb low bits.
    cent_df = spark.createDataFrame(rows, "cid int, cv array<double>").selectExpr(
        "CAST(cid AS INT) AS cid",
        "CAST(cv AS ARRAY<FLOAT>) AS cv",
        f"{l2_norm_sql('cv')} AS cn",
    )
    return cent_df.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cv", "cn"))).alias("_cents")
    )


def train_pq_codebook(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ codebooks trained with Lloyd's k-means on each
    subspace's chunk population — the production quantizer
    :func:`pq_adc_topk`'s docstring promises, in the same
    ``(j, code, cw)`` shape as the seed codebook so the encode/ADC plan
    is unchanged. m small trainings (m=4) of k=ksub centroids each;
    every one is the partial-agg Lloyd loop, so training scans the
    corpus, never collects it."""
    spark = corpus.sparkSession
    dim_row = corpus.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not dim_row:
        return spark.createDataFrame([], "j int, code int, cw array<float>")
    sub = dim_row[0].d // m
    chunks = _subspace_chunks(
        spread(corpus), id_col, vec_col, m, sub
    ).localCheckpoint(eager=False)
    # ALL m subspace trainings run JOINTLY, keyed by j: one assignment
    # pass + one (j, cluster, dim) update shuffle per iteration instead
    # of m sequential trainings (m=16 flat PQ: 2 jobs vs 32 — measured
    # the dominant cost of the recall audit). Math identical to per-j
    # training (subspaces are independent), so the unrolled SQL oracles
    # built on per-j semantics are unchanged.
    seeds = (
        chunks.where(F.col(id_col) < ksub)
        .select(id_col, "j", "chunk")
        .collect()
    )
    # j -> cluster -> centroid; seeds are the chunks of the ksub
    # smallest ids (id == code for the dense-id corpora used here —
    # matches _lloyd_centroids' orderBy(id).limit(ksub) seeding when
    # ids are 0..n; assert to be safe)
    seed_ids = sorted({r[0] for r in seeds})
    assert len(seed_ids) == 0 or seed_ids == list(range(len(seed_ids))), (
        "joint PQ training assumes dense ids 0..ksub-1 for seeding; "
        f"got {seed_ids[:5]}…"
    )
    ksub = min(ksub, len(seed_ids))  # tiny corpora: fewer codes, like
    # the sequential path's orderBy().limit() seeding
    cents: list[list[list[float]]] = [[None] * ksub for _ in range(m)]
    for r in seeds:
        if r[0] < ksub:
            cents[r[1]][r[0]] = [float(x) for x in r[2]]
    quant = 10**6
    for _ in range(max(iters - 1, 0)):
        # per-j centroid literal: outer array indexed by j, inner the
        # (cid, cv) struct array _kmeans_assign uses — SQL text for the
        # same reason as _cent_array_sql (m×ksub×sub literal components)
        per_j = (
            "array(" + ",".join(_cent_array_sql(cents[j]) for j in range(m)) + ")"
        )
        # whole per-iteration assignment as ONE SQL text (same nodes as
        # the former Column-composed transform; _cent_array_sql already
        # carried the literals as text)
        scored = (
            f"transform(element_at({per_j}, j + 1), c -> struct("
            f"round(aggregate(zip_with(chunk, c.cv, "
            f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            f"0.0D, (acc, x) -> acc + x), 6) AS dist, "
            f"c.cid AS cid))"
        )
        assigned = chunks.select(
            F.col("j"),
            F.expr(f"element_at(array_sort({scored}), 1).cid").alias("cluster"),
            F.posexplode(F.col("chunk")).alias("pos", "val"),
        )
        upd = (
            assigned.groupBy("j", "cluster", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("val").cast("double") * quant).cast("long")
                ).alias("sq"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        new_cents = [[list(cv) for cv in cents[j]] for j in range(m)]
        for r in upd:
            new_cents[r.j][r.cluster][r.pos] = (r.sq // r.cnt) / quant
        cents = new_cents
    rows = [
        (j, code, cents[j][code]) for j in range(m) for code in range(ksub)
    ]
    return spark.createDataFrame(rows, ["j", "code", "cw"]).select(
        F.col("j").cast("int"),
        F.col("code").cast("int"),
        F.col("cw").cast("array<float>"),
    )


# ----------------------------------------------------------- SemDeDup

def semantic_dedup(
    vecs: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    policy: str = "dominance",
) -> DataFrame:
    """Embedding-level (semantic) dedup, the cluster-then-compare shape
    of SemDeDup (Abbas et al. 2023, public recipe): vectors are
    k-means-assigned to cells, pairwise cosine runs ONLY within a cell,
    and near-duplicate pairs (``round(cos, 4) >= threshold``) mark
    losers for removal. The reference's embedding matcher
    (``code/extractors/mlentory_extract/core/QAMatchingEngine.py:154-237``)
    scores all pairs; clustering first is what makes the same semantics
    run at corpus scale — the quadratic term is bounded per cell
    (E[cell] = n/k, so Σ cell² ≈ n²/k with k chosen so cells fit a
    task; hot cells split by AQE).

    Survivor policies:

    - ``"dominance"`` (default): drop a vector iff SOME smaller-id
      vector in its cell is within threshold. One semi-join after the
      pair scan, and — unlike transitive closure — expressible in SQL,
      so the registry query carries a full DuckDB oracle.
    - ``"components"``: connected components over the near-dup graph
      (alternating large/small-star), keep each component's min id —
      the transitive policy for chains A~B~C where A!~C.

    ``centroids`` accepts a pre-trained quantizer
    (:func:`trained_centroids`); default seeds are the ``id <
    n_centroids`` vectors so the oracle can replicate assignment.
    Returns ``(id, cell, keep)`` for every input vector.
    """
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(vecs, n_centroids, id_col, vec_col)
    )
    # assignment feeds both pair sides AND the final keep join — pin it
    # so the map-side centroid pass runs once, not once per branch
    assigned = ivf_probe_cells(
        vecs, cents, id_col, vec_col, nprobe=1, norm_alias="_n"
    ).localCheckpoint(eager=False)
    a = assigned.select(
        F.col("cell"), F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = assigned.select(
        F.col("cell"), F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("_ia") < F.col("_ib"))
        .where(
            F.expr(f"round({dot_product_sql('_va', '_vb')} / (_na * _nb), 4)")
            >= threshold
        )
        .select(F.col("_ia").alias("u"), F.col("_ib").alias("v"))
    )
    if policy == "dominance":
        losers = pairs.select(F.col("v").alias(id_col)).distinct()
    else:
        assert policy == "components", f"unknown policy={policy!r}"
        from mlentory_etl_pipeline_spark.operators.dedup import connected_components

        comp = connected_components(pairs, "u", "v")
        losers = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    return (
        assigned.select(id_col, "cell")
        .join(losers.withColumn("_lose", F.lit(True)), id_col, "left")
        .select(
            id_col, "cell", F.coalesce(~F.col("_lose"), F.lit(True)).alias("keep")
        )
    )


# ------------------------------------------- hard-negative mining

def hard_negative_mining(
    corpus: DataFrame,
    pairs: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    pos_id_col: str = "positive_id",
    shortlist: int | None = None,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Mine HARD negatives for retrieval/contrastive training: for each
    (query, positive) pair, the k corpus vectors most cosine-similar to
    the query that are neither the query nor its positive — the
    standard upgrade over random negatives (the near-misses are what
    teach the margin), complementing the md5-uniform
    ``curation.negative_sampling`` pool.

    Exact path (default): broadcast the (small) pair side with its
    query vectors, score against the corpus, exclude {query, positive},
    rank. With ``shortlist`` set, candidates come from the IVF index
    instead (:func:`ivf_topk` over ``shortlist`` neighbors, then
    exclusion+re-rank) — the corpus is never cross-joined, which is
    the 100 TB shape; exactness then degrades to IVF recall, and the
    shortlist must exceed k by enough to survive exclusions.

    Returns ``(query_id, positive_id, negative_id, score, rank)``.
    """
    qvec = pairs.join(
        corpus.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv")
        ),
        query_id_col,
    )
    if shortlist is None:
        cand = brute_force_topk(
            corpus,
            qvec.select(query_id_col, F.col("_qv").alias("query_vec")),
            k=k + 2,  # survive excluding the positive (self already excluded)
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        cand = ivf_topk(
            corpus,
            qvec.select(query_id_col, F.col("_qv").alias("query_vec")),
            n_centroids=n_centroids,
            nprobe=nprobe,
            k=shortlist,
            id_col=id_col,
            vec_col=vec_col,
        )
    out = (
        cand.join(pairs, query_id_col)
        .where(F.col("neighbor_id") != F.col(pos_id_col))
        .select(
            query_id_col,
            pos_id_col,
            F.col("neighbor_id").alias("negative_id"),
            "score",
        )
    )
    w = Window.partitionBy(query_id_col, pos_id_col).orderBy(
        F.desc("score"), F.asc("negative_id")
    )
    return out.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def semantic_dedup_incremental(
    stored: DataFrame,
    batch: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: screen an ARRIVING batch against a
    persisted, already-deduplicated corpus without rescoring the store
    — the semantic member of the incremental-dedup family
    (:func:`mlentory_etl_pipeline_spark.operators.dedup.minhash_incremental_pairs`
    is the MinHash twin, ``anti_join_is_new`` the exact one).

    Precedence is ARRIVAL ORDER (the incremental invariant): a batch
    vector loses iff (a) any STORED cellmate sits within ``threshold``
    cosine, or (b) a smaller-id BATCH cellmate does (the dominance rule
    within the batch). Stored vectors never lose — they were already
    accepted. Equivalent to replaying :func:`semantic_dedup` with store
    ids ordered before batch ids.

    Scale shape: both sides cell-assign map-only against the broadcast
    centroids (the store's assignment is precomputed at write time and
    its table written ``partitionBy("cell")``, so the batch-vs-store
    join prunes to the batch's cells); per-batch cost is
    |batch| x cellmates, never |store|². Returns the batch as
    ``(id, cell, keep)`` — the keep=true rows append to the store.
    """
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(stored, n_centroids, id_col, vec_col)
    )
    s = ivf_probe_cells(stored, cents, id_col, vec_col, nprobe=1, norm_alias="_n")
    b = ivf_probe_cells(
        batch, cents, id_col, vec_col, nprobe=1, norm_alias="_n"
    ).localCheckpoint(eager=False)

    def _cos(va, na, vb, nb):
        # SQL text (r10 §7): args are plain column NAMES; one parse
        # instead of the HOF-lambda Py4J round-trips
        return F.expr(f"round({dot_product_sql(va, vb)} / ({na} * {nb}), 4)")

    sb = s.select(
        "cell", F.col(vec_col).alias("_vs"), F.col("_n").alias("_ns")
    )
    bb = b.select(
        "cell", F.col(id_col), F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb")
    )
    lost_to_store = (
        bb.join(sb, "cell")
        .where(_cos("_vs", "_ns", "_vb", "_nb") >= threshold)
        .select(id_col)
        .distinct()
    )
    b1 = b.select(
        "cell", F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    b2 = b.select(
        "cell", F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    lost_in_batch = (
        b1.join(b2, "cell")
        .where(F.col("_ia") < F.col("_ib"))
        .where(_cos("_va", "_na", "_vb", "_nb") >= threshold)
        .select(F.col("_ib").alias(id_col))
        .distinct()
    )
    losers = lost_to_store.unionByName(lost_in_batch).distinct()
    return (
        b.select(id_col, "cell")
        .join(losers.withColumn("_lose", F.lit(True)), id_col, "left")
        .select(
            id_col, "cell", F.coalesce(~F.col("_lose"), F.lit(True)).alias("keep")
        )
    )


def seed_pq_codebook_residual(
    corpus: DataFrame,
    cents: DataFrame,
    dim: int,
    m: int,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_offset: int = 16,
) -> DataFrame:
    """Deterministic RESIDUAL-space seed codebook for
    :func:`ivf_pq_topk`: the residuals (vector minus its IVF cell
    centroid) of the ``ksub`` corpus vectors with ids in
    ``[id_offset, id_offset + ksub)``, chunked into ``m`` subspaces,
    with ``code = id - id_offset`` — the residual twin of the raw seed
    codebook inside :func:`pq_adc_topk`'s demo, and like it fully
    SQL-replicable, so the WHOLE IVF-PQ pipeline (assignment →
    residual → encode → ADC → re-rank) can run under a hard DuckDB
    oracle. ``id_offset`` must avoid the seed-centroid ids: a seed
    centroid's residual is the zero vector, which would collapse the
    codebook. The TRAINED path is :func:`train_pq_codebook` on
    residuals — identical plan, better codewords.
    """
    sub = dim // m
    cent_rows = cents.select(F.explode("_cents").alias("_c")).select(
        F.col("_c.cid").alias("cell"), F.col("_c.cv").alias("_cellv")
    )
    seeds = ivf_probe_cells(
        corpus.where(
            (F.col(id_col) >= id_offset) & (F.col(id_col) < id_offset + ksub)
        ),
        cents,
        id_col,
        vec_col,
        nprobe=1,
        norm_alias="_n",
    )
    res = seeds.join(F.broadcast(cent_rows), "cell").select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col),
            F.col("_cellv"),
            lambda a, b: a.cast("double") - b.cast("double"),
        ).alias("_r"),
    )
    return _subspace_chunks(res, id_col, "_r", m, sub).select(
        "j",
        (F.col(id_col) - id_offset).cast("int").alias("code"),
        F.col("chunk").alias("cw"),
    )


def nearest_centroid_confusion(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Rocchio nearest-centroid classification of labeled embeddings,
    reported as a confusion matrix — the label-quality audit a
    training-data pipeline runs over annotated corpora (labels whose
    members scatter across other centroids are noisy or duplicated;
    the same probe the reference's QA matcher would need to validate
    its section labels, ``QAMatchingEngine.py:154-237``).

    Centroids are EXACT: per-(label, dim) sums of ``floor(v·1e6)``
    longs (one posexplode + one map-side-combined aggregation — the
    quantized-update scheme the distributed Lloyd's loop uses), so the
    mean is a ratio of exact integers and the whole train+classify
    pipeline replays under a hard SQL oracle. Classification
    broadcasts the |labels| centroid rows, scores JVM-side
    (zip_with/aggregate cosine), ranks on the 4-dp-rounded score with
    a label tiebreak (fully deterministic), and folds into the
    |labels|² confusion matrix.
    """
    from mlentory_etl_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    vm = vecs.select(
        F.col(label_col).alias("_lab"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"),
    ).select(
        "_lab",
        "_dim",
        F.floor(F.col("_v").cast("double") * scale).cast("long").alias("_m"),
    )
    cent = vm.groupBy("_lab", "_dim").agg(
        F.sum("_m").alias("_sm"), F.count(F.lit(1)).alias("_n")
    )
    carr = cent.groupBy("_lab").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_dim"),
                        (
                            F.col("_sm").cast("double")
                            / F.col("_n")
                            / F.lit(float(scale))
                        ).alias("_c"),
                    )
                )
            ),
            lambda s: s.getField("_c"),
        ).alias("_centroid")
    ).select(F.col("_lab").alias("pred_label"), "_centroid")
    scored = vecs.select(id_col, F.col(label_col).alias("label"), vec_col).crossJoin(
        F.broadcast(carr)
    ).select(
        id_col,
        "label",
        "pred_label",
        F.expr(
            f"round({cosine_similarity_sql(f'`{vec_col}`', '_centroid')}, 4)"
        ).alias("_score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_score"), F.asc("pred_label"))
    pred = scored.withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1)
    return (
        pred.groupBy("label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "pred_label")
    )


def embedding_gram_exact(
    df: DataFrame,
    vec_col: str,
    n_dims: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """EXACT (quantized-integer) Gram / second-moment matrix of the
    first ``n_dims`` embedding dimensions — the input to PCA /
    whitening / covariance drift checks over an embedding column. The
    eigen step is a driver-side d×d numpy call; THIS is the part that
    has to be distributed and exact.

    Pattern (new in this module): integer partial aggregation from the
    Arrow path. Each ``mapInPandas`` batch quantizes its vectors to
    ``floor(v·scale)`` int64 and emits ONE upper-triangle partial
    ``Gᵢⱼ = Σ qᵢ·qⱼ`` per (i, j) — a d(d+1)/2-row partial per batch,
    computed as a single numpy ``q.T @ q`` matmul. Spark then sums
    partials in DECIMAL(38,0), so the result is exact and
    engine-reproducible (the DuckDB oracle unnests and re-sums the
    same integers). Per-batch int64 bounds: |q| ≤ scale·|v|, so a
    10k-row Arrow batch of unit-scale embeddings stays ≤ 1e16 ≪ 2⁶³.

    Scale posture: the shuffle carries |batches|·d(d+1)/2 tiny rows
    (nothing per-vector leaves the scan stage); the final aggregation
    is d(d+1)/2 groups. This is the map-side-combine shape of the
    mergeable-sketch family, with numpy doing the per-batch flops.
    """
    exact = _gram_exact_int(df, vec_col, n_dims, scale)
    return exact.select(
        "i",
        "j",
        "n_vectors",
        F.round(
            F.col("gram_int").cast("double")
            / F.lit(float(scale) * float(scale)),
            6,
        ).alias("gram"),
    )


def _gram_exact_int(df, vec_col: str, n_dims: int, scale: int):
    """Upper-triangle EXACT integer Gram entries (the un-rounded core of
    :func:`embedding_gram_exact`): (i, j, n_vectors, gram_int DECIMAL).
    Same mapInPandas partial scheme; the consumer decides the close."""
    import pandas as pd  # noqa: F401

    out_schema = "i int, j int, n long, partial long"

    def gram_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = pdf[vec_col].tolist()
            if not vecs:
                continue
            m = np.asarray(vecs, dtype=np.float64)[:, :n_dims]
            q = np.floor(m * scale).astype(np.int64)
            g = q.T @ q
            n = q.shape[0]
            iu, ju = np.triu_indices(n_dims)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "n": np.full(iu.shape[0], n, dtype=np.int64),
                    "partial": g[iu, ju],
                }
            )

    parts = df.select(vec_col).mapInPandas(gram_batches, out_schema)
    return parts.groupBy("i", "j").agg(
        F.sum("n").alias("n_vectors"),
        F.sum(F.col("partial").cast("decimal(38,0)")).alias("gram_int"),
    )


def embedding_pca(
    df: DataFrame,
    vec_col: str,
    n_dims: int,
    top_k: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k PCA spectrum of an embedding column — eigenvalues of the
    covariance matrix with explained-variance ratios, the
    dimensionality audit before IVF/PQ quantizer sizing (how many
    intrinsic dimensions does this embedding space actually use?).

    Split-of-labor contract (the standard distributed-PCA shape, e.g.
    Spark MLlib's RowMatrix.computePrincipalComponents): the O(N·d²)
    half is ``embedding_gram_exact`` — one distributed pass producing
    the EXACT quantized second-moment matrix plus exact first moments;
    the O(d³) eigendecomposition runs on the driver over the d×d
    matrix (d is tens-to-hundreds — never data-scale). ``collect()``
    here moves d(d+1)/2 + d numbers, not data.

    The eigen step is a QUANTIZED POWER ITERATION with deflation (the
    trained-quantizer device that hard-oracled the k-means/IVF-PQ
    family): the n²-scaled covariance ``M = n·G − S·Sᵀ`` is an EXACT
    integer matrix (G = quantized integer Gram, S = quantized integer
    dim sums), and each of the T = 30 iterations is pure integer
    arithmetic — matvec ``w = A·v`` over exact integers, then L∞
    re-quantization ``v' = (w·10⁶) tdiv max|w|`` (truncating integer
    division, matching DuckDB's ``//``). No float exists anywhere in
    the loop, so a DuckDB recursive CTE over LIST(HUGEINT) state
    replays it bit-for-bit and the query carries a HARD oracle. Each
    eigenvalue closes as ONE double division of the exact Rayleigh
    integers (vᵀAv, vᵀv); deflation stays integral:
    ``A' = A − (λ_int·v·vᵀ) tdiv den`` with ``λ_int = num tdiv den``.

    Accuracy contract: T = 30 contracts component error by
    (λ₂/λ₁)³⁰; the truncating quantization perturbs each step by
    ≤ 2⁻²⁰ relative — the spectrum agrees with numpy eigh to ~1e-5
    on separated spectra (property-tested); a tied/degenerate
    spectrum yields a deterministic (engine-identical) basis choice.
    Exactness bound: HUGEINT/DECIMAL(38) holds while n²·scale²·d
    stays under ~10³⁶ — n ≤ ~10⁷ vectors at scale = 10⁶; larger
    corpora pre-shift M (spectrum ratios are shift-invariant).
    ``explained`` ratios divide by the exact trace of M (= total
    variance), so they cover the full spectrum, not just top-k.
    """
    sums = df.select(
        F.posexplode(F.slice(F.col(vec_col), 1, n_dims)).alias("_i", "_v")
    ).groupBy("_i").agg(
        F.sum(
            F.floor(F.col("_v").cast("double") * scale)
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    g_rows = _gram_exact_int(df, vec_col, n_dims, scale).collect()
    s_rows = sums.collect()
    n = int(g_rows[0]["n_vectors"])
    s = [0] * n_dims
    for r in s_rows:
        s[r["_i"]] = int(r["_s"])
    g = [[0] * n_dims for _ in range(n_dims)]
    for r in g_rows:
        v = int(r["gram_int"])
        g[r["i"] - 1][r["j"] - 1] = v
        g[r["j"] - 1][r["i"] - 1] = v
    # exact n²-scaled covariance and its trace (total variance)
    a = [
        [n * g[i][j] - s[i] * s[j] for j in range(n_dims)]
        for i in range(n_dims)
    ]
    trace_m = sum(a[i][i] for i in range(n_dims))

    def tdiv(x: int, d: int) -> int:
        # truncate-toward-zero division (DuckDB // semantics); d > 0
        return x // d if x >= 0 else -((-x) // d)

    out = []
    for k in range(min(top_k, n_dims)):
        v = [scale] * n_dims
        for _ in range(30):
            w = [sum(a[i][j] * v[j] for j in range(n_dims)) for i in range(n_dims)]
            # max(·, 1) keeps a deflated-to-zero matrix deterministic
            # in BOTH engines (v collapses to the zero vector; the
            # NULL close below reports the exhausted spectrum)
            mx = max(max(abs(x) for x in w), 1)
            v = [tdiv(x * scale, mx) for x in w]
        num = sum(v[i] * a[i][j] * v[j] for i in range(n_dims) for j in range(n_dims))
        den = sum(x * x for x in v)
        if den == 0 or trace_m <= 0:
            eig = None if den == 0 else 0.0
            exp = None
        else:
            eig = (
                float(num) / float(den) / float(n) / float(n)
                / float(scale * scale)
            )
            exp = (float(num) / float(den)) / float(trace_m)
        from mlentory_etl_pipeline_spark.functions.rounding import round_half_up

        out.append(
            (
                k + 1,
                n,
                round_half_up(eig, 6) if eig is not None else None,
                round_half_up(exp, 6) if exp is not None else None,
            )
        )
        d2 = max(den, 1)
        lam_int = tdiv(num, d2)
        a = [
            [a[i][j] - tdiv(lam_int * v[i] * v[j], d2) for j in range(n_dims)]
            for i in range(n_dims)
        ]
    return df.sparkSession.createDataFrame(
        out, "component int, n_vectors long, eigenvalue double, explained double"
    )


def dbscan_label(
    ids: DataFrame,
    pairs: DataFrame,
    min_pts: int,
    id_col: str = "vec_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """DBSCAN labeling from a precomputed eps-neighborhood pair graph —
    density-based clustering, the family k-means can't imitate
    (arbitrary shapes, a first-class NOISE verdict): a point is CORE
    if its eps-neighborhood holds ≥ min_pts points (itself included),
    clusters are connected components of the core-core graph, BORDER
    points attach to the minimum cluster id among their core
    neighbors, everything else is noise.

    Decoupling the pair source is the scale design: candidates come
    from whatever neighbor machinery fits the data (brute force on a
    probe set, LSH buckets, IVF cells — the dedup family's existing
    paths); this operator is the labeling core. With exact/rounded
    distances the pair set is engine-deterministic, and every step
    here is integer counting, the large-star/small-star CC fold, and
    min aggregations — no float arithmetic at all, so DBSCAN carries a
    hard oracle (reachability CTE + the same min rules).

    Returns (id, role ∈ core|border|noise, cluster — NULL for noise;
    cluster ids are the component's minimum member id, so labels are
    stable across partitionings).
    """
    from mlentory_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )

    base = ids.select(F.col(id_col).alias("_id")).distinct()
    p = pairs.select(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).localCheckpoint(eager=False)
    und = p.unionByName(
        p.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    )
    deg = und.groupBy("_a").agg(F.count(F.lit(1)).alias("_deg"))
    core = deg.where(F.col("_deg") >= min_pts - 1).select(
        F.col("_a").alias("_id")
    ).localCheckpoint(eager=False)
    core_edges = (
        p.join(core.withColumnRenamed("_id", "_a"), "_a")
        .join(core.withColumnRenamed("_id", "_b"), "_b")
        .select(F.col("_a").alias("a_id"), F.col("_b").alias("b_id"))
    )
    comp = connected_components(core_edges)
    core_lab = core.join(
        comp.withColumnRenamed("node", "_id"), "_id", "left"
    ).select(
        "_id",
        # an isolated core (no core neighbor) is its own cluster
        F.coalesce(F.col("component"), F.col("_id")).alias("_cl"),
    ).localCheckpoint(eager=False)
    border = (
        und.join(core_lab.withColumnRenamed("_id", "_b"), "_b")
        .join(core_lab.select(F.col("_id").alias("_a")), "_a", "left_anti")
        .groupBy("_a")
        .agg(F.min("_cl").alias("_cl"))
        .select(F.col("_a").alias("_id"), "_cl")
    )
    labeled = core_lab.select(
        "_id", F.lit("core").alias("role"), F.col("_cl").alias("cluster")
    ).unionByName(
        border.select(
            "_id", F.lit("border").alias("role"), F.col("_cl").alias("cluster")
        )
    )
    return (
        base.join(labeled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
            "cluster",
        )
        .orderBy(id_col)
    )


def _blocking_refs(dim: int, n_refs: int) -> list[list[float]]:
    """Deterministic, data-independent reference directions for
    angular blocking: element ``i`` of ref ``j`` is an md5-derived
    uniform in [-1, 1] (compile-time constants — no RNG state, the
    LSH-hyperplane scheme from dedup.embedding_near_dup_lsh)."""
    import hashlib

    refs = []
    for j in range(n_refs):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"angref:{j}:{i}".encode()).hexdigest()
            row.append(int(h[:15], 16) / float(16**15) * 2.0 - 1.0)
        refs.append(row)
    return refs


def cosine_pairs_angular_blocked(
    df: DataFrame,
    threshold: float,
    round_dp: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_refs: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine-threshold pairs (``round(cos, dp) >= threshold``)
    with LOSSLESS angular blocking — the high-threshold replacement
    for the all-pairs cross join.

    For any unit reference direction r, the spherical triangle
    inequality gives ``angle(a, b) >= |angle(a, r) - angle(b, r)|``,
    so every qualifying pair (cos >= threshold - half-ulp of the
    rounding) lies within ``band = acos(threshold - 1.5 * 10^-dp)``
    degrees along EVERY reference. The plan:

    1. one cheap pass computes k reference angles per vector
       (k small dots — O(N * k * d), map-side);
    2. vectors are bucketed by ``floor(theta_1 / band)`` and each
       probes its 3 adjacent buckets via posexplode → EQUI-join
       (no cross product; each qualifying pair matches exactly one
       probe key because the build side keeps its single home bin);
    3. survivors pass the remaining k-1 scalar angle bands before
       the full-dimension dot product runs — the d-element HOF is
       paid only on near-duplicate candidates.

    Correctness is exact (blocking is a necessary condition, the
    final filter is the same rounded cosine as brute force), so the
    brute-force SQL oracle carries unchanged. For random corpora the
    band keeps ~(band / angle-std) of pairs per ref, concentrating
    the quadratic term by orders of magnitude at thresholds >= 0.99;
    at low thresholds the band widens toward 90 degrees and the
    cross-join baseline or LSH path is the right tool instead.

    Zero-norm vectors are excluded up front: their cosine is
    NULL/undefined and can never pass the threshold (same verdict as
    brute force, where the NULL comparison is false).
    """
    import hashlib as _hashlib  # noqa: F401  (refs helper uses md5)

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    cos_floor = threshold - 1.5 * (10.0 ** -round_dp)
    band = math.degrees(math.acos(max(-1.0, min(1.0, cos_floor)))) + 0.05

    refs = _blocking_refs(dim, n_refs)
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_e"),
        l2_norm(F.col(vec_col)).alias("_n"),
    ).where(F.col("_n") > 0)
    for j, r in enumerate(refs):
        rnorm = math.sqrt(sum(x * x for x in r))
        # SQL-text literal array (one parse vs d Py4J calls; _dlit is
        # an exact binary64 round-trip, bit-identical to F.lit)
        rcol = F.expr("array(" + ",".join(_dlit(float(x)) for x in r) + ")")
        cosr = dot_product(F.col("_e"), rcol) / (F.col("_n") * F.lit(rnorm))
        v = v.withColumn(
            f"_t{j}",
            F.degrees(F.acos(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cosr)))),
        )
    v = v.withColumn("_bin", F.floor(F.col(f"_t0") / F.lit(band)).cast("long"))
    v = v.localCheckpoint(eager=False)

    probe = v.select(
        F.col("_id").alias("a_id"),
        F.col("_e").alias("_ea"),
        F.col("_n").alias("_na"),
        *[F.col(f"_t{j}").alias(f"_ta{j}") for j in range(n_refs)],
        F.explode(
            F.array(F.col("_bin") - 1, F.col("_bin"), F.col("_bin") + 1)
        ).alias("_pbin"),
    )
    build = v.select(
        F.col("_id").alias("b_id"),
        F.col("_e").alias("_eb"),
        F.col("_n").alias("_nb"),
        *[F.col(f"_t{j}").alias(f"_tb{j}") for j in range(n_refs)],
        F.col("_bin").alias("_pbin"),
    )
    cand = probe.join(build, "_pbin").where(F.col("a_id") < F.col("b_id"))
    for j in range(n_refs):
        cand = cand.where(
            F.abs(F.col(f"_ta{j}") - F.col(f"_tb{j}")) <= F.lit(band)
        )
    score = F.expr(
        f"round({dot_product_sql('_ea', '_eb')} / (_na * _nb), {round_dp})"
    )
    return cand.where(score >= F.lit(threshold)).select("a_id", "b_id")


def k_center_greedy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """k-center greedy coreset selection (Gonzalez 1985; the
    facility-location heuristic behind diverse eval-set and
    active-learning sampling, e.g. Sener & Savarese 2018): start from
    the smallest id, then k-1 times pick the point FARTHEST from the
    current selected set — a 2-approximation of the optimal k-center
    cover, and the standard "spread exemplars" primitive a
    quality-stratified sample can't give.

    Determinism: squared-euclidean distances fold left-to-right in
    double (the dot_product precedent), quantize to integer micros,
    and the per-round argmax breaks ties on the smallest id —
    replayable, so the oracle unrolls the same k rounds.

    Scale posture: each round is one broadcast of the (<= k)-row
    selected set against the corpus (BNLJ over a k-bounded side), one
    per-point min, one TakeOrdered(1) — O(k * corpus) work total,
    never corpus x corpus; lazy localCheckpoint pins each round so
    the plan stays O(k).

    Returns (rank, id, dist_micro) — dist_micro is the squared-
    euclidean micro-distance from the point to the previously-selected
    set at the moment it was chosen (NULL for the seed; the LAST row's
    value is the cover radius).
    """
    c = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).localCheckpoint(eager=False)
    sel = (
        c.orderBy("_id")
        .limit(1)
        .select(
            "_id",
            "_v",
            F.lit(0).alias("rank"),
            F.lit(None).cast("long").alias("dist_micro"),
        )
        .localCheckpoint(eager=False)
    )
    for r in range(1, k):
        s = F.broadcast(
            sel.select(F.col("_id").alias("_sid"), F.col("_v").alias("_sv"))
        )
        diff_sq = F.zip_with(
            F.col("_v"),
            F.col("_sv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        dist_micro = F.floor(
            F.aggregate(diff_sq, F.lit(0.0), lambda a, v: a + v)
            * F.lit(1000000.0)
        ).cast("long")
        mind = (
            c.crossJoin(s)
            .select("_id", dist_micro.alias("_dm"))
            .groupBy("_id")
            .agg(F.min("_dm").alias("_md"))
        )
        cand = (
            mind.join(sel.select("_id"), "_id", "left_anti")
            .join(c, "_id")
            .orderBy(F.desc("_md"), F.asc("_id"))
            .limit(1)
            .select(
                "_id",
                "_v",
                F.lit(r).alias("rank"),
                F.col("_md").alias("dist_micro"),
            )
        )
        sel = sel.unionByName(cand).localCheckpoint(eager=False)
    return sel.select(
        "rank", F.col("_id").alias(id_col), "dist_micro"
    ).orderBy("rank")


def late_interaction_maxsim(
    query_tokens: DataFrame,
    doc_tokens: DataFrame,
    k: int = 5,
    q_col: str = "q",
    qtok_col: str = "qt_id",
    doc_col: str = "doc",
    vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval scoring (Khattab &
    Zaharia 2020): a query and a document are BAGS of token
    embeddings, and ``MaxSim(q, d) = sum over query tokens of the max
    cosine against any document token`` — the fine-grained relevance
    signal single-vector retrieval flattens away.

    Determinism: cosines quantize to ``floor(cos * 1e4)`` integers
    (floor of the same double in both engines), the per-token max and
    per-pair sum are integer folds, and the top-k window breaks ties
    on the doc id. Zero-norm tokens are dropped up front (NULL-cosine
    hazard).

    Scale posture: the query-token table is the small side (queries x
    tokens-per-query) and BROADCASTS against the corpus token table —
    one BNLJ bounded by |query tokens| x |corpus tokens|, then two
    hash aggregations (max per (query, token, doc), sum per (query,
    doc)) and a per-query top-k window. For corpus-scale serving,
    compose with the ANN layer: prefilter candidate docs per query
    token (IVF/LSH bucket probe), then MaxSim only the shortlist —
    this operator is the exact scorer at the end of that funnel.

    Returns (query, doc, maxsim, rank) — top-k docs per query.
    """
    from mlentory_etl_pipeline_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )

    qt = query_tokens.select(
        F.col(q_col).alias("_q"),
        F.col(qtok_col).alias("_qt"),
        F.col(vec_col).alias("_qe"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    ).where(F.col("_qn") > 0)
    dt = doc_tokens.select(
        F.col(doc_col).alias("_doc"),
        F.col(vec_col).alias("_de"),
        l2_norm(F.col(vec_col)).alias("_dn"),
    ).where(F.col("_dn") > 0)
    qcos = F.floor(
        dot_product(F.col("_qe"), F.col("_de"))
        / (F.col("_qn") * F.col("_dn"))
        * F.lit(10000.0)
    ).cast("long")
    per_tok = (
        dt.crossJoin(F.broadcast(qt))
        .select("_q", "_qt", "_doc", qcos.alias("_qc"))
        .groupBy("_q", "_qt", "_doc")
        .agg(F.max("_qc").alias("_m"))
    )
    per_pair = per_tok.groupBy("_q", "_doc").agg(
        F.sum("_m").alias("_s")
    )
    w = Window.partitionBy("_q").orderBy(F.desc("_s"), F.asc("_doc"))
    return (
        per_pair.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_q").alias(q_col),
            F.col("_doc").alias(doc_col),
            F.round(
                F.col("_s").cast("double") / F.lit(10000.0), 4
            ).alias("maxsim"),
            "rank",
        )
        .orderBy(q_col, "rank")
    )
