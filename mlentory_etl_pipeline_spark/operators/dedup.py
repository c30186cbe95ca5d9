"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference layer (per the build brief): exact hash-dedup,
MinHash + LSH near-dup, SimHash, and n-gram Jaccard — all expressed as
deterministic DataFrame plans so a SQL oracle can verify them.

Scale notes:
- exact dedup = one hash-partitioned aggregation on the content hash;
- MinHash: one explode + one groupBy(doc) with K map-side-combinable
  ``min`` aggs; LSH banding turns the quadratic pair search into an
  equi-join on (band, band_hash) — the only shuffle that grows with
  candidate count, and AQE skew-split handles hot buckets;
- verification joins operate only on candidate pairs, never all pairs.

Hash functions are md5-hex based (not Spark's ``hash()``/xxhash) so the
identical computation is expressible in any engine — determinism is
what makes near-dup results auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators.capping import spread


def exact_dedup(df: DataFrame, content_cols: list[str], keep_min_col: str) -> DataFrame:
    """Exact dedup: group by md5 of the concatenated content columns,
    keep the row with the minimum ``keep_min_col`` (deterministic
    survivor). Single aggregation — no window sort."""
    content_hash = F.md5(F.concat_ws("", *[F.col(c) for c in content_cols]))
    payload_cols = [c for c in df.columns]
    h = df.withColumn("_h", content_hash)
    agged = h.groupBy("_h").agg(
        F.min_by(F.struct(*payload_cols), F.col(keep_min_col)).alias("_row")
    )
    return agged.select(*[F.col(f"_row.{c}").alias(c) for c in payload_cols])


def _shingles_of_words(words: Column, n: int) -> Column:
    """Shingle array from an ALREADY-PROJECTED words-array column.

    The words array must be a materialized column, not an inline
    ``split(...)`` expression: expressions referenced inside a
    higher-order-function lambda are not CSE'd, so an inline split
    would re-tokenize the text once per shingle (~8× slower measured).
    """
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + F.lit(1), F.lit(n)), " "),
    )


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) rows — the set representation used by Jaccard
    verification, MinHash and SimHash. ``distinct=False`` skips the
    dedup shuffle for consumers whose aggregation is already
    set-semantic (``min``/``collect_set``)."""
    # SQL text (one parse per projection; same split/transform/slice
    # nodes as the Column composition — the r10 construction-cost
    # pattern, bit-identity implied by the hard-oracled consumers)
    words = spread(df).selectExpr(
        f"`{id_col}`", f"split(lower(trim(`{text_col}`)), '\\\\s+') AS _w"
    )
    sh = words.selectExpr(
        f"`{id_col}`",
        f"explode(transform(sequence(0, greatest(size(_w) - {n}, 0)), "
        f"i -> array_join(slice(_w, i + 1, {n}), ' '))) AS shingle",
    )
    return sh.distinct() if distinct else sh


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """Span-level exact-duplicate detection (the substring-dedup
    complement of doc-level MinHash): word n-grams occurring in
    ``min_docs``+ distinct documents, with occurrence stats.

    Training corpora are poisoned by boilerplate spans (license
    headers, navigation chrome, templated sentences) that doc-level
    near-dup never catches because the *documents* differ. Long-n-gram
    collision is the standard detector (cf. exact-substring dedup in
    dedup literature); n≈8–13 words trades recall vs boilerplate
    precision.

    Plan: map-local shingle fan-out (tokens projected BEFORE the HOF
    lambda — CSE trap), md5 the span so 16-byte keys shuffle instead of
    strings, one count-distinct-docs aggregate with map-side combine,
    `HAVING >= min_docs`. With ``top_k`` the result is a bounded
    TakeOrdered. Returns (span_hash, span, n_docs, n_occurrences).
    """
    words = spread(df).select(
        F.col(id_col).alias("_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    spans = words.select(
        "_id", F.explode(_shingles_of_words(F.col("_w"), n)).alias("span")
    )
    agged = (
        spans.groupBy(F.md5("span").alias("span_hash"))
        .agg(
            F.first("span").alias("span"),
            F.countDistinct("_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    if top_k is not None:
        agged = agged.orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span_hash")
        ).limit(top_k)
    return agged


#: MinHash permutation family: ONE md5 per shingle → a 60-bit integer →
#: ``mh_i = (A_i · h + B_i) mod P``. 12× cheaper than hashing each
#: shingle 12 times, and the integer arithmetic is byte-replicable in
#: any engine (the DuckDB oracle uses the same constants).
MINHASH_P = 2_147_483_647  # 2^31 − 1 (prime)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) affine-permutation constants."""
    return [
        ((1103515245 * (i + 1)) % MINHASH_P, (12345 * (i + 1)) % MINHASH_P)
        for i in range(num_hashes)
    ]


def shingle_base_hash(shingle: Column) -> Column:
    """60-bit integer hash of a shingle: first 15 hex chars of its md5
    (fits a signed 64-bit long), reduced mod P."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % MINHASH_P


def _minhash_aggs(num_hashes: int, base: Column) -> list[Column]:
    return [
        F.min((F.lit(a) * base + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]


def _minhash_agg_exprs(num_hashes: int, base: str = "_h") -> list[Column]:
    """The same K min-of-affine-permutation aggregates as
    :func:`_minhash_aggs`, built as SQL text — one ``F.expr`` parse per
    agg instead of ~8 per-Column Py4J round-trips each (the sign-RP
    precedent). Integer arithmetic is identical: the coefficient
    literals fit int32 either way and promote to long against the
    64-bit base hash."""
    return [
        F.expr(f"min(({a} * {base} + {b}) % {MINHASH_P}) AS mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]


def minhash_signatures(shingled: DataFrame, id_col: str, num_hashes: int = 12) -> DataFrame:
    """K-permutation MinHash signature per doc — min of each affine
    permutation over the doc's shingles. One shuffle, map-side combine.

    The md5 base hash is projected BEFORE the aggregation: aggregate
    expressions are not common-subexpression-eliminated across each
    other, so referencing ``shingle_base_hash`` inside each of the K
    ``min`` aggs would recompute the md5 K times per shingle."""
    h = shingled.withColumn("_h", shingle_base_hash(F.col("shingle")))
    return h.groupBy(id_col).agg(*_minhash_agg_exprs(num_hashes))


def _banded_long(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, band_idx, band_hash) long form: band the signature
    (rows_per_band = num_hashes // bands) and md5 each band so the LSH
    join key is one column pair."""
    rows_per_band = num_hashes // bands
    band_sqls = [
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + f")) AS band{b}"
        for b in range(bands)
    ]
    banded = signatures.selectExpr(id_col, *carry, *band_sqls)
    stack_expr = ", ".join(f"'{b}', band{b}" for b in range(bands))
    return banded.selectExpr(
        id_col, *carry, f"stack({bands}, {stack_expr}) as (band_idx, band_hash)"
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Bucket-self-join of the banded signatures → distinct candidate
    pairs with ``id_a < id_b``."""
    long = _banded_long(signatures, id_col, num_hashes, bands)
    a = long.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = long.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    shingled: DataFrame, id_col: str, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact n-gram Jaccard per pair. With ``candidates`` given, only
    those pairs are scored (the LSH path) — the shingle inverted index
    is first pruned to candidate docs, so verification cost scales with
    the candidate set, not with every co-shingled pair in the corpus.
    Without candidates, all co-shingled pairs are scored (still never a
    full cross join). Returns (id_a, id_b, jaccard)."""
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is not None:
        # Prune both sides to docs that appear in any candidate pair.
        a = a.join(candidates.select("id_a").distinct(), "id_a", "left_semi")
        b = b.join(candidates.select("id_b").distinct(), "id_b", "left_semi")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    join → exact-Jaccard verification of the candidates ≥ threshold.

    The per-doc signature AND shingle set come out of ONE groupBy (the
    shingle explode is shuffled once, not once per consumer), and the
    shingle sets ride the band table into the band self-join, so each
    candidate is verified where it is found; both sides of the
    self-join are the same exchange, which Spark runs once and reuses.
    A pair that shares several bands is scored once per band and the
    scored pairs are deduplicated, so nothing is cached (a cached
    per-doc table was never released: one entry leaked per call)."""
    # Only the 60-bit shingle hashes leave the map side — signature mins
    # AND the Jaccard sets work on them, so the shuffle carries 8-byte
    # longs instead of multi-word shingle strings. Jaccard over hashed
    # shingles equals Jaccard over shingles up to md5 collisions
    # (~2^-60 per pair — and the SQL oracle applies the identical hash,
    # so results stay bit-identical regardless).
    sh = doc_shingles(df, id_col, text_col, n, distinct=False).select(
        F.col(id_col), shingle_base_hash(F.col("shingle")).alias("_h")
    )
    per_doc = sh.groupBy(id_col).agg(
        F.collect_set("_h").alias("sh"),
        *_minhash_agg_exprs(num_hashes),
    )
    long = _banded_long(per_doc, id_col, num_hashes, bands, carry=("sh",))
    a, b = (
        long.select(F.col(id_col).alias(f"id_{s}"), F.col("sh").alias(f"sh_{s}"),
                    "band_idx", "band_hash")
        for s in "ab"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .distinct()
    )


def minhash_incremental_pairs(
    stored: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup check: the arriving batch against the
    stored corpus only (never store×store). Same signature family and
    verification as :func:`minhash_lsh_dedup_pairs`, but the band join
    is stored⋈broadcast(new) and verification touches only cross
    pairs — per-batch cost scales with |new| and |candidates|, not with
    the corpus. Returns (id_a=stored, id_b=new, jaccard ≥ threshold)."""

    def per_doc(df):
        sh = doc_shingles(df, id_col, text_col, n, distinct=False).select(
            F.col(id_col), shingle_base_hash(F.col("shingle")).alias("_h")
        )
        return sh.groupBy(id_col).agg(
            F.collect_set("_h").alias("sh"),
            *_minhash_agg_exprs(num_hashes),
        )

    # The production-incremental shape: the store's banded table
    # persists (pay its shuffle once at write, bucket by (band_idx,
    # band_hash) on a lake); each arriving batch bands map-locally and
    # BROADCASTS into the join, so the 10⁹-doc store never re-shuffles
    # per batch. The batch's shingle sets ride its band table to the
    # candidate pairs, so the batch is read and aggregated once and
    # needs no cache (a cached batch was never released: one entry
    # leaked per call).
    stored_doc = per_doc(stored)
    stored_long = _banded_long(stored_doc, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    new_long = _banded_long(per_doc(new), id_col, num_hashes, bands, carry=("sh",)).select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "band_idx", "band_hash"
    )
    cand = (
        stored_long.join(F.broadcast(new_long), ["band_idx", "band_hash"])
        .select("id_a", "id_b", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = stored_doc.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- SimHash

def _nibble_expr(hex_col: str, pos: int) -> str:
    """SQL for the integer value of hex digit ``pos`` (1-based) of a
    md5 hex string — portable across engines via strpos on a constant
    alphabet (no conv())."""
    return f"(instr('0123456789abcdef', substring({hex_col}, {pos}, 1)) - 1)"


def simhash16(shingled: DataFrame, id_col: str) -> DataFrame:
    """16-bit SimHash over the shingle set: per bit position, sum ±1
    votes from each shingle's md5; the signature bit is 1 where the sum
    is positive. Pure SQL expressions (nibble extraction via strpos) so
    the oracle can replicate bit-for-bit. Returns (id, simhash)."""
    h = shingled.select(F.col(id_col), F.md5("shingle").alias("_hx"))
    vote_cols = []
    for bit in range(16):
        nib = _nibble_expr("_hx", bit // 4 + 1)
        mask = 1 << (bit % 4)
        vote_cols.append(
            F.expr(f"CASE WHEN ({nib} & {mask}) > 0 THEN 1 ELSE -1 END").alias(f"v{bit}")
        )
    votes = h.select(F.col(id_col), *vote_cols)
    sums = votes.groupBy(id_col).agg(*[F.sum(f"v{b}").alias(f"s{b}") for b in range(16)])
    sig = None
    for bit in range(16):
        term = F.when(F.col(f"s{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def simhash_near_pairs(sim: DataFrame, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k (k ≤ 3 for a
    16-bit signature). Blocks on the four 4-bit quarters — pigeonhole:
    distance ≤ 3 over 4 blocks ⟹ at least one block equal — so the
    search is 4 equi-joins on small keys instead of a cross join; the
    blocked candidate set is then verified with bit_count(xor)."""
    if max_hamming > 3:
        raise ValueError("quarter-blocking on a 16-bit signature is complete only for hamming <= 3")
    s = sim.select(F.col(id_col).alias("id"), F.col("simhash"))
    for q in range(4):
        s = s.withColumn(f"q{q}", F.expr(f"(simhash >> {4 * q}) & 15"))
    pairs = None
    for q in range(4):
        a = s.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), F.col(f"q{q}"))
        b = s.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), F.col(f"q{q}"))
        p = a.join(b, f"q{q}").where(F.col("id_a") < F.col("id_b")).drop(f"q{q}")
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dup_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline): every unordered
    pair (a_id < b_id) whose cosine similarity ≥ ``threshold``.

    Norms are precomputed per side so the pair loop evaluates one dot
    product. The ``a < b`` theta join is a nested-loop product — correct
    but quadratic; it is the small-corpus / verification baseline, and
    :func:`embedding_near_dup_lsh` is the scale path.
    """
    from mlentory_etl_pipeline_spark.functions.vectors import dot_product, l2_norm

    a = vecs.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("_va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    b = vecs.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("_vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    scored = (
        F.broadcast(a)
        .join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(
                dot_product(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                round_digits,
            ).alias("score"),
        )
    )
    return scored.where(F.col("score") >= threshold)


def embedding_near_dup_lsh(
    vecs: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    num_planes: int = 4,
    num_bands: int = 1,
    round_digits: int = 4,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-random-projection buckets
    turn the all-pairs product into an equi-join on ``bucket`` —
    candidates shrink ~2^planes-fold and the join shuffles by bucket
    (AQE splits skewed buckets).

    ``num_bands`` > 1 is the OR-amplification (same AND-OR construction
    as MinHash banding): each band is an independent plane set (distinct
    seed), a pair is a candidate if it collides in ANY band, and
    candidates are deduped before scoring so each pair is scored once.
    Recall ≈ 1-(1-p^planes)^bands rises steeply with bands while cost
    stays bands × per-band-join; asserted against the exact baseline in
    tests. Approximate: pairs colliding in no band are missed."""
    from mlentory_etl_pipeline_spark.operators.similarity import rp_bucket_bands
    from mlentory_etl_pipeline_spark.functions.vectors import dot_product, l2_norm

    with_norm = vecs.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_n")
    )
    # all bands in one pass (bit-identical buckets to the per-band
    # loop): one scan + one (band, bucket) join instead of num_bands
    # scans and joins unioned — see rp_bucket_bands
    bucketed = rp_bucket_bands(with_norm, vec_col, dim, num_planes, num_bands).select(
        F.col(id_col), F.col("band"), F.col("bucket")
    )
    a = bucketed.select("band", "bucket", F.col(id_col).alias("a_id"))
    b = bucketed.select("band", "bucket", F.col(id_col).alias("b_id"))
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    if num_bands > 1:
        cand = cand.distinct()

    va = with_norm.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va"), F.col("_n").alias("_na")
    )
    vb = with_norm.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb")
    )
    scored = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                dot_product(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                round_digits,
            ).alias("score"),
        )
    )
    return scored.where(F.col("score") >= threshold)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: for each node u, attach every strictly
    larger neighbor to ``min(N(u) ∪ {u})``. Input/output: directed edge
    list ``(u, v)`` interpreted symmetrically."""
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    mins = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges (max→min); for each node u,
    attach its ≤-neighbors and itself to the minimum of the set."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("n"), F.col("m"))
        .unionByName(mins.select(F.col("u").alias("n"), F.col("m")))
    )
    return (
        out.where(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the pair graph by
    alternating **large-star / small-star** rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    node's label converges to the minimum id reachable from it, and the
    canonical survivor of a cluster is simply ``component == id``.

    Why not min-label propagation: that needs O(graph diameter) rounds —
    a 1000-node chain takes 999 shuffles. Star contraction halves path
    lengths every alternation, converging in O(log n) rounds on ANY
    topology, and the per-round ``groupBy(min)`` is skew-tolerant: a
    hub node's neighbor list is reduced by a partial-aggregable min,
    never materialized as a row list.

    Each round is two hash shuffles (symmetrize+min, re-key); lineage is
    truncated per round (``localCheckpoint``), and the loop exits early
    when the edge set reaches the star fixpoint. ``max_iter`` = 30
    covers any graph to ~2³⁰ nodes with margin.

    Returns (node, component) for every node appearing in ``edges``.
    """
    e = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = e.localCheckpoint(eager=True)
    for _ in range(max_iter):
        # Lazy checkpoint: the symmetric-difference count below is the
        # action that materializes it — one Spark job per round instead
        # of three (eager-checkpoint job + two anti-join probes). Both
        # sides are distinct sets, so |Δ| = rows appearing exactly once
        # in the union — a single hash aggregation.
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        changed = (
            new_e.unionByName(e)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") == 1)
            .limit(1)
            .count()
        )
        e = new_e
        if changed == 0:
            break
    # fixpoint edges are (child, root) star edges; roots label themselves.
    # groupBy(min) is a safety net if max_iter cut convergence short.
    stars = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    return (
        all_nodes.join(stars, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


# ------------------------------------------- duplicate-span REMOVAL

def remove_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Exact substring-level dedup: REMOVE every repeated occurrence of
    any word ``n``-gram from the corpus, keeping only its globally
    first occurrence — the token-level analogue of suffix-array
    substring dedup for training corpora (the reference's section
    dedup, ``code/extractors/mlentory_extract/core/text_processing.py``,
    drops whole repeated sections; this is the finer-grained variant
    the dedup literature applies corpus-wide). Doc-level near-dup never
    catches boilerplate spans embedded in otherwise-distinct documents;
    span removal does, and unlike :func:`duplicated_spans` (the
    detector) this rewrites the text.

    Semantics (deterministic):

    - tokens are ``split(text, ' ')`` verbatim (no lowering — the
      output must reconstruct the surviving text exactly);
    - every n-token window is a span; spans equal as token sequences
      are duplicates; the canonical occurrence is the global
      ``min (id, start)``;
    - every token covered by a NON-canonical occurrence of a
      duplicated span is removed; survivors re-join in order.
      Overlapping duplicate spans union their coverage (greedy, the
      standard policy). Docs shorter than n tokens pass through.

    Plan shape (all linear in token count):

    - span fan-out is map-local (tokens projected before the HOF
      lambda); the only global shuffle groups occurrences by the
      16-byte md5 of the span — map-side combine keeps it partial-agg
      friendly;
    - duplicate occurrences explode to at most n×(dup occurrences)
      (id, pos) coverage rows — proportional to removed text, not
      corpus size;
    - the rebuild is one per-doc aggregation (sort happens inside
      ``array_sort`` on per-doc arrays, never a global sort).

    Returns ``(id, text, n_tokens, n_removed)``.
    """
    toks = spread(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    )
    occ = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_w") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - n),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.md5(F.array_join(F.slice(F.col("_w"), i + 1, n), " ")).alias(
                            "gram"
                        ),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("_o"),
    ).select(F.col(id_col), F.col("_o.start").alias("start"), F.col("_o.gram").alias("gram"))
    # canonical = global min (id, start) per gram: a partial-agg-friendly
    # groupBy(min) beats a per-gram window here — a boilerplate span
    # repeated millions of times combines map-side instead of sorting
    # in one task, and AQE skew-split covers the join back
    canon = occ.groupBy("gram").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("start").alias("s"))).alias("_c"),
        F.count(F.lit(1)).alias("_n"),
    )
    dups = (
        occ.join(canon.where(F.col("_n") >= 2), "gram")
        .where(~((F.col(id_col) == F.col("_c.i")) & (F.col("start") == F.col("_c.s"))))
        .select(id_col, "start")
    )
    covered = dups.select(
        F.col(id_col), F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("pos")
    ).distinct()
    tok_rows = toks.select(
        F.col(id_col), F.size("_w").alias("n_tokens"), F.posexplode("_w").alias("pos", "tok")
    )
    kept = tok_rows.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("text"),
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = df.select(F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("_nt"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.col("_nt").alias("n_tokens"),
            (F.col("_nt") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias("n_removed"),
        )
    )


def minhash_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Measure-don't-guess for the LSH configuration: brute-force
    ground truth (exact Jaccard over ALL co-shingled pairs) vs what
    the banded MinHash actually surfaces — one row with ``true_pairs``,
    ``candidate_pairs``, ``found_pairs``, ``recall`` (found/true: the
    dup mass the banding misses), and ``candidate_precision``
    (found/candidates: the verification work wasted on non-dups).
    This is the number that justifies (num_hashes, bands) before a
    10⁹-doc run — the S-curve says 12/4 at t=0.5 should sit near
    recall 0.9, and THIS query checks it on real data.

    At lake scale the audit runs on a SAMPLE (the brute-force truth is
    the quadratic part — candidates-only verification is what the
    production path does precisely to avoid it); the plan is the same
    shingle inverted-index join both paths already use, never a
    cartesian.
    """
    shingled = doc_shingles(df, id_col, text_col, n)
    truth = (
        jaccard_pairs(shingled, id_col)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )
    sigs = minhash_signatures(shingled, id_col, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    found = truth.join(cands, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("true_pairs"))
    c = cands.agg(F.count(F.lit(1)).alias("candidate_pairs"))
    f = found.agg(F.count(F.lit(1)).alias("found_pairs"))
    out = t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(f))
    tp = F.col("true_pairs").cast("double")
    cp = F.col("candidate_pairs").cast("double")
    fp = F.col("found_pairs").cast("double")
    return out.select(
        "true_pairs",
        "candidate_pairs",
        "found_pairs",
        F.round(F.when(tp > 0, fp / tp), 6).alias("recall"),
        F.round(F.when(cp > 0, fp / cp), 6).alias("candidate_precision"),
    )


def containment_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle-set containment ``C(A→B) =
    |A ∩ B| / |A| ≥ t`` — finds documents SUBSUMED by others (quotes,
    excerpts, boilerplate-wrapped copies) that symmetric Jaccard
    misses: a 50-shingle excerpt inside a 5000-shingle page has
    J ≈ 0.01 but C = 1.0. The curation action is directional (drop the
    contained copy, keep the superset), which is why the pair is
    ordered.

    Lossless prefix filter, containment-adapted (Gravano/PPJoin family
    — the setsim_prefix_join scheme, linkage.py:189): if
    ``|A ∩ B| ≥ ceil(t·|A|)`` then A must share a token among its
    first ``|A| − ceil(t·|A|) + 1`` rarest-first tokens; B is probed
    on its FULL token list (no B-side prefix exists for asymmetric
    containment), plus the size filter ``|B| ≥ ceil(t·|A|)``. Global
    rarest-first ordering keeps hot shingles out of A-prefixes, which
    bounds the candidate fan-out at corpus scale.

    Returns ``(a_id, b_id, containment)`` for verified DIRECTED pairs
    ``A ⊂~ B``, a_id ≠ b_id, containment rounded 6 dp — exactly the
    all-pairs answer (filter is lossless), which the oracle computes.
    """
    sets = (
        doc_shingles(docs, id_col, text_col, n=n)
        .groupBy(F.col(id_col).alias("_id"))
        .agg(F.collect_set("shingle").alias("_set"))
        .where(F.size("_set") > 0)
    )
    freq = (
        sets.select(F.explode("_set").alias("_tk"))
        .groupBy("_tk")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    exploded = sets.select(
        "_id", F.size("_set").alias("_sz"), F.explode("_set").alias("_tk")
    ).join(freq, "_tk")
    # epsilon-guarded ceil (the setsim_prefix_join note)
    def _ceil_t(sz):
        return F.ceil(F.lit(threshold) * sz - F.lit(1e-9))

    ordered = exploded.withColumn(
        "_pos",
        F.row_number().over(Window.partitionBy("_id").orderBy("_f", "_tk")),
    )
    prefix_len = (F.col("_sz") - _ceil_t(F.col("_sz")) + F.lit(1)).cast("int")
    a_prefix = ordered.where(F.col("_pos") <= prefix_len).select(
        F.col("_id").alias("a_id"), "_tk", F.col("_sz").alias("_asz")
    )
    b_all = exploded.select(
        F.col("_id").alias("b_id"), "_tk", F.col("_sz").alias("_bsz")
    )
    cands = (
        a_prefix.join(b_all, "_tk")
        .where(F.col("a_id") != F.col("b_id"))
        .where(F.col("_bsz") >= _ceil_t(F.col("_asz")))
        .select("a_id", "b_id")
        .distinct()
    )
    av = sets.select(F.col("_id").alias("a_id"), F.col("_set").alias("_aset"))
    bv = sets.select(F.col("_id").alias("b_id"), F.col("_set").alias("_bset"))
    inter = F.size(F.array_intersect("_aset", "_bset"))
    return (
        cands.join(av, "a_id")
        .join(bv, "b_id")
        .withColumn(
            "_c", inter.cast("double") / F.size("_aset").cast("double")
        )
        .where(F.col("_c") >= threshold)
        .select("a_id", "b_id", F.round("_c", 6).alias("containment"))
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-char gram of the
    whitespace-normalized text, slide a window of ``w`` hashes, keep
    the window MINIMUM (rightmost on ties), dedupe (pos, hash). Unlike
    the global min rolling_fp (text_fingerprints), winnowing GUARANTEES
    any shared substring of length ≥ w+k-1 yields a shared fingerprint
    — the local-similarity detector behind plagiarism/quote matching,
    with density 2/(w+1) of all grams.

    Pure Column-expression pipeline (transform/slice/array_min —
    no UDF, map-only until the final distinct); hashes are the 60-bit
    md5-prefix idiom so the whole selection is engine-replicable.
    Texts shorter than k chars hash as one whole-string gram; texts
    with fewer than w grams emit one fingerprint (the global min) —
    both documented standard fallbacks.

    Returns distinct ``(id, pos, fp)`` — pos is the 1-based gram
    offset, the locality needed for span-level match-back.
    """
    t_ = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(F.col(id_col), t_.alias("_t")).where(
        F.length("_t") > 0
    )
    n_h = F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_h),
        lambda i: F.conv(
            F.substring(F.md5(F.col("_t").substr(i, F.lit(k))), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    hl = base.select(id_col, hashes.alias("_hl"))
    wl = F.least(F.lit(w), F.size("_hl"))
    n_w = F.size("_hl") - wl + F.lit(1)
    wins = F.transform(
        F.sequence(F.lit(1), n_w),
        lambda j: F.struct(
            (
                j
                + wl
                - F.array_position(
                    F.reverse(F.slice("_hl", j, wl)),
                    F.array_min(F.slice("_hl", j, wl)),
                )
            ).cast("int").alias("pos"),
            F.array_min(F.slice("_hl", j, wl)).alias("fp"),
        ),
    )
    return (
        hl.select(id_col, F.explode(wins).alias("_w"))
        .select(id_col, F.col("_w.pos").alias("pos"), F.col("_w.fp").alias("fp"))
        .distinct()
    )
