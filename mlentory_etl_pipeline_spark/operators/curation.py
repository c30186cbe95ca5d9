"""Corpus-curation operators for large-scale training-data pipelines
(beyond-reference layer): benchmark decontamination, PII redaction,
repetition statistics, deterministic hash splits and per-group quota
sampling.

These are the standard pretraining-corpus hygiene passes (the public
C4 / Gopher / Llama data-prep recipes describe them all); none exist in
the reference, which curates ~10^2 model cards, but at 100 TB they are
the bulk of the pipeline. Everything here is pure Column expressions —
whole-stage codegen, zero Python in the hot path — and every operator
is hash-replicable in ANSI SQL so the DuckDB oracle gate covers it.

Scale posture (see SCALE.md):

- decontaminate: the eval set is tiny by construction (benchmarks are
  10^3-10^5 docs vs 10^9+ corpus docs) so its shingle table broadcasts;
  the corpus side streams map-only through shingle-explode + broadcast
  hash join + one aggregation shuffle on (corpus_id, eval_id) pairs —
  the only shuffle, sized by |contaminated pairs| not |corpus|.
- pii_redact / repetition / hash_split: map-only, no shuffle at all
  (repetition's top-bigram needs one doc-local aggregation shuffle,
  hash-partitioned on doc_id).
- hash_split keys on md5(id) so the assignment is stable under
  re-partitioning, re-runs and engine changes — the property that makes
  train/test membership reproducible across the fleet.
- quota_sample is a bounded top-k per group: one shuffle on the group
  key; AQE splits a skewed group (one giant source domain) at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators.capping import lazy_cap, spread
from mlentory_etl_pipeline_spark.operators.dedup import _shingles_of_words

# --------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------

#: RE2-and-Java-compatible patterns (no lookaround, no backreferences) —
#: portable between Spark (Java regex) and the DuckDB oracle (RE2).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}

#: Redaction order matters: emails contain dots/digits, so scrub them
#: before IPs; phones before IPs so "555-867-5309" is not half-eaten.
PII_ORDER = ("email", "phone", "ipv4")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (size of regexp_extract_all, group 0)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def pii_redact(text: Column) -> Column:
    """Replace every PII match with ``[KIND]``. Single pass per kind,
    JVM-side ``regexp_replace`` — no UDF."""
    out = text
    for kind in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


# --------------------------------------------------------------------
# Repetition statistics (Gopher-style quality signals)
# --------------------------------------------------------------------


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition signals over word n-grams:

    - ``dup_trigram_frac``: 1 − |distinct trigrams| / |trigrams| —
      computed doc-locally with array HOFs, no shuffle.
    - ``top_bigram_frac``: occurrences of the most frequent bigram /
      total bigrams — needs a per-(doc, bigram) count, one aggregation
      shuffle hash-partitioned on (doc_id, bigram) then (doc_id);
      map-side combine keeps the explode fan-out local.

    The word arrays are projected once before the HOF lambdas (see
    ``dedup._shingles_of_words`` — inline expressions in lambdas are
    not CSE'd)."""
    words = spread(df).select(
        F.col(id_col), F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w")
    )
    grams = words.select(
        F.col(id_col),
        _shingles_of_words(F.col("_w"), 2).alias("_bg"),
        _shingles_of_words(F.col("_w"), 3).alias("_tg"),
    )
    exploded = grams.select(
        F.col(id_col),
        F.explode("_bg").alias("bigram"),
        F.size("_tg").alias("_n_tg"),
        F.size(F.array_distinct("_tg")).alias("_d_tg"),
    )
    per_bigram = exploded.groupBy(id_col, "bigram").agg(
        F.count("*").alias("_c"), F.min("_n_tg").alias("_n_tg"), F.min("_d_tg").alias("_d_tg")
    )
    return per_bigram.groupBy(id_col).agg(
        F.round(F.max("_c") / F.sum("_c").cast("double"), 6).alias("top_bigram_frac"),
        F.round(
            F.lit(1.0) - F.min("_d_tg") / F.min("_n_tg").cast("double"), 6
        ).alias("dup_trigram_frac"),
    )


# --------------------------------------------------------------------
# Deterministic splits & sampling
# --------------------------------------------------------------------


def split_bucket(id_col: Column) -> Column:
    """First md5 hex byte of the stringified id — a uniform, engine-
    portable 256-bucket hash. The basis for reproducible train/val/test
    membership: stable under repartitioning, re-runs, and engines."""
    return F.substring(F.md5(id_col.cast("string")), 1, 2)


def hash_split(
    df: DataFrame, id_col: str, bounds: tuple[tuple[str, str], ...] = (
        ("train", "cd"),  # buckets 00..cc ≈ 80.1%
        ("val", "e6"),    # cd..e5  ≈  9.8%
        ("test", "\x7f"), # e6..ff  ≈ 10.2% ("\x7f" > any hex char)
    ),
) -> DataFrame:
    """Assign each row a deterministic split by md5-bucket thresholds.
    Map-only — no shuffle, no RNG, no driver state."""
    b = split_bucket(F.col(id_col))
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(b < F.lit(upper), F.lit(name)).otherwise(expr)
    return df.withColumn("bucket", b).withColumn("split", expr)


def quota_sample(
    df: DataFrame, group_cols: list[str], id_col: str, k: int
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen deterministically by
    md5(id) order (a reproducible uniform sample — no RNG). One shuffle
    on the group key; rank is bounded so the sort never materializes
    more than k rows per group after AQE skew-split."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(
        split_bucket(F.col(id_col)), F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def negative_samples(
    pairs: DataFrame,
    docs: DataFrame,
    query_col: str,
    positive_col: str,
    doc_id_col: str,
    k: int = 4,
    pool_size: int = 64,
) -> DataFrame:
    """Deterministic pool-based negative sampling for retrieval/
    contrastive training: for every (query, positive-doc) pair, emit
    ``k`` negative doc ids drawn pseudo-randomly but reproducibly.

    No RNG anywhere: the candidate pool is the ``pool_size`` docs with
    the smallest ``md5(doc_id)`` (a fixed uniform subsample of the
    corpus), and per query the negatives are the ``k`` pool docs with
    the smallest ``md5(query || doc_id)`` — a per-query-keyed uniform
    draw — excluding the query's own positive. Identical output on any
    engine, any partitioning, any run.

    Scale shape: the pool is a corpus-wide bounded top-k (TakeOrdered,
    never a full sort) and is BROADCAST into the pairs table — the
    per-pair work is a map over ``pool_size`` candidates + one bounded
    rank, so cost is O(|pairs| · pool), never |pairs| × |corpus|.
    At 100 TB the pool is recomputed per corpus snapshot and reused by
    every training-set build.
    """
    from pyspark.sql import Window

    pool = (
        docs.select(F.col(doc_id_col).alias("_neg_id"))
        .orderBy(F.md5(F.col("_neg_id").cast("string")), F.col("_neg_id"))
        .limit(pool_size)
    )
    w = Window.partitionBy(query_col, positive_col).orderBy(
        F.md5(F.concat(F.col(query_col).cast("string"), F.lit("|"), F.col("_neg_id").cast("string"))),
        F.col("_neg_id"),
    )
    return (
        pairs.join(F.broadcast(pool))
        .where(F.col("_neg_id") != F.col(positive_col))
        .withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select(
            F.col(query_col),
            F.col(positive_col),
            F.col("_neg_id").alias("negative_id"),
            "neg_rank",
        )
    )


# --------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Flag corpus documents sharing ≥1 word ``n``-gram with any eval
    document (the public GPT-3/Llama decontamination recipe; 8-13-gram
    overlap is the standard test-set-leak detector).

    Returns (corpus_id, eval_id, n_shared) per contaminated pair.

    Plan: both sides shingle map-locally; the eval side (tiny by
    construction) is broadcast, so the corpus never shuffles for the
    join — the only shuffle is the final pair-count aggregation, sized
    by the number of *contaminated* pairs, not the corpus. Shingles are
    md5-hashed before the join so only 32-byte keys move."""
    c = (
        _shingled(corpus, id_col, text_col, n)
        .withColumnRenamed(id_col, "corpus_id")
    )
    e = (
        _shingled(eval_df, id_col, text_col, n)
        .withColumnRenamed(id_col, "eval_id")
    )
    joined = c.join(F.broadcast(e), "gram_hash").where(
        F.col("corpus_id") != F.col("eval_id")
    )
    return joined.groupBy("corpus_id", "eval_id").agg(
        F.count("*").alias("n_shared")
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    words = spread(df).select(
        F.col(id_col), F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w")
    )
    return words.select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles_of_words(F.col("_w"), n))).alias("_g"),
    ).select(F.col(id_col), F.md5("_g").alias("gram_hash"))


# --------------------------------------------------------------------
# Chunking & sequence packing (training-sample construction)
# --------------------------------------------------------------------


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, size: int = 30, stride: int = 25
) -> DataFrame:
    """Split each document into token windows of ``size`` tokens every
    ``stride`` tokens (overlap = size − stride) — the standard
    training-sample windowing pass. Every token is covered: starts run
    at 1, 1+stride, … while ``start ≤ n − overlap``, so the final
    window may be short but the tail is never dropped; a doc shorter
    than ``size`` yields one partial chunk. Map-only: tokenize once,
    ``sequence``+``explode`` fan out the windows, no shuffle anywhere."""
    words = spread(df).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_w")
    )
    overlap = size - stride
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_w") - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = words.select(
        F.col(id_col), F.col("_w"), F.posexplode(starts).alias("chunk_id", "_s")
    )
    piece = F.slice(F.col("_w"), F.col("_s"), F.lit(size))
    return chunks.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("chunk_tokens"),
    )


def pack_sequences(
    df: DataFrame, id_col: str, token_col: str, context: int, part_col: str | None = None
) -> DataFrame:
    """Assign documents to fixed-budget training bins: docs are laid out
    in deterministic md5(id) order and doc → bin ``floor(tokens_before /
    context)`` — reproducible approximate first-fit packing with no RNG
    and no driver loop.

    ``part_col`` bounds the window: packing runs independently per
    partition value (split/shard), so the sort parallelizes instead of
    funneling 10⁹ docs through one window partition. Pass None only for
    small inputs."""
    from pyspark.sql import Window

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = (Window.partitionBy(part_col) if part_col else Window.partitionBy()).orderBy(
        *order
    ).rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.withColumn("bin", F.floor(before / context))


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int = 8,
    seed: str = "42",
) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment — the
    training-order randomization step of a data loader: every epoch
    reads shards in order but documents arrive in hash-random order,
    reproducible across runs and engines.

    ``shard = md5(seed:id) mod n_shards`` (uniform by construction — no
    hot shard), ``shard_pos = rank of the hash within the shard``. The
    per-shard window is PARTITIONED (parallel across shards); at lake
    scale write ``partitionBy("shard")`` and each training worker
    range-reads one shard already in shuffle order.
    """
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    shard = F.pmod(F.conv(F.substring(h, 1, 6), 16, 10).cast("long"), F.lit(n_shards))
    from pyspark.sql import Window

    keyed = df.withColumn("_h", h).withColumn("shard", shard.cast("int"))
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return keyed.withColumn("shard_pos", F.row_number().over(w)).drop("_h")


def temperature_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    alpha: float = 0.5,
    seed: str = "mix",
) -> DataFrame:
    """Temperature-based corpus mixing (the T5/mT5 data-mixture rule):
    re-balance sources so source s is sampled with probability
    ``q_s ∝ n_s^alpha`` — ``alpha < 1`` up-weights small sources
    relative to their natural frequency. Deterministic: the per-source
    keep probability ``min(1, q_s·N/n_s)`` (rounded to 9 dp) gates an
    md5-derived uniform per row — no RNG, reproducible across engines
    and epochs.

    Normalization pins the SMALLEST source at keep_prob 1 and
    downsamples larger sources toward parity —
    ``keep_prob_s = (n_min/n_s)^(1-alpha)`` — which needs only two
    exact integer aggregates (per-source count, global min), no
    cross-source float summation whose ordering could drift between
    engines or partitionings. ``alpha=1`` keeps everything; ``alpha=0``
    equalizes expected counts across sources at n_min.

    Plan shape: one count aggregate over sources (tiny result), the
    per-source probabilities computed on that aggregate and broadcast
    back; the row pass is a pure map filter. No shuffle of the corpus.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    mn = counts.agg(F.min("_n").alias("_mn"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        source_col,
        F.round(
            F.pow(
                F.col("_mn").cast("double") / F.col("_n").cast("double"),
                F.lit(1.0 - alpha),
            ),
            6,
        ).alias("keep_prob"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(float(2**60))
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .where(u < F.col("keep_prob"))
        .select(*df.columns, "keep_prob")
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021 §A1.1) as
    pure JVM column expressions — the standard pre-training repetition/
    quality gate, one map pass, no shuffle, no Python.

    Rules computed per document (each surfaced as a column so downstream
    audits can attribute drops to rules):

    - ``word_count`` within [min_words, max_words];
    - ``mean_word_len`` within [3, 10];
    - ``symbol_ratio`` (``#`` and ``…``/``...`` per word) below 0.1;
    - ``alpha_ratio`` (words containing ≥1 alphabetic char) above 0.8;
    - ``stopword_hits`` ≥ 2 of the 8 canonical English stopwords.

    The tokenized word array is projected ONCE before any higher-order
    function touches it (HOF lambdas are not CSE'd — the measured trap
    from dedup.py), so the five rules share a single tokenize. Ratios
    are rounded to 6 dp before comparison: the keep decision is then
    bit-identical across engines regardless of float evaluation order.

    At 100 TB this runs at scan speed and composes with
    ``repetition_stats`` (the Gopher repetition rules) and
    ``temperature_mix`` into the standard curation pipeline.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    d = df.select(
        id_col,
        words.alias("_w"),
        F.col(text_col).alias("_t"),
    )
    wc = F.size(F.col("_w"))
    char_sum = F.aggregate(
        F.transform(F.col("_w"), lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha_words = F.size(F.filter(F.col("_w"), lambda w: w.rlike("[a-zA-Z]")))
    symbols = F.regexp_count(F.col("_t"), F.lit("#")) + F.regexp_count(
        F.col("_t"), F.lit(r"\.\.\.")
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(F.col("_w"), s),
        )
    )
    scored = d.select(
        id_col,
        wc.alias("word_count"),
        F.round(char_sum.cast("double") / wc.cast("double"), 6).alias("mean_word_len"),
        F.round(symbols.cast("double") / wc.cast("double"), 6).alias("symbol_ratio"),
        F.round(alpha_words.cast("double") / wc.cast("double"), 6).alias("alpha_ratio"),
        stop_hits.alias("stopword_hits"),
    )
    keep = (
        F.col("word_count").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_ratio") < max_symbol_ratio)
        & (F.col("alpha_ratio") > min_alpha_ratio)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return scored.withColumn("keep", keep)


def dsir_importance_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n_buckets: int = 256,
    smoothing: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    public): score every document by how target-like its hashed
    bag-of-words distribution is — the standard recipe for tilting a
    100 TB web crawl toward a small high-quality target domain.

    ``is_target`` marks the target subset (e.g. a curated domain); the
    WHOLE corpus is the raw distribution. Words hash into ``n_buckets``
    via md5 (engine-portable: 60 hex bits -> integer -> mod); per-bucket
    log-likelihood-ratio lambda[b] = ln((ct[b]+a)/(Nt+aB)) -
    ln((cr[b]+a)/(Nr+aB)) with add-a smoothing; a document's score is
    the MEAN lambda over its word instances (mean, not sum, so the
    score is length-invariant). Resampling = keep top-k by score or
    sample proportional to exp(score).

    Scale shape: one explode+groupBy builds both count vectors
    (n_buckets rows — broadcast back), one more groupBy averages per
    document; no UDFs, everything partial-aggregable. Determinism:
    lambda quantizes to a scaled long (floor(x*1e7 + 0.5)) so per-doc
    sums are exact integers with no float-summation-order drift (the
    ln inputs are exact integer ratios, identical in any engine).

    Returns (id, n_words, dsir_score) for every document.
    """
    words = docs.select(
        F.col(id_col),
        is_target.cast("boolean").alias("_tgt"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_w"),
    ).where(F.col("_w") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("_w")), 1, 15), 16, 10).cast("long")
        % n_buckets
    ).alias("_b")
    feats = words.select(F.col(id_col), "_tgt", bucket)
    counts = feats.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_ct"),
    )
    tot = counts.agg(
        F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt")
    )
    a = F.lit(float(smoothing))
    ab = F.lit(float(smoothing) * n_buckets)
    # lambda quantizes to a SCALED INTEGER via floor(x*1e7 + 0.5):
    # floor-based half-up is formula-identical in every engine, unlike
    # ROUND (Spark HALF_UP vs DuckDB half-to-even break 6th-dp ties
    # differently). Integer sums are exact; the final division of an
    # exact long by an exact double is bit-identical everywhere — no
    # output rounding needed or wanted.
    lam = F.floor(
        (
            F.log((F.col("_ct") + a) / (F.col("_nt") + ab))
            - F.log((F.col("_cr") + a) / (F.col("_nr") + ab))
        )
        * F.lit(1e7)
        + F.lit(0.5)
    ).cast("long")
    lam_table = counts.crossJoin(F.broadcast(tot)).select("_b", lam.alias("_lam"))
    return (
        feats.join(F.broadcast(lam_table), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            (
                F.sum("_lam").cast("double")
                / (F.count(F.lit(1)) * F.lit(1e7))
            ).alias("dsir_score"),
        )
    )


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_cols: list[str],
    train_frac: float = 0.8,
    val_frac: float = 0.1,
) -> DataFrame:
    """EXACT-proportion train/val/test split per stratum — unlike
    :func:`hash_split` (proportions hold only in expectation), every
    stratum contributes exactly ceil(train_frac*n) train rows, then
    ceil((train+val)*n)-train val rows, remainder test: the guarantee
    evaluation protocols need when strata are small (rare languages,
    low-resource domains).

    Deterministic and engine-portable: rows order by md5(id) within
    the stratum (a stable pseudo-random shuffle, no RNG), so re-runs
    and engines agree row-for-row. One window per stratum — at 100 TB
    the stratum is the partition key and each window sorts only its
    stratum, the same bounded-window shape as topk_per_group.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*strata_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(*strata_cols))
    rn = F.row_number().over(w)
    train_cut = F.ceil(F.lit(float(train_frac)) * n - F.lit(1e-9))
    val_cut = F.ceil(F.lit(float(train_frac) + float(val_frac)) * n - F.lit(1e-9))
    split = (
        F.when(rn <= train_cut, F.lit("train"))
        .when(rn <= val_cut, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def decontaminate_semantic(
    corpus_vecs: DataFrame,
    eval_vecs: DataFrame,
    corpus_id: str = "corpus_id",
    eval_id: str = "eval_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag corpus documents whose
    EMBEDDING is near an eval-set embedding — catches paraphrased or
    reformatted contamination the n-gram pass (:func:`decontaminate`)
    cannot see; the two run side by side in a modern pretraining
    pipeline.

    Same scale posture as the n-gram pass: the eval side is tiny by
    construction and BROADCASTS; the corpus streams map-only through
    one JVM-side cosine per (corpus, eval) candidate — at 100 TB swap
    the exhaustive eval scan for the IVF/LSH bucketed variants in
    operators/similarity (identical output columns). Scores round to
    4 dp before the threshold so flagging is engine-reproducible.

    Returns ``(corpus_id, eval_id, score)`` for pairs ≥ threshold.
    """
    from mlentory_etl_pipeline_spark.functions.vectors import cosine_similarity

    c = corpus_vecs.select(F.col(corpus_id), F.col(vec_col).alias("_cv"))
    e = eval_vecs.select(F.col(eval_id), F.col(vec_col).alias("_ev"))
    score = F.round(cosine_similarity(F.col("_cv"), F.col("_ev")), 4)
    return (
        c.crossJoin(F.broadcast(e))
        .select(corpus_id, eval_id, score.alias("score"))
        .where(F.col("score") >= threshold)
    )


def decontaminate_semantic_bucketed(
    corpus_vecs: DataFrame,
    eval_vecs: DataFrame,
    dim: int,
    corpus_id: str = "corpus_id",
    eval_id: str = "eval_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_planes: int = 4,
    num_bands: int = 16,
) -> DataFrame:
    """The SCALE PATH for :func:`decontaminate_semantic`: instead of
    scoring every (corpus, eval) pair, sign-random-projection buckets
    (multi-band OR-amplification, the bipartite twin of
    ``dedup.embedding_near_dup_lsh``) shrink the candidate set to
    bucket collisions, then exact cosine scores candidates only.
    Identical output columns ``(corpus_id, eval_id, score)`` — swap it
    in wherever the exhaustive pass runs.

    At 100 TB the corpus side buckets map-only (deterministic
    hyperplanes, no fitting step) and each band's join is an equi-join
    on ``bucket`` against the broadcast bucketed eval side — the corpus
    is never cross-joined. A pair colliding in NO band is missed:
    recall ≈ 1-(1-p^planes)^bands where p = 1-θ/π; at the default
    4 planes × 16 bands a pair at exactly cosine 0.35 (p≈0.61) is
    missed with probability (1-0.61⁴)¹⁶ ≈ 0.09; pairs further above
    the threshold are missed exponentially less — parity with the exhaustive
    pass at the test scales is asserted in tests, and bands is the
    recall knob production tunes.
    """
    from mlentory_etl_pipeline_spark.functions.vectors import cosine_similarity
    from mlentory_etl_pipeline_spark.operators.similarity import rp_bucket_bands

    c = corpus_vecs.select(F.col(corpus_id), F.col(vec_col).alias("_cv"))
    e = eval_vecs.select(F.col(eval_id), F.col(vec_col).alias("_ev"))
    # all bands in one corpus pass (bit-identical buckets to a
    # per-band loop): one scan + one broadcast (band, bucket) join
    # instead of num_bands scans and joins unioned
    cb = rp_bucket_bands(c, "_cv", dim, num_planes, num_bands).select(
        F.col(corpus_id), F.col("band"), F.col("bucket")
    )
    eb = rp_bucket_bands(e, "_ev", dim, num_planes, num_bands).select(
        F.col(eval_id), F.col("band"), F.col("bucket")
    )
    cand = (
        cb.join(F.broadcast(eb), ["band", "bucket"])
        .select(corpus_id, eval_id)
        .distinct()
    )
    score = F.round(cosine_similarity(F.col("_cv"), F.col("_ev")), 4)
    return (
        cand.join(c, corpus_id)
        .join(F.broadcast(e), eval_id)
        .select(corpus_id, eval_id, score.alias("score"))
        .where(F.col("score") >= threshold)
    )


def dedup_intradoc_lines(
    docs: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Remove REPEATED LINES within each document (keep the first
    occurrence, preserve original order) — the intra-document face of
    dedup: boilerplate headers/footers/navigation repeated inside one
    crawled page, which corpus-level dedup never sees because it
    compares across documents.

    posexplode → first-occurrence filter per (doc, line) via min(pos)
    → re-assemble with an order-preserving array_sort over (pos, line)
    structs. All shuffles are keyed by doc id (and doc+line), so the
    operator scales with corpus size like any per-doc aggregation;
    nothing compares across documents.

    Returns (id, text, n_lines, n_kept) — ``n_lines`` is the original
    line count (carried through the aggregations, not recomputed), so
    ``n_lines - n_kept`` is the per-doc boilerplate drop an audit reads
    straight off the output.
    """
    arr = docs.select(F.col(id_col), F.split(F.col(text_col), sep).alias("_lines"))
    lines = arr.select(
        F.col(id_col),
        F.size("_lines").alias("n_lines"),
        F.posexplode("_lines").alias("pos", "line"),
    )
    firsts = lines.groupBy(id_col, "line").agg(
        F.min("pos").alias("pos"), F.first("n_lines").alias("n_lines")
    )
    return (
        firsts.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("_ordered"),
            F.first("n_lines").alias("n_lines"),
        )
        .select(
            F.col(id_col),
            F.array_join(F.transform("_ordered", lambda s: s["line"]), sep).alias(
                "text"
            ),
            F.col("n_lines"),
            F.size("_ordered").alias("n_kept"),
        )
    )


def token_budget_sample(
    docs: DataFrame,
    id_col: str,
    group_cols: list[str],
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Per-group TOKEN-budget sampling: take documents in deterministic
    md5(id) order until the group's cumulative token count reaches the
    budget (the first doc that crosses the line is still included, so
    every group with any data contributes at least one doc). This is
    how training mixtures are actually specified — "20B tokens of web,
    2B of code" — where :func:`quota_sample`'s per-doc quota
    over-weights short-doc domains.

    One bounded window per group (cumulative sum over the md5 order);
    deterministic, no RNG, engine-portable. Returns the kept rows plus
    ``cum_tokens``.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(n_tokens_col)).over(w)
    return (
        docs.withColumn("cum_tokens", cum)
        .where((F.col("cum_tokens") - F.col(n_tokens_col)) < budget)
    )


def build_training_mixture(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    tokens_col: str = "n_chars",
    token_budget: int = 5000,
    near_dup_threshold: float = 0.8,
    doc_vecs: DataFrame | None = None,
    eval_vecs: DataFrame | None = None,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int = 64,
    semantic_threshold: float = 0.35,
) -> tuple[DataFrame, DataFrame]:
    """The END-TO-END curation pipeline: quality filter → exact dedup →
    MinHash near-dedup → n-gram decontamination vs the eval set →
    (optional) SEMANTIC decontamination vs eval embeddings →
    per-source token-budget sampling — each stage an operator that is
    individually oracle-verified in the registry; this function is the
    composition a user actually runs, plus the funnel report every
    data-ops review asks for.

    The semantic stage activates when ``doc_vecs``/``eval_vecs``
    (``(vec_id_col, vec_col)`` frames keyed like the docs) are given:
    corpus docs whose embedding lands within ``semantic_threshold``
    cosine of any eval embedding drop, via the bucketed LSH scan
    (:func:`decontaminate_semantic_bucketed` — the scale path, parity
    with the exhaustive pass asserted in tests). Docs without an
    embedding pass through (the anti-join removes only flagged ids).

    Returns ``(funnel, final)``: ``funnel`` has one row per stage
    (stage_idx, stage, n_docs, n_tokens) and ``final`` is the surviving
    corpus. All stages are anti-joins/filters keyed by the doc id, and
    the funnel is itself ONE lazy plan that evaluates every stage
    exactly once (docs tagged with the number of stages survived —
    monotone subsets make that the last stage reached), instead of one
    count-action per stage re-reading the corpus S times.
    """
    from mlentory_etl_pipeline_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_dedup_pairs,
    )

    # Stage-boundary lineage cap (VERDICT r9 №3): every stage frame is
    # referenced TWICE (as the next stage's input and again in the
    # funnel tagging below), so an uncapped composition re-expands each
    # stage's subtree per reference — the registry's widest plan (619
    # exchanges, 12 s of pure plan-build). lazy_cap keeps plan width
    # O(stage) and each stage computes exactly once at action time; the
    # OUTER funnel plan below keeps AQE + broadcasts.
    stages: list[tuple[str, DataFrame]] = [("raw", docs)]
    keep_ids = (
        gopher_quality(docs, id_col, text_col, min_words=5, min_stopword_hits=0)
        .where(F.col("keep"))
        .select(id_col)
    )
    quality = lazy_cap(docs.join(keep_ids, id_col))
    stages.append(("quality", quality))
    exact = lazy_cap(exact_dedup(quality, [text_col], id_col).select(*docs.columns))
    stages.append(("exact_dedup", exact))
    pairs = minhash_lsh_dedup_pairs(
        exact, id_col, text_col, threshold=near_dup_threshold
    )
    dup_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    near = lazy_cap(exact.join(dup_ids, id_col, "left_anti"))
    stages.append(("near_dedup", near))
    contaminated = (
        decontaminate(near, eval_docs, id_col, text_col)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    clean = lazy_cap(near.join(contaminated, id_col, "left_anti"))
    stages.append(("decontaminated", clean))
    if doc_vecs is not None and eval_vecs is not None:
        corpus_vecs = clean.select(F.col(id_col).alias("corpus_id")).join(
            doc_vecs.select(
                F.col(vec_id_col).alias("corpus_id"), F.col(vec_col)
            ),
            "corpus_id",
        )
        ev = eval_vecs.select(F.col(vec_id_col).alias("eval_id"), F.col(vec_col))
        sem_flagged = (
            decontaminate_semantic_bucketed(
                corpus_vecs,
                ev,
                vec_dim,
                vec_col=vec_col,
                threshold=semantic_threshold,
                num_planes=2,
                num_bands=20,
            )
            .select(F.col("corpus_id").alias(id_col))
            .distinct()
        )
        clean = lazy_cap(clean.join(sem_flagged, id_col, "left_anti"))
        stages.append(("semantic_decontaminated", clean))
    final = lazy_cap(
        token_budget_sample(
            clean, id_col, [source_col], tokens_col, token_budget
        ).select(*docs.columns)
    )
    stages.append(("token_budget", final))

    # Funnel as ONE lazy plan instead of one eager count-action per
    # stage: the per-stage loop evaluates stage k's lineage k times
    # (O(S^2) stage evaluations; at 100 TB that is S re-reads of the
    # corpus), while tagging each doc with the number of stages it
    # survived evaluates every stage exactly once. Survival is
    # monotone (each stage is a subset of the previous), so the count
    # of non-null survivor flags IS the last stage reached, and stage
    # i's totals are the docs with reached >= i — recovered by a tiny
    # S x S broadcast join against the stage list, no window.
    spark = docs.sparkSession
    tagged = docs.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_tok"))
    flags = []
    for i, (_name, df) in enumerate(stages):
        if i == 0:
            continue  # raw: every doc
        ids = df.select(F.col(id_col).alias("_id")).withColumn(f"_s{i}", F.lit(1))
        tagged = tagged.join(ids, "_id", "left")
        flags.append(f"_s{i}")
    reached = F.lit(0)
    for c in flags:
        reached = reached + F.coalesce(F.col(c), F.lit(0))
    per_reached = (
        tagged.select(reached.alias("_reached"), "_tok")
        .groupBy("_reached")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_tok").alias("_t"))
    )
    stage_lit = spark.createDataFrame(
        [(i, name) for i, (name, _df) in enumerate(stages)],
        "stage_idx int, stage string",
    )
    funnel = (
        stage_lit.join(
            F.broadcast(per_reached),
            F.col("_reached") >= F.col("stage_idx"),
            "left",
        )
        .groupBy("stage_idx", "stage")
        .agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    return funnel, final


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, at most
    ``k`` rows per group with inclusion probability proportional to
    ``weight_col`` — the A-RES reservoir scheme (Efraimidis-Spirakis,
    public recipe: priority u^(1/w), keep the top k) with the md5
    uniform standing in for the RNG, so the sample is identical on any
    engine/partitioning/run (the repo's no-RNG sampling posture, cf.
    ``quota_sample`` for the uniform case).

    Ordering uses the monotone-equivalent ``ln(u)/w`` (avoids pow),
    rounded 9 dp with an id tiebreak so the rank is engine-stable.
    Rows with weight <= 0 are excluded (zero-weight items cannot be
    sampled under the scheme). One bounded per-group window — same
    scale shape as every quota sampler here.

    Returns the sampled rows plus ``sample_rank`` (1..k per group).
    """
    from pyspark.sql import Window

    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "double"
        )
        / F.lit(float(1 << 60))
    )
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    w = Window.partitionBy(*group_cols).orderBy(F.desc("_wkey"), F.asc(id_col))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_wkey", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .drop("_wkey")
    )


# ---------------------------------------------------------------------
# Bootstrap quality classifier (fasttext/CCNet-style, hashed features)
# ---------------------------------------------------------------------

def nb_bootstrap_quality(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_pred: Column,
    n_buckets: int = 4096,
    alpha: float = 0.5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Model-based quality scoring the way production corpora do it
    (CCNet / fasttext-style): bootstrap a linear classifier from cheap
    rule-based pseudo-labels, then score every document with it.

    ``label_pred`` is a boolean Column — the deterministic heuristic
    that seeds the classifier (e.g. a Gopher-rule pass). Training is a
    closed-form multinomial Naive Bayes over HASHED text features
    (unigrams + adjacent bigrams, seeded-md5 → ``n_buckets`` buckets:
    the fasttext hashing trick — model size is fixed at ``n_buckets``
    weights no matter the vocabulary), fit in ONE aggregation pass:

        w_b = ln( (pos_b + a)·(N_neg + a·B) / ((neg_b + a)·(N_pos + a·B)) )

    Scoring joins features to the broadcast weight table and sums.
    Every weight quantizes to a scaled long via a SINGLE ln per bucket
    (floor(ln(ratio)·scale) — the lm_perplexity determinism recipe), so
    the per-doc fold is integer arithmetic: float summation order
    cannot move the result, which is what lets the whole train+score
    pipeline run under a hard SQL oracle.

    Scale posture: feature extraction is one posexplode + one lead
    window keyed by (doc, pos); training shuffles ≤ B bucket rows
    (map-side combined); the weight table (B rows) broadcasts back for
    scoring, so the scoring pass adds one doc-keyed aggregation —
    nothing is ever keyed by raw vocabulary. The hashed-feature frame
    is pinned (localCheckpoint) because train and score both consume
    it. Returns (id, n_feats, score_micro, pred_quality) — pred is
    score ≥ 0, i.e. "more likely drawn from the positive class".
    """
    from pyspark.sql import Window

    from mlentory_etl_pipeline_spark.operators.textstats import tokens

    lab = docs.select(
        F.col(id_col), label_pred.cast("int").alias("_y"), F.col(text_col)
    )
    tok = lab.select(
        id_col,
        "_y",
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_pos", "_tok"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    with_next = tok.withColumn("_next", F.lead("_tok").over(w))
    unigrams = with_next.select(id_col, "_y", F.col("_tok").alias("_feat"))
    bigrams = with_next.where(F.col("_next").isNotNull()).select(
        id_col,
        "_y",
        F.concat_ws(" ", "_tok", "_next").alias("_feat"),
    )
    feats = (
        unigrams.unionByName(bigrams)
        .withColumn(
            "_bucket",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.col("_feat"), F.lit("#nb"))), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(n_buckets),
            ),
        )
        .drop("_feat")
        .localCheckpoint(eager=False)
    )

    bucket_counts = feats.groupBy("_bucket").agg(
        F.sum("_y").alias("_pos_c"),
        F.sum(F.lit(1) - F.col("_y")).alias("_neg_c"),
    )
    feat_totals = feats.agg(
        F.sum("_y").cast("double").alias("_np"),
        F.sum(F.lit(1) - F.col("_y")).cast("double").alias("_nn"),
    )
    ab = alpha * n_buckets
    weights = (
        bucket_counts.crossJoin(F.broadcast(feat_totals))
        .select(
            "_bucket",
            F.floor(
                F.ln(
                    (F.col("_pos_c") + F.lit(alpha))
                    * (F.col("_nn") + F.lit(ab))
                    / (
                        (F.col("_neg_c") + F.lit(alpha))
                        * (F.col("_np") + F.lit(ab))
                    )
                )
                * scale
            )
            .cast("long")
            .alias("_w"),
        )
    )
    doc_priors = lab.agg(
        F.floor(
            F.ln(
                (F.sum("_y") + F.lit(alpha))
                / (F.sum(F.lit(1) - F.col("_y")) + F.lit(alpha))
            )
            * scale
        )
        .cast("long")
        .alias("_prior")
    )
    return (
        feats.join(F.broadcast(weights), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("_w").alias("_wsum"),
        )
        .crossJoin(F.broadcast(doc_priors))
        .select(
            id_col,
            "n_feats",
            (F.col("_prior") + F.col("_wsum")).alias("score_micro"),
            (F.col("_prior") + F.col("_wsum") >= 0).alias("pred_quality"),
        )
        .orderBy(id_col)
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon_num: int = 1,
    epsilon_den: int = 1,
    seed: str = "dp-v1",
    scale: int = 1_000_000,
) -> DataFrame:
    """ε-differentially-private release of per-group counts via the
    Laplace mechanism — the privacy-preserving data-card statistic
    (publish corpus composition without exposing exact memberships;
    Dwork et al. 2006). Sensitivity of a count is 1, so noise is
    Laplace(1/ε) with ε = ``epsilon_num/epsilon_den``.

    Determinism contract (a RANDOMIZED mechanism under a hard SQL
    oracle): the per-group uniform is the group key's seeded md5
    (first 60 bits / 2⁶⁰ — engine-identical), inverted through the
    Laplace CDF ``noise = −(1/ε)·sign(u−½)·ln(max(1−2·|u−½|, 2⁻⁶⁰))``
    (the max() clamp keeps a pathological endpoint uniform from
    emitting −Inf → Long.MIN garbage; noise is thereby bounded at
    ~60·ln2/ε), with the single libm ``ln`` QUANTIZED to micro-units
    (``floor(ln·scale + ½)`` — the DSIR / lm_perplexity scheme) so
    both engines carry the identical integer before the one closing
    division. Seeded noise is a DETERMINISM device for testing and
    replay — for a production release the seed must be secret and
    fresh per release, which the docstring is the contract for.

    Scale posture: one count aggregation (map-side combined), then
    per-group column expressions — no second shuffle, no data-sized
    state. Returns ``(group_cols…, noisy_count)`` with the noisy
    value rounded to 6 dp (true counts never leave the plan).
    """
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.lit("|"), key)), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 60))
    )
    centered = u - F.lit(0.5)
    sign = F.when(centered < 0, F.lit(-1)).otherwise(F.lit(1))
    # clamp the ln argument away from 0: a raw 60-bit value of exactly
    # 0 (probability 2⁻⁶⁰ per group, unbounded damage), or one so large
    # the 2⁻⁶⁰ division ROUNDS u to 1.0, would otherwise send
    # ln(1−2·|u−½|) to −Inf, flooring to Long.MIN and emitting a
    # garbage noisy_count; the 2⁻⁶⁰ floor bounds noise at ~60·ln2/ε
    # (mirrored in every oracle)
    q_ln = F.floor(
        F.ln(F.greatest(F.lit(1.0) - 2 * F.abs(centered), F.lit(2.0 ** -60)))
        * scale
        + F.lit(0.5)
    ).cast("long")
    noise = (
        (-sign * q_ln).cast("double")
        * F.lit(float(epsilon_den))
        / F.lit(float(epsilon_num) * scale)
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            *group_cols,
            F.round(F.col("_n") + noise, 6).alias("noisy_count"),
        )
        .orderBy(*group_cols)
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    grid_points: int | None = None,
) -> DataFrame:
    """Cross-group score calibration by quantile normalization: each
    row's score is replaced by the GLOBAL score at the same within-
    group percentile — the standard fix when heterogeneous sources
    produce incomparable raw quality scores (one source's 0.8 is
    another's 0.3), so a single global threshold becomes meaningful.

    Determinism: the within-group percent_rank orders by (score, id) —
    the id tiebreak removes ordering ambiguity entirely, so pr is a
    ratio of exact integers; the global reference index is
    ``floor(pr · (N−1)) + 1`` (identical IEEE product both engines)
    into the globally ranked score table. Returns
    ``(id, group, raw_score, calibrated)``.

    Scale posture: one window per group (group-keyed shuffle), plus a
    global reference that comes in two modes — NEITHER funnels the
    corpus through a single task. Default (exact): the globally
    ranked score table computed as a DISTRIBUTED rank —
    ``repartitionByRange`` on the full sort key (Spark's ORDER BY
    machinery: parallel range buckets), ``row_number`` windowed
    per-bucket (each window partition is one bucket, ~N/P rows), and
    global offsets from the per-bucket counts folded by a broadcast
    triangle join over P metadata rows; ranks are invariant to where
    the sampled range boundaries fall, so the result is bit-identical
    to a global sort (what keeps the oracle hard). ``grid_points=G``
    (the even cheaper lake path): the reference collapses to ONE
    ``percentile_approx`` aggregation over G fractions — no global
    rank at all — and each row maps to its grid slot via
    ``floor(pr·(G−1))``; with the grid finer than the score
    distribution the two modes agree within one distinct-score step
    (parity-tested), while at 100 TB G≈10⁴ bounds the reference to a
    broadcast array.
    """
    from pyspark.sql import Window as W

    ranked = df.select(id_col, group_col, F.col(score_col).alias("raw_score"))
    wg = W.partitionBy(group_col).orderBy("raw_score", id_col)
    pr = ranked.withColumn("_pr", F.percent_rank().over(wg))
    try:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = 200
    bucketed = ranked.select("raw_score", group_col, id_col).repartitionByRange(
        n_parts, "raw_score", group_col, id_col
    ).withColumn("_pid", F.spark_partition_id())
    wloc = W.partitionBy("_pid").orderBy("raw_score", group_col, id_col)
    cnts = bucketed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offs = (
        cnts.alias("a")
        .join(F.broadcast(cnts.alias("b")), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    glob = (
        bucketed.withColumn("_lrn", F.row_number().over(wloc))
        .join(F.broadcast(offs), "_pid")
        .select(
            (F.col("_off") + F.col("_lrn")).cast("long").alias("_gidx"),
            F.col("raw_score").alias("calibrated"),
        )
    )
    n = ranked.agg(F.count(F.lit(1)).alias("_n"))
    if grid_points is not None:
        if grid_points < 2:
            raise ValueError("grid_points must be >= 2")
        fr = [g / (grid_points - 1) for g in range(grid_points)]
        grid = df.agg(
            F.percentile_approx(
                F.col(score_col), F.array(*[F.lit(x) for x in fr]), 1_000_000
            ).alias("_grid")
        )
        return (
            pr.crossJoin(F.broadcast(grid))
            .withColumn(
                "_gidx",
                (F.floor(F.col("_pr") * (grid_points - 1)) + 1).cast("int"),
            )
            .select(
                id_col,
                group_col,
                "raw_score",
                F.element_at(F.col("_grid"), F.col("_gidx")).alias("calibrated"),
            )
            .orderBy(id_col)
        )
    return (
        pr.crossJoin(F.broadcast(n))
        .withColumn(
            "_gidx",
            (F.floor(F.col("_pr") * (F.col("_n") - 1)) + 1).cast("long"),
        )
        .join(glob, "_gidx")
        .select(id_col, group_col, "raw_score", "calibrated")
        .orderBy(id_col)
    )


def privacy_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 10,
    l: int = 2,
) -> DataFrame:
    """k-anonymity / l-diversity release audit (Sweeney 2002;
    Machanavajjhala et al. 2007): before a dataset (or a per-group
    statistics table) ships, every equivalence class over the
    quasi-identifier columns must contain ≥ k records (re-identification
    resistance) and ≥ l distinct sensitive values (attribute-disclosure
    resistance). The companion to :func:`dp_noisy_counts` — DP protects
    released AGGREGATES, this audits released RECORDS.

    One row out: ``(n_rows, n_classes, min_class_size,
    n_rows_below_k, pct_rows_below_k, min_l_diversity,
    n_classes_below_l)`` — all counts exact integers off one
    (quasi…) aggregation (distinct sensitive counted in the same
    pass), ratios divided once.

    Scale posture: one aggregation keyed by the quasi tuple (map-side
    combined; the shuffle carries |classes| rows), one metadata-sized
    fold. The audit never materializes the classes — at 100 TB the
    class table IS the released artifact's size, not the data's.
    """
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.col(sensitive_col)).alias("_l"),
    )
    return classes.agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("_n").alias("min_class_size"),
        F.coalesce(
            F.sum(F.when(F.col("_n") < k, F.col("_n"))), F.lit(0)
        ).alias("n_rows_below_k"),
        F.min("_l").alias("min_l_diversity"),
        F.coalesce(
            F.sum(F.when(F.col("_l") < l, F.lit(1))), F.lit(0)
        ).alias("n_classes_below_l"),
    ).select(
        "n_rows",
        "n_classes",
        "min_class_size",
        "n_rows_below_k",
        F.round(
            F.col("n_rows_below_k").cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("pct_rows_below_k"),
        "min_l_diversity",
        "n_classes_below_l",
    )


def dp_user_level_counts(
    df: DataFrame,
    user_col: str,
    order_col: str,
    group_cols: list[str],
    max_per_user: int = 5,
    epsilon_num: int = 1,
    epsilon_den: int = 1,
    seed: str = "dp-user-v1",
    scale: int = 1_000_000,
) -> DataFrame:
    """USER-level ε-DP release of per-group counts — the stronger
    privacy unit :func:`dp_noisy_counts` does not give: event-level DP
    protects one ROW, but one user may own thousands of rows, so the
    promise is hollow for them. Here each user's total contribution is
    CLAMPED to ``max_per_user`` rows (deterministic md5-ordered
    selection keyed by ``order_col`` — replayable, unbiased w.r.t.
    event semantics), making the per-group count's user-sensitivity ≤
    C; the Laplace noise then scales as C/ε (Dwork–Roth §3, the
    standard bounded-contribution mechanism behind every production
    user-level DP release).

    Determinism: the clamp is a per-user window ordered by a seeded
    md5 of ``order_col`` (engine-identical); noise reuses the
    dp_noisy_counts seeded-uniform scheme with the micro-quantized ln,
    multiplied by the integer sensitivity C. Same contract: seeded
    noise is the test/replay device; production uses a fresh secret
    seed.

    Scale posture: one per-user window (user-partitioned — the
    natural key distribution), one count aggregation, map-side
    column expressions. Clamping also BOUNDS the window depth hazard:
    rank computation is O(rows per user) but emission is capped.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.md5(F.concat(F.lit(seed), F.col(order_col).cast("string"))),
        F.col(order_col),
    )
    clamped = (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_user)
        .drop("_rn")
    )
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.lit("|"), key)), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 60))
    )
    centered = u - F.lit(0.5)
    sign = F.when(centered < 0, F.lit(-1)).otherwise(F.lit(1))
    q_ln = F.floor(
        F.ln(
            F.greatest(F.lit(1.0) - 2 * F.abs(centered), F.lit(2.0 ** -60))
        )
        * scale
        + F.lit(0.5)
    ).cast("long")
    noise = (
        (-sign * q_ln).cast("double")
        * F.lit(float(max_per_user) * epsilon_den)
        / F.lit(float(epsilon_num) * scale)
    )
    return (
        clamped.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            *group_cols,
            F.round(F.col("_n") + noise, 6).alias("noisy_count"),
        )
    )


def doremi_domain_reweight(
    docs: DataFrame,
    domain_col: str,
    text_col: str,
    eta_tenths: int = 1,
    alpha: float = 0.5,
) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023,
    public): upweight domains with EXCESS loss under a proxy model so
    the next training mixture spends capacity where the model is
    furthest behind — the principled replacement for hand-tuned
    mixture weights feeding :func:`mixture build` funnels.

    Proxy loss here is the add-α unigram cross-entropy against the
    corpus-wide model (the lm_perplexity machinery); reference DoReMi
    uses a small trained proxy — the UPDATE RULE is what this operator
    owns:

        excess_d = max(0, CE_d − CE_corpus)
        w_d ∝ exp(η·excess_d),  normalized over domains

    Exactness contract: per-token log-probs quantize to micro-nats
    (floor·10^6) so per-domain sums are exact longs; CE_d closes with
    ONE integral divide (micro-nats per token); the exp(η·excess)
    factor floors to micro-units; normalization is one more integral
    divide to ppm. η = ``eta_tenths``/10.

    Scale posture: two token-keyed map-side-combined aggregations
    (corpus model + per-domain sums), then |domains|-sized column
    math with two broadcast apex rows — no window, no per-row Python.
    """
    from mlentory_etl_pipeline_spark.operators.textstats import tokens

    toks = docs.select(
        F.col(domain_col).alias("_d"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
    )
    cnt = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    totals = F.broadcast(
        cnt.agg(
            F.sum("_c").cast("double").alias("_t"),
            F.count(F.lit(1)).cast("double").alias("_v"),
        )
    )
    logprob = F.ln(
        (F.col("_c") + F.lit(alpha)) / (F.col("_t") + F.lit(alpha) * F.col("_v"))
    )
    q = (
        toks.join(cnt, "_tok")
        .crossJoin(totals)
        .select(
            "_d", F.floor(logprob * F.lit(1000000.0)).cast("long").alias("_q")
        )
    )
    per_d = q.groupBy("_d").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_sq"),
    )
    base = F.broadcast(
        per_d.agg(
            F.sum("n_tokens").alias("_nn"),
            F.sum("_sq").alias("_sq0"),
        )
    )
    j = per_d.crossJoin(base)
    ce_d = F.expr("CAST(-_sq AS DECIMAL(38,0)) DIV n_tokens")
    ce_0 = F.expr("CAST(-_sq0 AS DECIMAL(38,0)) DIV _nn")
    staged = j.select(
        F.col("_d").alias("domain"),
        "n_tokens",
        ce_d.cast("long").alias("_ced"),
        ce_0.cast("long").alias("_ce0"),
    ).select(
        "domain",
        "n_tokens",
        F.round(F.col("_ced") / F.lit(1000000.0), 6).alias("ce"),
        F.greatest(F.col("_ced") - F.col("_ce0"), F.lit(0).cast("long")).alias(
            "excess_micro"
        ),
    )
    factor = F.floor(
        F.exp(
            (F.lit(float(eta_tenths)) / F.lit(10.0))
            * (F.col("excess_micro").cast("double") / F.lit(1000000.0))
        )
        * F.lit(1000000.0)
    ).cast("long")
    with_f = staged.withColumn("_f", factor)
    fsum = F.broadcast(with_f.agg(F.sum("_f").alias("_fs")))
    return (
        with_f.crossJoin(fsum)
        .select(
            "domain",
            "n_tokens",
            "ce",
            "excess_micro",
            F.round(
                F.expr("CAST(_f AS DECIMAL(38,0)) * 1000000 DIV _fs").cast(
                    "long"
                )
                / F.lit(1000000.0),
                6,
            ).alias("weight"),
        )
        .orderBy("domain")
    )


def chat_template_render(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    seq_col: str,
    role_col: Column,
    content_col: Column,
) -> DataFrame:
    """Render per-user event streams into chat-template training text —
    the SFT/instruction-data assembly step: one row per conversation
    with ``<|role|>content`` turn markers, turn count, and a
    whitespace token count for the packing budget. The reference
    pipeline renders QA prompts driver-side per row
    (``QAInferenceEngine.py``); at lake scale the conversation
    assembly must be ONE aggregation.

    Determinism: turns sort by (ts, seq) via ``array_sort`` over
    structs whose FIRST fields are the sort key — collect_list order
    is partition-dependent, the sort is what makes the rendered
    string engine- and run-stable (mirrored by ``STRING_AGG ... ORDER
    BY`` in SQL). Content must be pre-formatted to strings by the
    caller (no float rendering inside — cross-engine float-to-string
    is a parity hazard).

    Scale posture: one groupBy(user) with map-side combined
    collect_list; per-conversation size is bounded by the session
    length — cap upstream (quota_sample) for adversarial users.
    """
    lines = events.select(
        F.col(user_col).alias("_u"),
        F.struct(
            F.col(ts_col).alias("_ts"),
            F.col(seq_col).alias("_seq"),
            F.concat(
                F.lit("<|"), role_col, F.lit("|>"), content_col
            ).alias("_line"),
        ).alias("_t"),
    )
    conv = lines.groupBy("_u").agg(
        F.array_sort(F.collect_list("_t")).alias("_ts_sorted")
    )
    text = F.array_join(
        F.transform(F.col("_ts_sorted"), lambda s: s.getField("_line")),
        "\n",
    )
    return conv.select(
        F.col("_u").alias(user_col),
        F.size("_ts_sorted").alias("n_turns"),
        text.alias("conversation"),
        F.size(F.split(F.trim(text), r"\s+")).alias("n_tokens"),
    )


def kv_prefix_sharing(
    df: DataFrame,
    text_col: str = "text",
    depths: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """Serving-side KV-cache prefix-sharing analysis: for each probe
    depth d, how many of the corpus' prompts share their first d
    tokens — the statistic that sizes a prefix-cache (vLLM automatic
    prefix caching / RadixAttention): every prompt beyond the first
    with the same d-token prefix re-uses d cached KV entries, so
    ``tokens_saved(d) = (n_prompts - n_distinct_prefixes) * d``.

    Plan shape: one generate (4 depth probes per doc, map-side) and a
    two-level aggregation — partial counts on (depth, prefix) combine
    map-side, then a depths-sized rollup; hot prefixes are absorbed by
    the partial aggregation, never materialized as groups-as-rows.
    Output is bounded by len(depths).
    """
    from mlentory_etl_pipeline_spark.operators import textstats

    toks = textstats.tokens(F.col(text_col))
    base = df.select(toks.alias("_t"), F.size(toks).alias("_n"))
    probes = base.select(
        "_t",
        "_n",
        F.explode(F.array(*[F.lit(d) for d in depths])).alias("depth"),
    ).where(F.col("_n") >= F.col("depth"))
    prefixes = probes.select(
        "depth",
        F.array_join(
            F.slice(F.col("_t"), F.lit(1), F.col("depth")), " "
        ).alias("_prefix"),
    )
    per_prefix = prefixes.groupBy("depth", "_prefix").agg(
        F.count(F.lit(1)).alias("_n")
    )
    saved = (F.sum("_n") - F.count(F.lit(1))) * F.col("depth")
    return (
        per_prefix.groupBy("depth")
        .agg(
            F.sum("_n").alias("n_prompts"),
            F.count(F.lit(1)).alias("n_distinct_prefixes"),
        )
        .select(
            "depth",
            "n_prompts",
            "n_distinct_prefixes",
            (
                (F.col("n_prompts") - F.col("n_distinct_prefixes"))
                * F.col("depth")
            ).alias("tokens_saved"),
            F.round(
                (
                    (F.col("n_prompts") - F.col("n_distinct_prefixes"))
                    * F.col("depth")
                ).cast("double")
                / (F.col("n_prompts") * F.col("depth")).cast("double"),
                6,
            ).alias("sharing_ratio"),
        )
        .orderBy("depth")
    )


def token_budget_waterfill(
    df: DataFrame,
    domain_col: str,
    tokens_col,
    budget_frac_ppm: int = 600000,
) -> DataFrame:
    """Token-budget allocation across domains by exact integer
    WATERFILLING: given each domain's available token count a_d and a
    total budget B, find the water level c with
    ``sum(min(a_d, c)) = B`` — small domains are taken whole, large
    domains are capped at the common level, the fairest feasible mix
    when no quality prior says otherwise (the max-min-fair complement
    to temperature/DoReMi reweighting).

    Exact integer construction (no float level): domains sorted by
    (available, domain); a domain is FULLY TAKEN iff taking it and
    everything smaller whole, with all larger domains capped at its
    size, still fits the budget (``cum_d + a_d * n_larger <= B`` — a
    prefix sum + rank window over the DOMAINS table, metadata-sized).
    The remaining budget splits evenly across the k capped domains:
    ``floor((B - cum_full) / k)`` each, with the r leftover tokens
    going one each to the r first capped domains in sort order —
    allocations are integers and sum to B exactly.

    Budget is ``floor(total_available * budget_frac_ppm / 1e6)``
    (exact integer ppm arithmetic). The windows run over the domain
    table (bounded by |domains|); the only corpus-sized pass is the
    initial per-domain sum. Returns one row per domain:
    (domain, available_tokens, allocated_tokens, capped).
    """
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(tokens_col).cast("long").alias("available_tokens")
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("available_tokens", "domain")
    # |domains| rows: the global windows are metadata-bounded (same
    # justification as the plan-audit allowlist's deciles/tests cases)
    ranked = per.select(
        "domain",
        "available_tokens",
        F.sum("available_tokens").over(w_all).alias("_total"),
        F.row_number().over(w_ord).alias("_rk"),
        F.count(F.lit(1)).over(w_all).alias("_ndom"),
        F.sum("available_tokens").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cum"),
    ).withColumn(
        "_budget",
        F.floor(
            F.col("_total") * F.lit(budget_frac_ppm) / F.lit(1000000)
        ).cast("long"),
    )
    feasible = ranked.withColumn(
        "_full",
        F.col("_cum")
        + F.col("available_tokens") * (F.col("_ndom") - F.col("_rk"))
        <= F.col("_budget"),
    )
    agg = feasible.select(
        F.max(F.when(F.col("_full"), F.col("_rk")).otherwise(0)).over(
            w_all
        ).alias("_m"),
        F.max(
            F.when(F.col("_full"), F.col("_cum")).otherwise(0)
        ).over(w_all).alias("_cum_full"),
        "domain",
        "available_tokens",
        "_rk",
        "_ndom",
        "_budget",
    )
    k = F.col("_ndom") - F.col("_m")
    rem = F.col("_budget") - F.col("_cum_full")
    share = F.floor(rem / k).cast("long")
    leftover = (rem - share * k).cast("long")
    return agg.select(
        "domain",
        "available_tokens",
        F.when(F.col("_rk") <= F.col("_m"), F.col("available_tokens"))
        .otherwise(
            share
            + F.when(
                F.col("_rk") - F.col("_m") <= leftover, F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("allocated_tokens"),
        (F.col("_rk") > F.col("_m")).alias("capped"),
    ).orderBy("domain")


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col,
    budget: int,
) -> DataFrame:
    """Neyman-optimal allocation of a sampling budget across strata:
    ``n_h proportional to N_h * S_h`` (stratum size x stratum std) —
    minimizes the variance of the stratified mean for a fixed budget;
    the principled upgrade of proportional quota_sample when strata
    differ in spread (the survey-sampling classic).

    Exactness: per-stratum moments come from integer sums; shares
    quantize to micros in one fixed double chain; integer allocations
    use LARGEST-REMAINDER rounding (floor everything, hand the
    leftover units to the largest fractional parts, stratum-name
    tiebreak) so allocations sum EXACTLY to the budget; each
    allocation is then capped at the stratum population (when the cap
    binds — budget comparable to a stratum's size — the clipped units
    are NOT redistributed; pick a budget under min(N_h)/share for the
    exact-sum contract). The remainder ranking runs over ONE ROW PER
    STRATUM (metadata-bounded window).

    Returns (stratum, n_rows, std_micro, allocated).
    """
    r = value_col.cast("long")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(r).alias("_s"),
        F.sum(r * r).alias("_ss"),
    )
    var = (
        (F.col("n_rows") * F.col("_ss") - F.col("_s") * F.col("_s"))
        .cast("double")
        / (F.col("n_rows") * F.col("n_rows")).cast("double")
    )
    weight = F.col("n_rows").cast("double") * F.sqrt(var)
    w = per.select(
        "stratum",
        "n_rows",
        F.floor(F.sqrt(var) * F.lit(1000000.0)).cast("long").alias(
            "std_micro"
        ),
        weight.alias("_w"),
    )
    tot = w.agg(
        F.sum("_w").alias("_tw"), F.sum("n_rows").alias("_tn")
    )
    shares = w.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_rows",
        "std_micro",
        # try_divide: an all-zero-variance input makes the weight
        # total 0 (no Neyman signal) — fall back to PROPORTIONAL
        # shares so the exact-sum contract survives the degenerate
        # input (ANSI-safe, the welch/auc try_divide posture)
        F.coalesce(
            F.floor(
                F.try_divide(
                    F.col("_w") * F.lit(float(budget)), F.col("_tw")
                )
                * F.lit(1000000.0)
            ).cast("long"),
            F.floor(
                (F.col("n_rows") * F.lit(budget) * F.lit(1000000))
                .cast("double")
                / F.col("_tn").cast("double")
            ).cast("long"),
        ).alias("_share_micro"),
    )
    base = shares.select(
        "stratum",
        "n_rows",
        "std_micro",
        (F.col("_share_micro") / F.lit(1000000)).cast("long").alias(
            "_base"
        ),
        (F.col("_share_micro") % F.lit(1000000)).alias("_frac"),
    )
    rem = base.agg(
        (F.lit(budget) - F.sum("_base")).cast("long").alias("_rem")
    )
    wrank = Window.partitionBy().orderBy(
        F.desc("_frac"), F.asc("stratum")
    )
    ranked = base.crossJoin(F.broadcast(rem)).withColumn(
        "_rk", F.row_number().over(wrank)
    )
    return ranked.select(
        "stratum",
        "n_rows",
        "std_micro",
        F.least(
            F.col("_base")
            + F.when(F.col("_rk") <= F.col("_rem"), 1).otherwise(0),
            F.col("n_rows"),
        ).cast("long").alias("allocated"),
    ).orderBy("stratum")


def greedy_set_cover(
    df: DataFrame,
    id_col: str,
    token_col: str,
    k: int = 8,
) -> DataFrame:
    """Greedy maximum-coverage selection (the 1-1/e-approximate
    submodular classic): pick k documents that together cover the most
    distinct tokens — the eval-set / demonstration-pool builder that
    prefers COMPLEMENTARY documents where top-k-by-quality picks
    near-duplicates.

    Each round: count every candidate's UNCOVERED tokens (one
    anti-join of the (doc, token) pairs against the covered-token set
    + one count), take the argmax with a smallest-id tiebreak, fold
    its tokens into the covered set (lazy localCheckpoint pins the
    round). Determinism is pure integer counting. O(k) rounds over the
    pair table; the covered set is bounded by the vocabulary, never
    the corpus.

    Returns (rank, id, new_tokens, covered_total) — covered_total is
    the running distinct-coverage after each pick.
    """
    pairs = df.select(
        F.col(id_col).alias("_id"), F.col(token_col).alias("_tok")
    ).distinct().localCheckpoint(eager=False)
    covered = pairs.select("_tok").where(F.lit(False))
    picks = None
    for r in range(k):
        gains = (
            pairs.join(covered, "_tok", "left_anti")
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_gain"))
        )
        if picks is not None:
            gains = gains.join(
                picks.select("_id"), "_id", "left_anti"
            )
        best = (
            gains.orderBy(F.desc("_gain"), F.asc("_id"))
            .limit(1)
            .select("_id", F.lit(r).alias("rank"), F.col("_gain").alias("new_tokens"))
            .localCheckpoint(eager=False)
        )
        picks = (
            best if picks is None else picks.unionByName(best)
        ).localCheckpoint(eager=False)
        covered = (
            covered.unionByName(
                pairs.join(best.select("_id"), "_id").select("_tok")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
    w = Window.partitionBy().orderBy("rank").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return picks.select(
        "rank",
        F.col("_id").alias(id_col),
        "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("covered_total"),
    ).orderBy("rank")
