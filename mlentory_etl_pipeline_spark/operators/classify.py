"""Supervised text classification and feature-encoding operators.

The reference pipeline routes documents through external model
inference for labeling (``QAInferenceEngine.py:118-175``) but ships no
trainable in-engine classifier; a 100 TB curation pipeline needs a
cheap, fully-distributed baseline classifier (quality/language/source
routing) and leakage-safe categorical encoders for downstream trainers.
Everything here is exact-integer arithmetic after one quantized-``ln``
table, so every step is engine-replicable and carries a hard DuckDB
oracle (the pagerank quantization precedent).

Scale posture (shared by all ops in this module):

- tokenization is a map-only ``split``/``explode`` (no Python UDFs);
- model state (per-class token log-likelihoods) is sparse — sized by
  |vocab seen with the class|, never densified to |vocab| x |classes|;
- scoring joins the sparse model on ``token`` (broadcastable when the
  vocab is bounded; shuffle hash join otherwise) and closes with one
  per-(doc, class) integer aggregation;
- the class count C is assumed bounded (routing labels), so per-doc
  x class fan-out is C-bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LOG_SCALE = 1_000_000


def _qlog(x: Column) -> Column:
    """floor(ln(x)·1e6) as BIGINT — the engine-portable log quantum."""
    return F.floor(F.log(x) * LOG_SCALE).cast("long")


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-only lowercase letter-run tokenizer: adds an exploded
    ``token`` column (empty runs dropped). ASCII letter runs so Java
    and RE2 regex semantics agree byte-for-byte."""
    return (
        df.select(
            "*",
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"[^a-z]+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .drop(text_col)
    )


def nb_train(
    train: DataFrame,
    label_col: str,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train a multinomial Naive Bayes model with add-one smoothing.

    Returns ``(token_loglik, class_stats, vocab)``:

    - ``token_loglik``: sparse ``(label, token, q_loglik)`` — only
      (class, token) pairs OBSERVED in training, where ``q_loglik =
      floor(ln((n_ct + 1) / (n_c + V))·1e6)``;
    - ``class_stats``: one row per class with ``q_prior =
      floor(ln(n_docs_c / n_docs)·1e6)`` and ``q_default =
      floor(ln(1 / (n_c + V))·1e6)`` (the unseen-token likelihood —
      what makes the sparse model complete without densifying);
    - ``vocab``: distinct training tokens (the scoring filter).

    All three are small relative to the corpus (vocab-, class-sized);
    the only corpus-sized shuffle is the (label, token) count, which is
    map-side combined.
    """
    toks = tokenize(train.select(label_col, text_col), text_col)
    tc = toks.groupBy(label_col, "token").agg(
        F.count(F.lit(1)).alias("n_ct")
    )
    vocab = tc.select("token").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v")).alias("vsz")
    class_totals = tc.groupBy(label_col).agg(F.sum("n_ct").alias("n_c"))
    doc_counts = train.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_docs_c")
    )
    total = train.agg(F.count(F.lit(1)).alias("n_docs"))
    class_stats = (
        # classes come from DOC counts (left join), so a class whose
        # training docs happen to have zero tokens still scores by its
        # prior instead of vanishing from the model
        doc_counts.join(class_totals, label_col, "left")
        .select(
            label_col, F.coalesce("n_c", F.lit(0)).alias("n_c"), "n_docs_c"
        )
        .crossJoin(F.broadcast(v_size))
        .crossJoin(F.broadcast(total))
        .select(
            label_col,
            "n_c",
            "v",
            _qlog(
                F.col("n_docs_c").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("q_prior"),
            # n_c + V = 0 only when the training corpus has NO tokens;
            # every doc then has t_d = 0, so the default is never
            # multiplied by a nonzero count — 0 keeps the score finite
            F.when(
                (F.col("n_c") + F.col("v")) > 0,
                _qlog(
                    F.lit(1.0) / (F.col("n_c") + F.col("v")).cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .alias("q_default"),
        )
    )
    token_loglik = tc.join(
        F.broadcast(class_stats.select(label_col, "n_c", "v")), label_col
    ).select(
        label_col,
        "token",
        _qlog(
            (F.col("n_ct") + 1).cast("double")
            / (F.col("n_c") + F.col("v")).cast("double")
        ).alias("q_loglik"),
    )
    return token_loglik, class_stats, vocab


def nb_predict(
    test: DataFrame,
    token_loglik: DataFrame,
    class_stats: DataFrame,
    vocab: DataFrame,
    id_col: str,
    label_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Score + argmax in exact integer arithmetic, sparsely.

    For class c and document d with in-vocab term frequencies tf_t:

        score(d, c) = q_prior_c + T_d · q_default_c
                      + Σ_{t: (c,t) observed} tf_t · (q_loglik_ct − q_default_c)

    where ``T_d = Σ tf_t`` — algebraically identical to the dense sum
    but touching only OBSERVED (class, token) pairs. Returns one row
    per test document: ``(id, <label_col>_true, pred, score)`` with a
    deterministic (score DESC, class ASC) argmax tie-break. Documents
    with zero in-vocab tokens fall back to the prior argmax.
    """
    toks = tokenize(test.select(id_col, text_col), text_col)
    doc_tf = (
        toks.join(vocab, "token")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_totals = (
        test.select(id_col)
        .join(
            doc_tf.groupBy(id_col).agg(F.sum("tf").alias("t_d")),
            id_col,
            "left",
        )
        .select(id_col, F.coalesce("t_d", F.lit(0)).alias("t_d"))
    )
    # sparse part: only classes that saw the token contribute a delta
    sparse = (
        doc_tf.join(
            token_loglik.join(
                F.broadcast(class_stats.select(label_col, "q_default")),
                label_col,
            ),
            "token",
        )
        .groupBy(id_col, label_col)
        .agg(
            F.sum(
                F.col("tf") * (F.col("q_loglik") - F.col("q_default"))
            ).alias("delta")
        )
    )
    scored = (
        doc_totals.crossJoin(
            F.broadcast(class_stats.select(label_col, "q_prior", "q_default"))
        )
        .join(sparse, [id_col, label_col], "left")
        .select(
            id_col,
            F.col(label_col).alias("_cls"),
            (
                F.col("q_prior")
                + F.col("t_d") * F.col("q_default")
                + F.coalesce("delta", F.lit(0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("_cls"))
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, F.col("_cls").alias("pred"), "score")
    )
    return test.select(id_col, F.col(label_col).alias("label_true")).join(
        best, id_col
    )


def nb_confusion(
    docs: DataFrame,
    label_col: str,
    id_col: str,
    text_col: str = "text",
    train_frac_hex: str = "cd",
) -> DataFrame:
    """End-to-end NB eval: md5-bucket train/test split (first two md5
    hex chars of the id < ``train_frac_hex`` ≈ 80% train — the
    hash_split idiom), train on train, score the held-out test set,
    return the (label_true, pred, n_docs) confusion matrix."""
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    train = docs.where(bucket < train_frac_hex)
    test = docs.where(bucket >= train_frac_hex)
    token_loglik, class_stats, vocab = nb_train(train, label_col, text_col)
    pred = nb_predict(
        test, token_loglik, class_stats, vocab, id_col, label_col, text_col
    )
    return (
        pred.groupBy("label_true", "pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("label_true", "pred")
    )


def target_encoding_loo(
    df: DataFrame,
    key_cols: list[str],
    label: Column,
    id_cols: list[str],
    smoothing: int = 20,
    out_col: str = "te_loo",
) -> DataFrame:
    """Leakage-safe leave-one-out target encoding with prior smoothing.

    For a row in category g with binary label y:

        te = (sum_y(g) − y + m·p0) / (n(g) − 1 + m),   p0 = global rate

    — the row's own label is EXCLUDED (the standard leakage guard for
    target statistics fed to a trainer), shrunk toward the global prior
    with strength ``m``. Closed in exact rational arithmetic: with
    p0 = P/N, te = ((A − y)·N + m·P) / (N·(n − 1 + m)), integer
    numerator/denominator in DECIMAL(38,0), ONE divide to double,
    round 6. Singleton categories (n=1) with m=0 would be 0/0 —
    try_divide returns NULL (documented degenerate contract).

    Scale: one map-side-combined groupBy over key_cols plus a broadcast
    of the (category-count-sized) stats back onto the fact — no window,
    no self-join.
    """
    y = F.when(label, F.lit(1)).otherwise(F.lit(0))
    base = df.select(*id_cols, *key_cols, y.alias("_y"))
    stats = base.groupBy(*key_cols).agg(
        F.sum("_y").alias("_a"), F.count(F.lit(1)).alias("_n")
    )
    glob = base.agg(
        F.sum("_y").alias("_p"), F.count(F.lit(1)).alias("_nn")
    )
    joined = base.join(F.broadcast(stats), key_cols).crossJoin(
        F.broadcast(glob)
    )
    num = (
        (F.col("_a") - F.col("_y")).cast("decimal(38,0)")
        * F.col("_nn").cast("decimal(38,0)")
        + F.lit(smoothing) * F.col("_p").cast("decimal(38,0)")
    )
    den = F.col("_nn").cast("decimal(38,0)") * (
        F.col("_n") - 1 + F.lit(smoothing)
    ).cast("decimal(38,0)")
    return joined.select(
        *id_cols,
        *key_cols,
        F.col("_y").alias("label"),
        F.round(
            F.try_divide(num.cast("double"), den.cast("double")), 6
        ).alias(out_col),
    )


def feature_hashing(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    dims: int = 64,
) -> DataFrame:
    """The hashing trick: tokens → md5-hash buckets mod ``dims`` →
    per-(doc, bucket) term counts — the fixed-width, vocabulary-free
    featurizer (Weinberger et al. 2009) that turns unbounded token
    space into a bounded sparse vector without a driver-side vocab
    broadcast. Engine-portable bucket = 60-bit md5 prefix mod dims
    (the HLL idiom, sketches.py:284). Output is the exploded sparse
    form ``(id, bucket, tf)`` — the join-friendly layout at lake scale
    (densify per-consumer, not in the engine).

    Scale: map-only fan-out then one (id, bucket) map-side-combined
    aggregation; output rows ≤ |docs| · dims.
    """
    toks = tokenize(df.select(id_col, text_col), text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10)
        .cast("long")
        % dims
    ).alias("bucket")
    return (
        toks.select(id_col, bucket)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def dawid_skene_hard(
    ann: DataFrame,
    item_col: str = "item",
    annotator_col: str = "annotator",
    label_col: str = "label",
    rounds: int = 2,
) -> DataFrame:
    """Crowd-label aggregation a la Dawid-Skene (1979), hard-EM
    variant — the label-quality primitive behind RLHF preference and
    annotation pipelines: infer each item's consensus label AND each
    annotator's confusion behaviour jointly, so a consistently-wrong
    annotator is outvoted even when raw majority vote ties or flips.

    Hard (classification) EM keeps every step engine-exact:

    - init: majority vote per item (count desc, label asc tiebreak);
    - M: confusion counts n[j][c][r] and priors from the current hard
      assignment — pure integer counting with Laplace +1 smoothing
      over the L observed labels, so every probability is the rational
      (cnt+1)/(tot+L);
    - E: score(i,c) = qlog(prior_c) + sum_j qlog(p[j][c][r_ij]) with
      qlog(x) = floor(1e6*ln(x)) on identical rationals — integer
      sums, argmax by (score desc, label asc). Both engines evaluate
      ln on the same double, so assignments replay bit-for-bit (the
      fellegi_sunter quantization precedent).

    Scale posture: per round, ONE item-keyed join + aggregation over
    the annotations table; model state (annotators x L x L dense
    confusion grid + L priors) is metadata-sized and broadcast; the
    per-item argmax window partitions by item. Plan growth is
    O(rounds) with lazy localCheckpoint pinning between rounds.

    Returns (item, label, score_micro) — consensus label per item and
    its integer micro-log posterior score from the final round.
    """
    a = ann.select(
        F.col(item_col).alias("_i"),
        F.col(annotator_col).alias("_j"),
        F.col(label_col).alias("_r"),
    ).localCheckpoint(eager=False)
    labels = a.select(F.col("_r").alias("_c")).distinct()
    annotators = a.select("_j").distinct()
    consts = a.agg(
        F.countDistinct("_r").alias("_L"),
        F.countDistinct("_i").alias("_n_items"),
    )

    votes = a.groupBy("_i", "_r").agg(F.count(F.lit(1)).alias("_cnt"))
    w_item = Window.partitionBy("_i").orderBy(
        F.desc("_cnt"), F.asc("_r")
    )
    assign = (
        votes.withColumn("_rn", F.row_number().over(w_item))
        .where(F.col("_rn") == 1)
        .select("_i", F.col("_r").alias("_c"))
        .localCheckpoint(eager=False)
    )

    score_col = None
    for _ in range(rounds):
        conf = a.join(assign, "_i").groupBy(
            a["_j"].alias("_j"), "_c", a["_r"].alias("_r")
        ).agg(F.count(F.lit(1)).alias("_cnt"))
        tot = conf.groupBy("_j", "_c").agg(F.sum("_cnt").alias("_tot"))
        dense = (
            annotators.crossJoin(labels)
            .crossJoin(labels.select(F.col("_c").alias("_r")))
            .join(conf, ["_j", "_c", "_r"], "left")
            .join(tot, ["_j", "_c"], "left")
            .crossJoin(F.broadcast(consts))
            .select(
                "_j",
                "_c",
                "_r",
                _qlog(
                    (F.coalesce(F.col("_cnt"), F.lit(0)) + 1).cast(
                        "double"
                    )
                    / (
                        F.coalesce(F.col("_tot"), F.lit(0))
                        + F.col("_L")
                    ).cast("double")
                ).alias("_q"),
            )
        )
        prior = (
            labels.join(
                assign.groupBy("_c").agg(
                    F.count(F.lit(1)).alias("_pc")
                ),
                "_c",
                "left",
            )
            .crossJoin(F.broadcast(consts))
            .select(
                "_c",
                _qlog(
                    (F.coalesce(F.col("_pc"), F.lit(0)) + 1).cast(
                        "double"
                    )
                    / (F.col("_n_items") + F.col("_L")).cast("double")
                ).alias("_pq"),
            )
        )
        scores = (
            a.join(F.broadcast(dense), ["_j", "_r"])
            .groupBy("_i", "_c")
            .agg(F.sum("_q").alias("_s"))
            .join(F.broadcast(prior), "_c")
            .select(
                "_i", "_c", (F.col("_s") + F.col("_pq")).alias("_s")
            )
        )
        w_score = Window.partitionBy("_i").orderBy(
            F.desc("_s"), F.asc("_c")
        )
        assign = (
            scores.withColumn("_rn", F.row_number().over(w_score))
            .where(F.col("_rn") == 1)
            .select("_i", "_c", "_s")
            .localCheckpoint(eager=False)
        )
        score_col = "_s"

    out = assign.select(
        F.col("_i").alias(item_col),
        F.col("_c").alias(label_col),
        *([F.col("_s").alias("score_micro")] if score_col else []),
    )
    return out.orderBy(item_col)
