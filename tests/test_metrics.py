"""Observation-based metrics: computed inside the existing action (no
extra job), correct values, and the phase timer's report shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.metrics import PhaseTimer, observed


def test_observed_metrics_no_extra_job(spark):
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    inst, obs = observed(
        df,
        "m",
        F.sum("id").alias("id_sum"),
        null_count_cols=("v",),
    )
    # one action drives both the result and the metrics
    n = inst.where(F.col("id") >= 0).count()
    assert n == 1000
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["id_sum"] == 499500
    assert got["null_v"] == 100


def test_observed_collects_filter_pass_rate_in_one_pass(spark):
    # count_rows=False: only the caller's metrics, here a row count and
    # a filter pass count, collected by the one action that keeps rows
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    inst, obs = observed(
        df,
        "quality",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("v") >= 50.0, 1).otherwise(0)).alias("passed"),
        count_rows=False,
    )
    kept = inst.where(F.col("v") >= 50.0).count()
    assert kept == 50
    m = obs.get
    assert m["rows"] == 100 and m["passed"] == 50


def test_observed_through_write(spark, tmp_path):
    # metrics also fire when the action is a sink write — the
    # load-pipeline use case (count what was merged without re-scanning)
    df, obs = observed(spark.range(256).toDF("id"), "w")
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    assert obs.get["n_rows"] == 256


def test_phase_timer_report(spark):
    t = PhaseTimer()
    with t.phase("extract"):
        pass
    with t.phase("load"):
        pass
    with t.phase("load"):  # accumulates
        pass
    rep = t.report()
    assert "extract took" in rep and "load took" in rep
    assert set(t.timings) == {"extract", "load"}


def test_kneser_ney_probabilities_sum_to_one_per_context(spark):
    from mlentory_etl_pipeline_spark.operators.textstats import (
        kneser_ney_bigram_lm,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a b c a"),
            (3, "b c b a a"),
        ],
        "doc_id long, text string",
    )
    rows = kneser_ney_bigram_lm(docs).collect()
    by_ctx = {}
    for r in rows:
        by_ctx.setdefault(r.v, 0.0)
        by_ctx[r.v] += r.p_kn
        assert 0.0 < r.p_kn < 1.0
    # interpolated KN is a proper distribution over SEEN continuations
    # plus backoff mass spread over seen types; since every (v, w)
    # type with the continuation dist restricted to seen bigrams of v
    # covers n1w/n1tot of the backoff mass, the per-context total is
    # <= 1 and equals 1 when v's seen continuations cover all types
    for v, s in by_ctx.items():
        assert s <= 1.0 + 1e-5, (v, s)


def test_grpo_advantages_standardize_within_group(spark):
    from pyspark.sql import functions as F
    from mlentory_etl_pipeline_spark.operators.preference import (
        group_relative_advantages,
    )

    rows = [(1, "g1", 10), (2, "g1", 20), (3, "g1", 30),
            (4, "g2", 5), (5, "g2", 5), (6, "g3", 7)]
    df = spark.createDataFrame(rows, "id long, g string, r long")
    got = {
        r.id: r.advantage
        for r in group_relative_advantages(
            df, "g", F.col("r"), keep_cols=("id",)
        ).collect()
    }
    # g1: mean 20, population std sqrt(200/3); advantages symmetric
    assert got[2] == 0.0
    assert got[1] is not None and abs(got[1] + got[3]) < 1e-9
    # zero-variance and singleton groups -> NULL
    assert got[4] is None and got[5] is None and got[6] is None


def test_best_of_n_curve_monotone_and_exact_max(spark):
    from pyspark.sql import functions as F
    from mlentory_etl_pipeline_spark.operators.preference import (
        best_of_n_curve,
    )

    # rewards 1..4 uniform: E[max_1] = 2.5; E[max_n] increases in n
    # and is bounded by the max reward
    rows = [("g", v) for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "g string, r long")
    got = {r.n: r.expected_max for r in best_of_n_curve(df, "g", F.col("r")).collect()}
    assert abs(got[1] - 2.5) < 1e-5
    prev = 0.0
    for n in (1, 2, 4, 8, 16):
        assert prev <= got[n] <= 4.0
        prev = got[n]
    # E[max_2] for uniform{1,2,3,4}: sum x*((F^2)-(F-)^2)/16
    # = (1*1 + 2*(9-1)... ) computed: (1 + 2*3 + 3*5 + 4*7)/16 = 3.125
    assert abs(got[2] - 3.125) < 1e-5


def test_dpo_pair_mining_tiebreaks_and_margin(spark):
    from pyspark.sql import functions as F
    from mlentory_etl_pipeline_spark.operators.preference import (
        dpo_pair_construction,
    )

    rows = [
        ("u1", 1, 10), ("u1", 2, 10), ("u1", 3, 5),   # tie on max -> id 1
        ("u2", 4, 7), ("u2", 5, 7),                    # zero margin -> dropped
        ("u3", 6, 9),                                  # singleton -> dropped
    ]
    df = spark.createDataFrame(rows, "g string, id long, r long")
    got = dpo_pair_construction(df, "g", "id", F.col("r"), min_margin=1).collect()
    assert len(got) == 1
    r = got[0]
    assert r.g == "u1" and r.chosen_id == 1 and r.rejected_id == 3
    assert r.margin == 5
