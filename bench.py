#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
a compact headline JSON as the FINAL stdout line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "cold_total": N, "streaming": {...}, "streaming_total": N}

Full detail (cold per-query, SCD2 scenarios, the ``EXTENDED_QUERIES``
sweep) is written to ``BENCH_DETAIL.json`` next to this file, NOT to
stdout — the driver's tail capture has a bounded buffer, and r4's
single giant line got truncated from the front, losing the official
headline. The headline is the only JSON line on stdout and is kept
small enough (<1 KB) to always survive the tail.

Methodology: each query is executed twice and the SECOND run is the
reported number; the first-run times are kept under ``cold_queries``
for transparency. The first execution of a plan shape in a fresh JVM
is dominated by one-time costs that amortize to zero on any long-lived
cluster (C2 JIT of interpreted HOF eval paths, codegen compilation,
parquet footer caching) — measured 5.1 s cold vs 0.4 s steady for the
minhash pipeline on identical data. Steady-state is the number that
predicts 100 TB throughput; cold total is the number that predicts a
one-off local run.

Each query is materialized via count() (results stay distributed — no
driver collect of large outputs).
"""

from __future__ import annotations

import json
import os
import re
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mlentory_etl_pipeline_spark.plans.queries import REGISTRY
from mlentory_etl_pipeline_spark.session import get_spark
from perfbench.layers import descendants, proc_cpu_s


# Extended (non-headline) coverage: one steady-state timing per
# newer operator family. Kept OUT of headline_total so the
# round-over-round comparison stays apples-to-apples; additive
# evidence that the newer families hold the same perf discipline.
EXTENDED_QUERIES = (
    "record_linkage_blocked",
    "setsim_prefix_jaccard",
    "dsir_importance_weights",
    "graph_triangle_counts",
    "histogram_quantile_sketch",
    "agg_state_incremental_rollup",
    "stratified_split_counts",
    "dedup_span_removal",
    "semdedup_embeddings",
    "zorder_orders_layout",
    "compaction_plan_files",
    "bloom_prune_semi_join",
    "mg_frequent_tokens",
    "nb_quality_bootstrap_scores",
    "graph_kcore_customers",
    "bpe_train_merges",
    "bootstrap_ci_avg_quantity",
    "kl_domain_drift_by_source",
    "markov_event_transitions",
    "rocchio_label_confusion",
    "ivm_join_delta",
    "ewma_user_value",
    "trend_value_drift_by_type",
    "schema_evolution_union",
    "auc_event_value_purchase",
    "graph_label_propagation",
    "dp_noisy_event_counts",
    "range_partition_plan",
    "cohort_retention_weekly",
    "ab_welch_value_test",
    "pmi_top_collocations",
    "corr_matrix_lineitem",
    "golden_record_users",
    "kaplan_meier_churn",
    "zscore_volume_bursts",
    "cusum_value_changepoint",
    "copurchase_supplier_pairs",
    "welch_value_by_weekday",
    "privacy_k_anonymity_audit",
    "oov_rate_by_source",
    "quantile_normalize_scores",
    "provenance_reified_export",
    "scd2_reified_current_export",
    "http_chunk_sink_receipts",
    # cogroup_reconcile_order_totals is gate-verified but NOT
    # benched: cogrouped applyInPandas pays one Python call per
    # key (its documented price as a semantics surface), which
    # at sf0.1's 150k orders is a per-key-overhead measurement,
    # not an engine throughput number.
    "nlp_sectionize_udtf",
    "skew_join_key_profile",
    "join_size_estimate",
    "benford_price_audit",
    "functional_dependency_audit",
    "mutual_information_pairs",
    "turtle_serialization",
    "jsonld_serialization",
    "dedup_minhash_recall_audit",
    "hll_error_audit",
    "cms_error_audit",
    "ab_mann_whitney_values",
    "ks_value_drift_halves",
    "gini_order_value_by_priority",
    "jackknife_source_mean_chars",
    "acf_daily_event_counts",
    "isotonic_purchase_rate_by_cohort",
    "rfm_customer_segments",
    "ntriples_datasource_roundtrip",
    "embedding_gram_matrix",
    "embedding_pca_spectrum",
    "ols_value_on_hour_dom",
    "transition_latency_events",
    "association_rules_suppliers",
    "hybrid_rrf_search",
    "weekday_seasonality_events",
    "graph_ppr_related_suppliers",
    "sequence_trigrams_events",
    "training_labels_churn",
    "shannon_diversity_users",
    "logrank_churn_payers",
    "cohort_ltv_weekly",
    "link_prediction_suppliers",
    "rake_keywords_docs",
    "seasonal_adjusted_bursts_events",
    "skyline_parts_price_size",
    "weighted_percentiles_price",
    "attribution_models_purchases",
    "als_rank1_supplier_factors",
    "fellegi_sunter_part_weights",
    "variant_props_rollup",
    "dbscan_embedding_clusters",
    "dawid_skene_consensus_labels",
    "unigram_lm_tokenizer_round",
    "watermark_greenlist_detection",
    "kneser_ney_bigram_lm",
    "kv_prefix_sharing_docs",
    "grpo_group_advantages",
    "best_of_n_reward_curve",
    "dpo_pair_mining",
    "bcubed_simhash_vs_exact",
    "kcenter_greedy_coreset",
    "late_interaction_maxsim",
    "injection_phrase_audit",
    "token_budget_waterfill_sources",
    "krippendorff_alpha_langs",
    "bucketed_colocated_join",
    "slice_finder_return_rate",
    "vocab_overlap_sources",
    "packing_efficiency_audit",
    "ngram_novelty_val_vs_train",
    "tv_distance_event_mix",
    "capture_recapture_corpus_size",
    "shapley_source_vocab_value",
    "monroe_log_odds_sources",
    "mcnemar_paired_classifiers",
    "jsd_source_unigrams",
    "neyman_allocation_event_types",
    "greedy_set_cover_docs",
    "ab_sample_size_planning",
    "trimmed_mean_event_values",
    "effect_size_halves_by_type",
    "runs_test_shuffle_order",
    "spearman_value_hour_by_type",
)

# Streaming bucket: the stateful drains, timed twice each.
STREAMING_QUERIES = (
    "streaming_stateful_sessions",
    "streaming_dedup_watermark",
    "streaming_stateful_running_agg",
    "agg_state_stream_rollup",
    "streaming_attribution_join",
)


def scd2_scenarios(spark, sf_dir: str) -> dict[str, float]:
    """The versioned-MERGE scenario timings promised in BASELINE.md:
    fresh load, idempotent re-load, ~10%-changed re-load (events→triples
    batch at the bench scale factor). Each number covers the full V2–V7
    merge + store materialization (localCheckpoint + table counts)."""
    import time as _time

    from pyspark.sql import functions as F

    from mlentory_etl_pipeline_spark.operators import versioned_store as vs
    from mlentory_etl_pipeline_spark.plans.queries import _events_as_triples

    def _fold(state, batch):
        t0 = _time.perf_counter()
        out = vs.materialized(vs.merge_batch(state, batch), eager=True)
        out.triplet.count() + out.extraction_info.count() + out.version_range.count()
        return out, round(_time.perf_counter() - t0, 3)

    batch = _events_as_triples(spark, sf_dir)
    timings: dict[str, float] = {}
    s, timings["scd2_fresh_load"] = _fold(vs.empty_state(spark), batch)
    s, timings["scd2_idempotent_reload"] = _fold(s, batch)
    changed = batch.withColumn(
        "object",
        F.when(
            F.crc32(F.col("subject")) % 10 == 0, F.concat(F.col("object"), F.lit("_v2"))
        ).otherwise(F.col("object")),
    ).withColumn("extraction_time", F.col("extraction_time") + F.expr("INTERVAL 1 DAY"))
    _, timings["scd2_changed_reload"] = _fold(s, changed)
    return timings


def _proc_stat_snapshot() -> list[int] | None:
    """First /proc/stat cpu line (user nice system idle iowait irq
    softirq steal ...), or None off-Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return [int(x) for x in parts[1:]]
    except (OSError, ValueError, IndexError):
        return None


def _bench_cpu_s(jvm_pid: int | None) -> tuple[float, float]:
    """CPU seconds used so far by this process (its own getrusage) and
    by the JVM with its Python workers (/proc; reaped workers count
    through the JVM's cutime)."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    jvm = 0.0
    for pid in [jvm_pid, *descendants(jvm_pid)] if jvm_pid else []:
        try:
            jvm += proc_cpu_s(pid, children=True)
        except OSError:
            pass
    return ru.ru_utime + ru.ru_stime, jvm


def _load_telemetry(
    start: list[int] | None,
    end: list[int] | None,
    cpu_start: tuple[float, float],
    cpu_end: tuple[float, float],
) -> dict:
    """Machine-load deltas over the bench run (VERDICT r10 №3): a
    co-tenant window on the bench box is indistinguishable from a real
    regression after the fact unless the artifact itself records the
    competing load. steal_pct > ~1 or busy_other unexpectedly high
    flags a contested run. ``busy_other_pct`` is ``busy_pct`` minus the
    bench's own share (this process plus its JVM and workers) of the
    same /proc/stat window."""
    out: dict = {
        "self_cpu_s": round(cpu_end[0] - cpu_start[0], 2),
        "jvm_cpu_s": round(cpu_end[1] - cpu_start[1], 2),
    }
    try:
        out["loadavg_end"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    if start and end and len(start) >= 8 and len(end) >= 8:
        d = [e - s for s, e in zip(start, end)]
        tot = sum(d)
        if tot > 0:
            out["steal_pct"] = round(100.0 * d[7] / tot, 2)
            out["busy_pct"] = round(100.0 * (tot - d[3] - d[4]) / tot, 2)
            own_ticks = (sum(cpu_end) - sum(cpu_start)) * os.sysconf("SC_CLK_TCK")
            out["bench_busy_pct"] = round(100.0 * own_ticks / tot, 2)
            out["busy_other_pct"] = round(
                max(0.0, out["busy_pct"] - out["bench_busy_pct"]), 2
            )
            out["iowait_pct"] = round(100.0 * d[4] / tot, 2)
    return out


def main():
    unknown = [n for n in (*EXTENDED_QUERIES, *STREAMING_QUERIES) if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    stat_start = _proc_stat_snapshot()
    cpu_start = _bench_cpu_s(None)  # before the JVM exists
    try:
        loadavg_start = round(os.getloadavg()[0], 2)
    except OSError:
        loadavg_start = None
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("mlentory-bench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_pid = jvm_proc.pid if jvm_proc is not None else None

    names = [n for n, q in REGISTRY.items() if q.headline]

    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, sf_dir).count()
        cold[name] = round(time.perf_counter() - t0, 3)
    for name in names:
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)

    scenarios = scd2_scenarios(spark, sf_dir)

    # extended timings COLLECT the result instead of count(): several
    # of these queries produce aggregate-only outputs whose expensive
    # value expressions count() would column-prune away (headline keeps
    # the count() methodology for round-over-round comparability).
    extended: dict[str, float] = {}
    for name in EXTENDED_QUERIES:
        REGISTRY[name].spark_fn(spark, sf_dir).collect()  # warm-up
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, sf_dir).collect()
        extended[name] = round(time.perf_counter() - t0, 3)

    # Streaming bucket: micro-batch drain cost of the stateful
    # operators (VERDICT r4 №6 — make drain-cost regressions visible).
    # Same warm/cold methodology as the headline: r5 timed each drain
    # once on the claim "cold ≈ warm for a drain", which measurement
    # falsified — the FIRST stateful drain in a session pays ~3.3 s of
    # data-independent engine init (a 3-row drain costs 6.0 s cold vs
    # 2.7 s warm), and landing re-writes are page-cache warm on rerun.
    # The reported bucket number is min(run1, run2) per drain — by the
    # time the bucket runs, the session has executed 300+ queries and
    # single-run times carry ±1.5 s co-tenancy noise that would mask
    # real drain-cost regressions; min-of-two is the standard
    # steady-state estimator under one-sided noise. Both raw runs stay
    # visible (``streaming_run1``/``streaming_run2`` in the detail).
    streaming: dict[str, float] = {}
    streaming_run1: dict[str, float] = {}
    streaming_run2: dict[str, float] = {}
    for name in STREAMING_QUERIES:
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, sf_dir).count()
        streaming_run1[name] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, sf_dir).count()
        streaming_run2[name] = round(time.perf_counter() - t0, 3)
        # METHODOLOGY (since r6; ADVICE r6): the bucket reports
        # min(run1, run2). BENCH artifacts from r1-r5 recorded a
        # SINGLE run, so cross-round comparisons of streaming /
        # streaming_total spanning r6 are not apples-to-apples —
        # compare streaming_cold_total (= run1, the old
        # semantics), or per-run numbers in BENCH_DETAIL.json.
        streaming[name] = min(streaming_run1[name], streaming_run2[name])

    # ANN quality telemetry in the benched run (VERDICT r8 №7): the
    # trained-quantizer recall audit at THIS bench's scale factor, so
    # the driver-visible artifact carries the quality numbers (not just
    # times) round-over-round — the frozen-capacity decay of r7/r8 was
    # only visible once these were measured at sf0.1. Detail-only:
    # quality isn't a time and must not perturb headline_total.
    ann_recall: dict[str, float | str] = {}
    if "ann_trained_recall_audit" in REGISTRY:
        # Guarded (ADVICE r9): the audit is ~70 s of driver-coordinated
        # training — a failure here must not destroy the timing
        # artifact already measured above.
        t0 = time.perf_counter()
        try:
            for row in REGISTRY["ann_trained_recall_audit"].spark_fn(
                spark, sf_dir
            ).collect():
                ann_recall[row["method"]] = float(row["recall_at_5"])
        except Exception as e:  # noqa: BLE001 - telemetry must not kill bench
            ann_recall["error"] = str(e)[:500]
        ann_recall["_audit_sec"] = round(time.perf_counter() - t0, 3)

    headline = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cold_total": round(sum(cold.values()), 3),
        "streaming": streaming,
        "streaming_total": round(sum(streaming.values()), 3),
        "streaming_cold_total": round(sum(streaming_run1.values()), 3),
        # per-method trained-ANN recall@5 at THIS bench's sf, in the
        # driver-parsed line itself (VERDICT r9 №7) — the quality
        # number rides the same artifact as the timings.
        "ann_recall": ann_recall,
        # machine-load telemetry over the whole run (VERDICT r10 №3,
        # additions-only): lets a noise window be adjudicated from the
        # artifact instead of re-litigated round-over-round.
        "load": {
            **({"loadavg_start": loadavg_start} if loadavg_start is not None else {}),
            **_load_telemetry(
                stat_start, _proc_stat_snapshot(), cpu_start, _bench_cpu_s(jvm_pid)
            ),
        },
    }
    detail = {
        "metric": "bench_detail",
        "sf": sf,
        "cold_queries": cold,
        "ann_recall": ann_recall,
        "scenarios": scenarios,
        "extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        "streaming": streaming,
        "streaming_run1": streaming_run1,
        "streaming_run2": streaming_run2,
        **headline,
    }
    detail["metric"] = "bench_detail"
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # Driver-vs-local divergence, machine-readable (VERDICT r7 №3):
    # a builder-box run (SPARK_GRAFT_BENCH_LOCAL=1) stamps its warm
    # numbers into `local_warm`; any other run (the driver's) carries
    # the previous block forward untouched, so the shipped artifact
    # always holds BOTH the driver's numbers (top level) and the last
    # same-code local run to ratio them against.
    try:
        with open(detail_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    if os.environ.get("SPARK_GRAFT_BENCH_LOCAL") == "1":
        # BEST-of-runs: this box hosts an external co-tenant (r8
        # measured the same code at 13.2 s and 72.4 s warm back to
        # back, the second with warm > cold — a load spike, not the
        # plan). The achievable floor is the number that attributes
        # driver-vs-local divergence, so a local run only replaces the
        # block when its warm total is lower; every run's total is
        # appended to `history` so the noise band itself is recorded.
        # The block is stamped with the HEAD commit sha (ADVICE r8):
        # after a code change the old floor no longer describes the
        # shipped code, so a sha mismatch RESETS the best-of (the
        # current run becomes the floor even if slower) while history
        # keeps accumulating across shas. Run the local bench from a
        # committed tree — HEAD is the stamp, dirty-tree edits are not
        # visible to it.
        def _git_sha():
            try:
                import subprocess

                repo = os.path.dirname(os.path.abspath(__file__))
                sha = subprocess.check_output(
                    ["git", "rev-parse", "--short", "HEAD"],
                    cwd=repo,
                    text=True,
                ).strip()
                dirty = subprocess.check_output(
                    ["git", "status", "--porcelain"], cwd=repo, text=True
                ).strip()
                # A dirty tree gets a distinct stamp so uncommitted
                # edits also reset the floor (ADVICE r9).
                return sha + ("-dirty" if dirty else "")
            except Exception:
                return None

        old = prev.get("local_warm", {})
        sha = _git_sha()
        # sha unavailable → NOT same-code (ADVICE r9): without a stamp
        # we cannot prove the stale floor still describes this tree, so
        # always reset rather than let an old best-of persist.
        same_code = sha is not None and old.get("git_sha") == sha
        hist = list(old.get("history", []))[-19:] + [headline["value"]]
        if (
            not old
            or not same_code
            or headline["value"] < old.get("value", float("inf"))
        ):
            detail["local_warm"] = {
                "value": headline["value"],
                "queries": timings,
                "streaming_total": headline["streaming_total"],
                "streaming": streaming,
                "scenarios": scenarios,
                "sf": sf,
                "git_sha": sha,
                "history": hist,
            }
        else:
            detail["local_warm"] = {**old, "history": hist}
    elif "local_warm" in prev:
        detail["local_warm"] = prev["local_warm"]
    # stage_timings (scripts/audit.py stages) is likewise a sidecar
    # block a plain bench run must not erase
    if "stage_timings" in prev:
        detail["stage_timings"] = prev["stage_timings"]
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    # The compact headline is the ONLY JSON line on stdout — whatever
    # line the driver's tail parser picks, it gets this one; the full
    # detail lives in BENCH_DETAIL.json (cited by the round log).
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
