#!/usr/bin/env python3
"""Registry audits: plan shape, measured shuffle volume, per-node
timings, and the determinism and host-timezone invariance checks.

    python scripts/audit.py {plan,shuffle,stages,determinism,tz} [sf_dir] [name ...]

=============  ==========  ===================  ==========================
audit          default sf  default queries      artifact
=============  ==========  ===================  ==========================
plan           sf0.001     whole registry       PLAN_AUDIT.json
shuffle        sf0.01 [*]  bench headliners     SHUFFLE_AUDIT.json
stages         sf0.1 [*]   four cost centers    BENCH_DETAIL.json
                                                ``stage_timings``
determinism    sf0.001     whole registry       DETERMINISM_AUDIT.json
tz             sf0.001     whole registry       TZ_AUDIT.json
=============  ==========  ===================  ==========================

[*] ``$SPARK_GRAFT_SF_DIR`` overrides the default, as in ``bench.py``.

Three shared pieces carry every audit:

- :func:`sweep` builds each query once and records a build or audit
  error as that query's row instead of aborting;
- :func:`walk` yields every node of the FINAL adaptive physical plan
  once (through ``AdaptiveSparkPlan`` and ``QueryStage`` wrappers) with
  its SQL metrics, the numbers the Spark UI shows; ``shuffle`` and
  ``stages`` both read it;
- :func:`invariance` runs the whole registry in two fresh subprocesses
  whose environment and conf differ only in ways that must not change
  a result, and diffs canonical result hashes.

Every audit exits nonzero on a failure: a cartesian product, an
unallowlisted global window, a complex-typed or duplicate output
column, a build error, any spill, or a divergence between passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from py4j.protocol import Py4JError  # noqa: E402
from pyspark.sql.types import ArrayType, MapType, StructType  # noqa: E402

from mlentory_etl_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from mlentory_etl_pipeline_spark.session import get_spark  # noqa: E402

sys.path.insert(0, os.path.join(REPO, "scripts"))
from check_correctness import spark_canonical_sorted_rows  # noqa: E402

TESTDATA = "/root/testdata"  # the scale-factor directories of TESTDATA.md


def sweep(spark, sf_dir: str, names: list[str], audit_one):
    """Build each named query once at ``sf_dir`` and yield
    ``(name, row, secs)``: ``row`` is ``audit_one(name, df)``, or
    ``{"error": ...}`` when the build or the audit raised, so one bad
    query is recorded and the sweep goes on."""
    for name in names:
        t0 = time.perf_counter()
        try:
            row = audit_one(name, REGISTRY[name].spark_fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - record, don't abort the sweep
            row = {"error": f"{type(e).__name__}: {e}"[:200]}
        yield name, row, time.perf_counter() - t0


# -------------------------------------------------------------------
# plan walker
# -------------------------------------------------------------------


def _children(node) -> list:
    kids = [node.children().apply(i) for i in range(node.children().size())]
    # AQE wrappers hide their subtree: AdaptiveSparkPlanExec.executedPlan
    # and QueryStageExec.plan
    for meth in ("plan", "executedPlan"):
        try:
            child = getattr(node, meth)()
        except Py4JError:  # no such method: not a wrapper
            continue
        if child is not None and hasattr(child, "nodeName"):
            kids.append(child)
    return kids


def walk(df):
    """Yield ``(node, metrics)`` for every node of ``df``'s final
    physical plan, once per SparkPlan id (a guard: a subtree shared by
    two parents would otherwise be counted twice); ``metrics`` maps
    SQL-metric name to value. Run the df's own execution first
    (:func:`execute`) or the metrics read 0."""
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nid = int(node.id())
        if nid in seen:
            continue
        seen.add(nid)
        mets = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            mets[kv._1()] = kv._2().value()
        yield node, mets
        stack.extend(_children(node))


def execute(df) -> int:
    """Run ``df``'s OWN query execution and return its row count
    (``df.count()`` would plan a separate execution and leave the
    metrics :func:`walk` reads empty)."""
    return df._jdf.queryExecution().toRdd().count()


# -------------------------------------------------------------------
# plan: shape and output schema, on one build per query
# -------------------------------------------------------------------

# Queries whose plan legitimately contains a partition-less window,
# each with the reason its input is BOUNDED (never corpus-sized).
# Spark 4's EliminateWindowPartitions strips foldable partition keys,
# so even deliberate partitionBy(lit(0)) bounded windows land here.
GLOBAL_WINDOW_ALLOWED: dict[str, str] = {
    "bootstrap_ci_avg_quantity": "ranks the B=64 replica means",
    "token_budget_waterfill_sources": (
        "rank/prefix-sum windows over ONE ROW PER DOMAIN "
        "(|sources| rows - metadata; the only corpus pass is the "
        "per-domain token sum aggregation)"
    ),
    "greedy_set_cover_docs": (
        "cumulative-coverage window over ONE ROW PER PICK (k=8 rows "
        "- the selection result, never corpus-sized)"
    ),
    "neyman_allocation_event_types": (
        "largest-remainder ranking over ONE ROW PER STRATUM "
        "(|event types| rows - metadata; the only corpus pass is the "
        "per-stratum moment aggregation)"
    ),
    "monroe_log_odds_sources": (
        "two ranking windows over ONE ROW PER DISTINCT TERM - "
        "vocab-bounded (the weighted_percentiles category), never "
        "corpus-bounded; token counts are map-side combined first"
    ),
    "skew_join_key_profile": "rank over the <=top_k TakeOrdered survivors",
    "search_term_relevance": "rank over the <=k TakeOrdered survivors",
    "bm25_document_rank": "rank over the <=k TakeOrdered survivors",
    "zipf_slope_corpus": "rank over the <=top_n TakeOrdered survivors",
    "kaplan_meier_churn": (
        "lifetable cumulative windows over |distinct churn days| rows "
        "(observation-span-bounded, not corpus-bounded)"
    ),
    "moving_avg_daily_revenue": "global DAILY series - calendar-bounded",
    "skyline_parts_price_size": (
        "running min over ONE ROW PER LEVEL of the bounded size "
        "domain (|distinct sizes| rows - metadata, never corpus)"
    ),
    "sorted_neighborhood_link": (
        "the method IS one global sort + fixed-rank-window pairing "
        "(documented trade vs blocked_link; candidate count exactly "
        "N*(w-1)/2 regardless of skew)"
    ),
    "connector_arxiv_batching": "row_number over the fetch-request ID list",
    "hybrid_rrf_search": (
        "two bounded ranks: quality prior over <=20 TakeOrdered "
        "survivors, fusion over <=40 already-top-20 candidates"
    ),
    "range_partition_plan": (
        "ntile over a 1/mod sampled subset - the RangePartitioner "
        "sampling approach; sample size is the knob"
    ),
}


def plan_row(_name: str, df) -> dict:
    """Shape of the executed plan string, plus output-schema hazards:

    - ``exchanges``: shuffle and broadcast Exchange nodes;
    - ``cartesian``: a CartesianProduct (always a failure);
    - ``bnlj``: BroadcastNestedLoopJoin count (legitimate only for
      bounded broadcast sides; listed so each new one gets a look);
    - ``global_windows``: window specs whose FIRST argument is an order
      expression, so the whole input funnels through one task (a
      failure outside GLOBAL_WINDOW_ALLOWED);
    - ``complex_columns`` / ``duplicate_columns``, present only when
      non-empty: oracle comparison canonicalizes results through pandas,
      which cannot hash list/dict cells or tell duplicate names apart.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^,)]+)[,)]", plan)
    row = {
        "exchanges": plan.count("Exchange"),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "window_specs": len(specs),
        "global_windows": sum(
            1 for first in specs if " ASC" in first or " DESC" in first
        ),
    }
    complex_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    dupes = sorted(c for c in set(df.columns) if df.columns.count(c) > 1)
    if complex_cols:
        row["complex_columns"] = complex_cols
    if dupes:
        row["duplicate_columns"] = dupes
    return row


def plan_audit(spark, sf_dir: str, names: list[str]) -> int:
    out, bad = {}, []
    for name, r, secs in sweep(spark, sf_dir, names, plan_row):
        out[name] = r
        flags = []
        if "error" in r:
            flags.append(f"build error: {r['error'][:80]}")
        if r.get("cartesian"):
            flags.append("CARTESIAN")
        if r.get("global_windows") and name not in GLOBAL_WINDOW_ALLOWED:
            flags.append(f"{r['global_windows']} GLOBAL WINDOW(S)")
        for key in ("complex_columns", "duplicate_columns"):
            if key in r:
                flags.append(f"{key}: {', '.join(r[key])}")
        bad += [f"{name}: {f}" for f in flags]
        print(f"  {name}: ex={r.get('exchanges', '-')} "
              f"bnlj={r.get('bnlj', '-')} gw={r.get('global_windows', '-')} "
              f"({secs:.2f}s)" + "".join(f"  <-- {f}" for f in flags),
              flush=True)
    path = os.path.join(REPO, "PLAN_AUDIT.json")
    # Merge into the standing artifact in registry order: a single-query
    # re-audit must refresh that query's row, not clobber the fleet-wide
    # evidence. Dropped registry entries are pruned so the summary stays
    # honest.
    try:
        with open(path) as f:
            prior = json.load(f).get("queries", {})
    except (json.JSONDecodeError, OSError):
        prior = {}
    merged = {n: out[n] if n in out else prior[n]
              for n in REGISTRY if n in out or n in prior}
    summary = {
        "audited": len(merged),
        "errors": sum(1 for r in merged.values() if "error" in r),
        "cartesians": sum(1 for r in merged.values() if r.get("cartesian")),
        "global_windows": sum(
            1 for n, r in merged.items()
            if r.get("global_windows") and n not in GLOBAL_WINDOW_ALLOWED
        ),
        "bnlj_queries": sorted(n for n, r in merged.items() if r.get("bnlj")),
    }
    with open(path, "w") as f:
        json.dump({"summary": summary, "queries": merged}, f, indent=1)
    schema_bad = sum(
        1 for r in merged.values()
        if "complex_columns" in r or "duplicate_columns" in r
    )
    print(json.dumps({"metric": "plan_audit", **summary,
                      "schema_offenders": schema_bad}))
    if bad:
        print("FAILURES:\n  " + "\n  ".join(bad))
    return 1 if bad else 0


# -------------------------------------------------------------------
# shuffle: measured exchange volume and spill
# -------------------------------------------------------------------


def shuffle_totals(df) -> dict:
    """Sum Exchange, broadcast and spill SQL metrics over an executed
    ``df``. Shuffle volume is the scale-out cost model: bytes that are
    O(groups) survive a 1000x scale-up, O(rows) bytes pay the network
    for the whole table every run; a lost map-side combine or a
    broadcast that silently became a shuffle join shows up as a number
    diff in SHUFFLE_AUDIT.json."""
    t = dict.fromkeys(
        ("n_exchanges", "shuffle_bytes", "shuffle_records",
         "exchange_data_size", "max_exchange_bytes", "n_broadcasts",
         "broadcast_bytes", "spill_bytes"), 0)
    for node, mets in walk(df):
        kind = node.nodeName()
        if kind == "Exchange":
            written = int(mets.get("shuffleBytesWritten", 0))
            t["n_exchanges"] += 1
            t["shuffle_bytes"] += written
            t["shuffle_records"] += int(mets.get("shuffleRecordsWritten", 0))
            t["exchange_data_size"] += int(mets.get("dataSize", 0))
            t["max_exchange_bytes"] = max(t["max_exchange_bytes"], written)
        elif kind == "BroadcastExchange":
            t["n_broadcasts"] += 1
            t["broadcast_bytes"] += int(mets.get("dataSize", 0))
        t["spill_bytes"] += int(mets.get("spillSize", 0))
    return t


def _shuffle_row(_name: str, df) -> dict:
    t0 = time.perf_counter()
    rows_out = execute(df)
    secs = round(time.perf_counter() - t0, 3)
    return {**shuffle_totals(df), "rows_out": rows_out, "secs": secs}


def shuffle_audit(spark, sf_dir: str, names: list[str]) -> int:
    """At the audit scale every operator fits in memory, so any nonzero
    spill is a sizing bug and fails the audit."""
    queries: dict[str, dict] = {}
    for name, m, _secs in sweep(spark, sf_dir, names, _shuffle_row):
        queries[name] = m
        if "error" in m:
            print(f"  {name}: {m['error']}", file=sys.stderr)
            continue
        print(
            f"  {name}: {m['n_exchanges']} exchanges, "
            f"{m['shuffle_records']} records / {m['shuffle_bytes']} B "
            f"shuffled (max single {m['max_exchange_bytes']} B), "
            f"{m['n_broadcasts']} broadcasts / {m['broadcast_bytes']} B, "
            f"spill {m['spill_bytes']} B",
            file=sys.stderr,
        )
    result = {
        "metric": "shuffle_audit",
        "sf": sf_dir,
        "audited": len(queries),
        "spilled": [n for n, q in queries.items() if q.get("spill_bytes")],
        "total_shuffle_bytes": sum(
            q.get("shuffle_bytes", 0) for q in queries.values()
        ),
        "queries": queries,
    }
    with open(os.path.join(REPO, "SHUFFLE_AUDIT.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "queries"}))
    failed = result["spilled"] or any("error" in q for q in queries.values())
    return 1 if failed else 0


# -------------------------------------------------------------------
# stages: per-node timing attribution
# -------------------------------------------------------------------

# metric-name substrings of Spark's timing SQL metrics (milliseconds
# via .value(), except the nanosecond shuffleWriteTime)
TIMING_SUBSTRINGS = ("time", "Time", "duration", "Duration")


def timing_rows(df) -> tuple[list[dict], list[str]]:
    """One ``{"node", "id", "ms"}`` row per executed plan node carrying
    any timing metric, plus the ``node:metric`` names whose value did
    not parse (kept visible in the artifact as ``dropped_metrics``)."""
    rows: list[dict] = []
    dropped: list[str] = []
    for node, mets in walk(df):
        ms = {}
        for k, v in mets.items():
            if any(s in k for s in TIMING_SUBSTRINGS):
                try:
                    ms[k] = int(v)
                except (TypeError, ValueError):
                    dropped.append(f"{node.nodeName()}:{k}")
        if ms:
            # shuffleWriteTime is SQLMetrics.createNanoTimingMetric
            if "shuffleWriteTime" in ms:
                ms["shuffleWriteTime"] //= 1_000_000
            rows.append({"node": node.nodeName(), "id": int(node.id()), "ms": ms})
    return rows, dropped


def classify(rows: list[dict]) -> dict:
    """Roll per-node timers into attribution buckets, so a divergence
    between two hosts' runs reads as e.g. "all the extra time is fetch wait"
    (co-tenant I/O) vs "operator time grew" (a plan regression).
    Fetch wait only counts on shuffle-read nodes; a fetch/wait-named
    timer elsewhere lands in other_ms. operator_ms is the catch-all for
    every other op timer by design (enumerating Spark's operator names
    would rot); the per-node ``nodes`` list lets a reader re-bucket by
    hand when a new node class shows up."""
    buckets = {"exchange_write_ms": 0, "fetch_wait_ms": 0,
               "broadcast_ms": 0, "operator_ms": 0, "scan_ms": 0,
               "other_ms": 0}
    shuffle_read_nodes = ("Exchange", "AQEShuffleRead", "ShuffleQueryStage",
                          "CustomShuffleReader")
    for r in rows:
        node = r["node"]
        for k, v in r["ms"].items():
            lk = k.lower()
            if "fetch" in lk and "wait" in lk:
                if node in shuffle_read_nodes or "shuffle" in node.lower():
                    buckets["fetch_wait_ms"] += v
                else:
                    buckets["other_ms"] += v
            elif node == "Exchange" or "shuffle write" in lk:
                buckets["exchange_write_ms"] += v
            elif node == "BroadcastExchange" or "broadcast" in lk:
                buckets["broadcast_ms"] += v
            elif "scan" in lk or node.startswith("Scan"):
                buckets["scan_ms"] += v
            else:
                buckets["operator_ms"] += v
    return buckets


def stages_audit(spark, sf_dir: str, names: list[str]) -> int:
    """Warm run on the swept build, then a fresh build whose own
    execution is timed and walked (the bench's warm methodology). Rows
    merge into BENCH_DETAIL.json ``stage_timings`` so runs on different
    hosts can coexist; times are milliseconds summed across tasks,
    ``wall_sec`` is the end-to-end execution time."""

    def stage_row(name, df):
        execute(df)
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        t0 = time.perf_counter()
        execute(df)
        wall = round(time.perf_counter() - t0, 3)
        rows, dropped = timing_rows(df)
        return {"wall_sec": wall, "sf_dir": sf_dir, "buckets": classify(rows),
                "dropped_metrics": dropped, "nodes": rows}

    out, failed = {}, []
    for name, r, _secs in sweep(spark, sf_dir, names, stage_row):
        if "error" in r:
            failed.append(name)
            print(json.dumps({"query": name, **r}))
            continue
        out[name] = r
        print(json.dumps({"query": name, "wall_sec": r["wall_sec"],
                          "buckets": r["buckets"]}))
    path = os.path.join(REPO, "BENCH_DETAIL.json")
    try:
        with open(path) as f:
            detail = json.load(f)
    except (OSError, ValueError):
        detail = {}
    detail.setdefault("stage_timings", {}).update(out)
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    return 1 if failed else 0


# -------------------------------------------------------------------
# invariance: the same canonical result under two execution regimes
# -------------------------------------------------------------------

_FAR_TZ = "Pacific/Kiritimati"  # UTC+14, no DST

# audit -> pass -> (environment, extra Spark conf). Each pass runs in a
# fresh subprocess (own JVM) with its environment set at process start.
PASSES: dict[str, dict[str, tuple[dict, dict]]] = {
    # Partition invariance. Pass B perturbs everything that changes data
    # placement and arrival order without changing semantics: fewer
    # cores (task interleaving), 7 shuffle partitions (hash
    # partitioning, reducer interleaving), 64 KiB input splits (scan
    # task and Arrow batch boundaries for every mapInPandas operator,
    # whose per-batch integer partials must be fold-order invariant).
    # A divergence is an order-dependent fold: a float sum the plan
    # reorders, a row_number tiebreak on a non-unique key, a
    # first()/limit without order.
    "determinism": {
        "A": ({"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "32"},
              {}),
        "B": ({"SPARK_GRAFT_CPUS": "5", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "7"},
              {"spark.sql.files.maxPartitionBytes": "65536",
               "spark.sql.files.openCostInBytes": "0",
               "spark.default.parallelism": "5"}),
    },
    # Host-timezone invariance. The session zone is pinned to UTC
    # (session.py), which does not by itself make results independent
    # of the HOST zone: Python's localtime in pandas UDFs, pandas/Arrow
    # conversions that consult the process zone, and the JVM default
    # zone in legacy parquet rebase or casts that bypass the session
    # zone. Pass B pins the largest offset on Earth into the C library,
    # Python and the JVM; pass A inherits the host environment.
    "tz": {
        "A": ({}, {}),
        "B": ({"TZ": _FAR_TZ},
              # local mode: driver JVM == executor JVM, but keep both
              # for cluster parity of the audit definition
              {"spark.driver.extraJavaOptions": f"-Duser.timezone={_FAR_TZ}",
               "spark.executor.extraJavaOptions": f"-Duser.timezone={_FAR_TZ}"}),
    },
}


def _pass_record(audit: str) -> dict:
    if audit == "tz":
        return {"pass_b_tz": _FAR_TZ}
    return {"passes": {
        k: {"cpus": env["SPARK_GRAFT_CPUS"],
            "shuffle": env["SPARK_GRAFT_SHUFFLE_PARTITIONS"], **conf}
        for k, (env, conf) in PASSES[audit].items()
    }}


def _result_hash(_name: str, df) -> dict:
    rows = spark_canonical_sorted_rows(df)
    return {"rows": len(rows),
            "hash": hashlib.md5("\n".join(rows).encode()).hexdigest()}


def _run_pass(audit: str, which: str, sf_dir: str, out_path: str,
              names: list[str]) -> None:
    env, conf = PASSES[audit][which]
    spark = get_spark(f"{audit}-audit-{which}", extra_conf=conf)
    if "TZ" in env:
        # the perturbation must actually have reached the JVM
        jvm_tz = spark._jvm.java.util.TimeZone.getDefault().getID()
        if jvm_tz != env["TZ"]:
            raise RuntimeError(f"JVM zone is {jvm_tz}, expected {env['TZ']}")
    out = {}
    for name, row, secs in sweep(spark, sf_dir, names, _result_hash):
        out[name] = row
        print(f"  [{which}] {name} ({secs:.1f}s)", flush=True)
    with open(out_path, "w") as f:
        json.dump(out, f)
    spark.stop()


def diverged(names: list[str], a: dict, b: dict) -> list[dict]:
    """Queries whose pass results differ; an error is a result, so the
    same error in both passes matches."""
    return [{"query": n, "A": a.get(n), "B": b.get(n)}
            for n in names if a.get(n) != b.get(n)]


def invariance(audit: str, sf_dir: str, names: list[str]) -> int:
    results = {}
    with tempfile.TemporaryDirectory(prefix=f"{audit}-audit-") as tmp:
        for which, (env, _conf) in PASSES[audit].items():
            out_path = os.path.join(tmp, f"{which}.json")
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--pass", audit,
                 which, sf_dir, out_path, json.dumps(names)],
                env={**os.environ, **env}, check=True,
            )
            with open(out_path) as f:
                results[which] = json.load(f)
    bad = diverged(names, results["A"], results["B"])
    artifact = {"metric": f"{audit}_audit", "sf_dir": sf_dir,
                "audited": len(names), "diverged": bad, **_pass_record(audit)}
    with open(os.path.join(REPO, f"{audit.upper()}_AUDIT.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"metric": artifact["metric"], "audited": len(names),
                      "n_diverged": len(bad)}))
    for d in bad[:10]:
        print("DIVERGED:", d["query"], d["A"], d["B"])
    return 1 if bad else 0


# -------------------------------------------------------------------
# command line
# -------------------------------------------------------------------

DEFAULT_SF = {"plan": "sf0.001", "shuffle": "sf0.01", "stages": "sf0.1",
              "determinism": "sf0.001", "tz": "sf0.001"}
# the SCD2 headliner, the two other expensive headline queries, and
# ann_ivf_topk, whose driver-coordinated quantizer training the
# per-node attribution separates from probe cost
STAGES_QUERIES = ["scd2_version_ranges", "streaming_stateful_sessions",
                  "dedup_minhash_lsh", "ann_ivf_topk"]
_SPARK_AUDITS = {"plan": plan_audit, "shuffle": shuffle_audit,
                 "stages": stages_audit}


def main(argv: list[str]) -> int:
    if argv[:1] == ["--pass"]:  # one invariance pass, in its subprocess
        _run_pass(*argv[1:5], json.loads(argv[5]))
        return 0
    if not argv or argv[0] not in DEFAULT_SF:
        print(__doc__, file=sys.stderr)
        return 2
    audit, args = argv[0], argv[1:]
    sf_dir = f"{TESTDATA}/{DEFAULT_SF[audit]}"
    if audit in ("shuffle", "stages"):
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", sf_dir)
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args or {
        "shuffle": [n for n, q in REGISTRY.items() if q.headline],
        "stages": STAGES_QUERIES,
    }.get(audit, list(REGISTRY))
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    if audit in PASSES:
        return invariance(audit, sf_dir, names)
    spark = get_spark(f"{audit}-audit")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _SPARK_AUDITS[audit](spark, sf_dir, names)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
