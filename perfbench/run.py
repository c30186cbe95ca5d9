"""MLentory spine benchmark.

    python3 perfbench/run.py --workload refresh|serve --seed N --seconds S --trace 0|1

Run from the repository root. The program is imported from the checkout
and driven only through its public API. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of ``BENCHMARK.json``, or with
``--trace 1`` its per-layer metrics). The line before it, prefixed
``perfbench-detail``, records the run's environment and sample counts;
both, plus the trace spans of a traced run, are also written under
``.bench_results/``. Scratch state lives under ``.bench_work/`` and is
removed at exit.

Each workload does a fixed amount of work, so that every run measures
the same mix; it is sized to about ``run_seconds`` of measured work on
four cores. ``--seconds`` is recorded, not used to stop the run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mlentory_etl_pipeline_spark"

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("refresh", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> int:
    """Pin Spark's parallelism to the cores this process may use and keep
    every file the run writes inside ``workdir``. Program tuning
    variables are left alone."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = tmp
    return ncpu


def jvm_diagnostics(spark, pid: int) -> dict:
    jvm = spark.sparkContext._jvm
    gc_ms = sum(b.getCollectionTime() for b in
                jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return {"gc_s": gc_ms / 1e3, "peak_rss_mb": hwm_kb / 1024}


def layer_metrics(rec, host: dict, jvm: dict) -> tuple[dict, dict]:
    """Per-layer metrics from the recorder's totals: (the layers both
    workloads call, with their units; every layer's totals, per workload
    where only one workload calls it)."""
    t = rec.totals
    out = {}
    st = t["versioned_store"]
    out["versioned_store.load_s"] = (st["busy_s"], "s")
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "B"),
                    ("spill_bytes", "B"), ("write_bytes", "B"), ("cached_blocks", "count")):
        out[f"versioned_store.{k}"] = (st[k], unit)
    kinds = sorted({k.split(".")[1] for k in t if k.startswith("api.")})
    per_kind = {}
    for kind in kinds:
        b, e = t[f"api.{kind}.build"], t[f"api.{kind}.exec"]
        per_kind[kind] = {
            "build_s": b["busy_s"], "exec_s": e["busy_s"], "calls": e["calls"],
            "jobs": b["jobs"] + e["jobs"], "tasks": b["tasks"] + e["tasks"],
            "input_bytes": e["input_bytes"], "rows_out": e["rows_out"],
        }
    for k, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("input_bytes", "B"), ("rows_out", "count")):
        out[f"api.{k}"] = (sum(v[k] for v in per_kind.values()), unit)
    out["jvm.gc_s"] = (jvm["gc_s"], "s")
    out["jvm.peak_rss_mb"] = (jvm["peak_rss_mb"], "MB")
    out["driver.cpu_s"] = (host["driver_cpu_s"], "s")
    out["host.busy_other_pct"] = (host["busy_other_pct"], "%")
    out["host.steal_pct"] = (host["steal_pct"], "%")
    out["host.loadavg"] = (host["loadavg"], "tasks")
    out["trace.overhead_s"] = (rec.overhead_s, "s")
    layers = {"api": per_kind}
    for layer in ("melt", "textstats", "nlp", "dedup", "similarity", "streaming", "search"):
        if layer in t:
            layers[layer] = dict(t[layer])
    if "streaming" in t:
        s = layers["streaming"]
        s["overhead_s"] = s["busy_s"] - s["add_batch_s"]
        s["useful_batch_share"] = (s["micro_batches"] - s["empty_batches"]) / max(
            1, s["micro_batches"])
    return out, layers


NOT_MEASURED = {
    "melt execution": "melt's plan runs fused into the load jobs; only its build time "
                      "is measured from outside",
    "per-node SQL metric time": "needs in-program tracing",
    "melt, textstats, nlp, dedup, similarity": "refresh only (serve's history arrives "
                                               "as triples)",
    "streaming": "serve only (refresh loads through load_batch)",
    "api per read kind": "changes_between and history on both workloads, the rest on "
                         "serve only",
    "per-row merge cost": "each load_batch here is mostly fixed per-batch work; no "
                          "workload is large enough for per-row work to dominate",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    ncpu = prepare_env(workdir)
    sys.path[:0] = [ROOT, HERE]

    from mlentory_etl_pipeline_spark.session import get_spark

    import layers
    import workloads

    t_start = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    })
    session_s = time.perf_counter() - t_start
    sc = spark.sparkContext
    master, parallelism, proc = sc.master, sc.defaultParallelism, sc._gateway.proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        rec = layers.Recorder(spark, bool(args.trace))
        host = layers.HostSampler(proc.pid)
        run = workloads.Run(spark, rec, args.seed, workdir)
        t_work = time.perf_counter()
        getattr(workloads, args.workload)(run)
        run.detail["workload_s"] = time.perf_counter() - t_work
        host_stats = host.finish()
        jvm = jvm_diagnostics(spark, proc.pid)
        e2e = run.metrics()
        layer, layer_extra = layer_metrics(rec, host_stats, jvm)
    finally:
        stop(spark, proc, layers.descendants(proc.pid))
        shutil.rmtree(workdir, ignore_errors=True)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    chosen = layer if args.trace else e2e
    metrics = {n: {"value": float(chosen[n][0]), "unit": chosen[n][1]} for n in names}
    own = resource.getrusage(resource.RUSAGE_SELF)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": master, "default_parallelism": parallelism,
        "nproc": ncpu, "session_start_s": session_s,
        "bench_rusage": {"user_s": own.ru_utime, "sys_s": own.ru_stime,
                         "maxrss_mb": own.ru_maxrss / 1024},
        "host": host_stats, "jvm": jvm, **run.detail,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "layers": {k: v[0] for k, v in layer.items()}, "layer_totals": layer_extra,
        "failures": run.failures[:20], "not_measured": NOT_MEASURED,
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        rec.write(stem + ".spans.jsonl")
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    with open(stem + ".json", "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1)
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(spark, proc, workers: list[int]) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    try:
        spark.stop()
    finally:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while time.monotonic() < deadline and _alive(pid):
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)


if __name__ == "__main__":
    sys.exit(main())
