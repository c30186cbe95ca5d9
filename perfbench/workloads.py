"""The two workloads. Each is one closed-loop client on the driver and
does the same, fixed amount of work on every run, so that runs compare.

``refresh``: a fresh catalog is loaded into a new store in set-up; the
timed work is one full re-harvest through enrichment, the transform and
``VersionedTripleStore.load_batch``, then the reads that publish it: the
change feed over a few windows and the history of changed models.

``serve``: set-up builds a store from a history of harvests, each landed
as parquet and drained by ``stream_into_store`` (a full first harvest,
then small change-feed deltas, each timed), and persists the search
docs. The timed work is a seeded, Zipf-skewed read mix against it.

The traffic shape (catalog size, delta size, the read mix and its skew)
is a synthetic assumption: it follows the qualitative shape of MLentory
use (skewed, point-heavy, scans a minority), not a measured trace.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.api import QueryInterface
from mlentory_etl_pipeline_spark.operators import versioned_store as vs
from mlentory_etl_pipeline_spark.operators.search import build_search_docs
from mlentory_etl_pipeline_spark.functions.hashing import entity_uri

import cards as C
import pipeline as P
from layers import Recorder, percentile_tail
from oracle import READ_COLS, Oracle, digest

# refresh: models per harvest, clones planted per harvest, and the
# changed models whose history is read back after the timed load
REFRESH_MODELS = 500
REFRESH_CLONES = 20
PUBLISH_HISTORIES = 8
# serve: models in the first harvest, delta harvests drained after it
SERVE_MODELS = 500
SERVE_DELTAS = 3
# one block of the read mix: point and search kinds are seven of ten
# (an assumed weighting, like the sizes above)
READ_BLOCK = {
    "lookup": 2,
    "search_prefix": 2,
    "search_bm25": 1,
    "history": 1,
    "search_with_history": 1,
    "graph_at": 1,
    "changes_between": 1,
    "current_graph": 1,
}
# timed blocks per serve run, so that each kind's median has at least
# three samples
READ_BLOCKS = 3
GRAPH_KINDS = ("graph_at", "changes_between", "current_graph")


class Run:
    """Book-keeping shared by the workloads: op outcomes, timings and
    the set-up clock."""

    def __init__(self, spark, rec, seed: int, workdir: str):
        self.spark, self.rec, self.seed = spark, rec, seed
        self.workdir = workdir
        self.attempted = 0
        self.failures: list[str] = []
        self.batch_s: list[float] = []
        self.batch_triples: list[int] = []
        self.reads: dict[str, list[float]] = {}
        self.setup_s = 0.0
        self.cached_mb = 0.0
        self.store_bytes_per_triple = 0.0
        self.detail: dict = {}
        self.read_no = 0

    def op(self, what: str, fn):
        """Run one op; an exception or a reference mismatch marks it
        failed (and the run incorrect) without stopping the run."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — every failure is counted and reported
            self.failures.append(f"{what}: {type(e).__name__}: {e}"[:500])
            return None

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    # ---- reads
    def read(self, qi: QueryInterface, oracle: Oracle, kind: str, args: tuple, timed=True):
        """One read through the QueryInterface: build, then fully
        materialize (collect for point and top-k results, a noop write
        for graph reads), then check against the oracle."""
        self.read_no += 1
        op_id = f"read{self.read_no}"
        rec = self.rec
        with rec.span(f"api.{kind}", None, op_id) as outer:
            with rec.span(f"api.{kind}.build", f"api.{kind}.build", op_id):
                df = getattr(qi, kind)(*args)
            with rec.span(f"api.{kind}.exec", f"api.{kind}.exec", op_id):
                if kind in GRAPH_KINDS:
                    cols = READ_COLS[kind]
                    h = F.conv(
                        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 11), 16, 10
                    ).cast("long")
                    obs = Observation(op_id)
                    df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    got = (obs.get["n"], obs.get["h"] or 0)
                else:
                    rows = df.collect()
                    got = digest([tuple(r[c] for c in READ_COLS[kind]) for r in rows])
        rec.totals[f"api.{kind}.exec"]["rows_out"] += got[0]
        want = digest(getattr(oracle, kind)(*_oracle_args(kind, args)))
        P.expect(f"{kind}{args!r} (rows, checksum)", got, want)
        if timed:
            self.reads.setdefault(kind, []).append(outer.seconds)

    def finish(self, store_path: str, triplets: int) -> None:
        """Storage held at the end of the run."""
        self.cached_mb = P.cached_mb(self.spark)
        self.store_bytes_per_triple = sum(
            P.dir_bytes(os.path.join(store_path, t)) for t in vs.VersionedTripleStore.TABLE_NAMES
        ) / triplets

    def metrics(self) -> dict:
        all_reads = [s for v in self.reads.values() for s in v]
        tail, pct, n = percentile_tail(all_reads)
        self.detail.update(read_tail_s=tail, read_tail_pct=pct, read_samples=n,
                           reads_per_kind={k: len(v) for k, v in self.reads.items()},
                           batch_s=self.batch_s, batch_triples=self.batch_triples)
        return {
            "setup_s": (self.setup_s, "s"),
            "ok_share": ((self.attempted - len(self.failures)) / self.attempted, "share"),
            "cached_mb": (self.cached_mb, "MB"),
            "triples_per_s": (sum(self.batch_triples) / sum(self.batch_s), "1/s"),
            "batch_p50_s": (statistics.median(self.batch_s), "s"),
            "store_bytes_per_triple": (self.store_bytes_per_triple, "B"),
            "reads_per_s": (len(all_reads) / sum(all_reads), "1/s"),
            "kind_p50_geomean_s": (
                statistics.geometric_mean([statistics.median(v) for v in self.reads.values()]),
                "s",
            ),
        }


def _oracle_args(kind: str, args: tuple) -> tuple:
    if kind in ("search_bm25", "search_with_history"):
        return args[:1]  # the text column is the description throughout
    return args


def entity_uris(spark, keys: set[tuple[str, str]]) -> dict[tuple[str, str], str]:
    """The program's URI for each (entity type, id), in one job."""
    df = P.frame(spark, [dict(etype=t, eid=i) for t, i in sorted(keys)], ["etype", "eid"],
                 "etype string, eid string")
    uri = entity_uri("hf", F.col("etype"), F.col("eid")).alias("uri")
    return {(r.etype, r.eid): r.uri for r in df.select("etype", "eid", uri).collect()}


RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SCHEMA_NS = "https://schema.org/"


def land(landing: str, name: str, triples: set[tuple], uri_of: dict, when) -> None:
    """Write one delta of triples as a parquet file the way an upstream
    producer would: to a hidden name first, then renamed into view."""
    def term(t):
        if isinstance(t, tuple):
            return uri_of[("Model", t[1])] if t[0] == "model" else uri_of[(t[1], t[2])]
        if isinstance(t, bool):
            return "true" if t else "false"
        return repr(t) if isinstance(t, float) else str(t)

    rows = []
    for s, p, o in sorted(triples, key=repr):
        if p == "type":
            rows.append((term(s), RDF_TYPE, SCHEMA_NS + o))
        elif s[0] == "entity" and p == "name":
            rows.append((term(s), SCHEMA_NS + "name", term(o)))
        else:
            rows.append((term(s), p, term(o)))
    n = len(rows)
    table = pa.table({
        "subject": [r[0] for r in rows],
        "predicate": [r[1] for r in rows],
        "object": [r[2] for r in rows],
        "extraction_method": [P.METHOD] * n,
        "confidence": [1.0] * n,
        "extraction_time": pa.array([when] * n, pa.timestamp("us", tz="UTC")),
    })
    tmp = os.path.join(landing, f".{name}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(landing, f"{name}.parquet"))


# ------------------------------------------------------------------ refresh

def refresh(run: Run) -> None:
    """Set-up makes the two harvests and their reference, warms the
    enrichment layers on a small harvest, loads the fresh catalog into a
    new store (it arrives enriched upstream) and reads it back once per
    publish kind. Timed: the full re-harvest through enrichment, the
    transform and ``load_batch``, then its publish reads."""
    t0 = time.perf_counter()
    rec = run.rec
    gen = C.CardGenerator(run.seed)
    fresh = gen.catalog(REFRESH_MODELS)
    fresh += [gen.clone(o, REFRESH_MODELS + i)
              for i, o in enumerate(gen.rng.sample(fresh, REFRESH_CLONES))]
    reharvest = gen.reharvest(fresh, REFRESH_CLONES)
    ref = C.ReferenceStore()
    ref.merge(C.triples_of(C.enrich(fresh, [])), C.T0)
    fresh_counts = ref.counts()
    when = C.T0 + C.DAY
    reharvest_triples = C.triples_of(C.enrich(reharvest, fresh))
    ref.merge(reharvest_triples, when)
    prev = {c["vec_id"]: c for c in fresh}
    changed = [c["model_id"] for c in reharvest if prev.get(c["vec_id"]) != c]
    rng = random.Random(run.seed)
    histories = rng.sample(changed, PUBLISH_HISTORIES + 1)
    uris = {m: u for (_, m), u in entity_uris(run.spark, {("Model", m) for m in histories}).items()}
    store_path = run.path("store")
    store = vs.VersionedTripleStore(run.spark, store_path)
    oracle = Oracle(store_path)
    qi = QueryInterface(store)
    harvester = P.Harvester(run.spark, rec)

    def publish(windows, subjects, timed: bool) -> None:
        """The change feed of the windows, then the audit trail of each
        changed model."""
        for window in windows:
            run.op(f"publish {window}", lambda: run.read(qi, oracle, "changes_between", window, timed))
        for subject in subjects:
            uri = uris[subject]
            run.op(f"history {uri}", lambda: run.read(qi, oracle, "history", (uri,), timed))

    # warm the enrichment layers on a small harvest; the warm-up is
    # checked but kept out of the layer record
    wgen = C.CardGenerator(run.seed + 1_000_003)
    wstored = wgen.catalog(40)
    run.op("warmup enrich", lambda: P.Harvester(run.spark, Recorder(run.spark, False)).enrich(
        wgen.reharvest(wstored, 2), wstored, "warmup"))

    def fresh_load():
        triples = harvester.transform(C.enrich(fresh, []), C.T0, "fresh")
        P.load(rec, store, triples, "fresh")
        P.expect("store counts after the fresh load", oracle.store_counts(), fresh_counts)

    run.op("fresh load", fresh_load)
    publish([(C.T0 - C.DAY, C.T0)], histories[:1], timed=False)
    run.setup_s = time.perf_counter() - t0

    def one_batch():
        with rec.span("batch.reharvest", None, "reharvest") as s:
            enriched = harvester.enrich(reharvest, fresh, "reharvest")
            triples = harvester.transform(enriched, when, "reharvest")
            P.load(rec, store, triples, "reharvest")
        P.expect("store counts after the re-harvest", oracle.store_counts(), ref.counts())
        return s.seconds

    secs = run.op("reharvest", one_batch)
    if secs is not None:
        run.batch_s.append(secs)
        run.batch_triples.append(len(reharvest_triples))
    # the change feed of the day, of the day before, of both, and of a
    # window that holds only the re-harvest's additions
    windows = [(when - C.DAY, when), (when - 2 * C.DAY, when - C.DAY),
               (when - 2 * C.DAY, when), (when - C.DAY / 2, when + C.DAY / 2)]
    publish(windows, histories[1:], timed=True)
    oracle.close()
    run.finish(store_path, ref.counts()["triplets"])
    run.detail.update(models=REFRESH_MODELS, store_counts=ref.counts())


# -------------------------------------------------------------------- serve

def serve_history(gen: C.CardGenerator):
    """(cards landed, stored cards, harvest time, full catalog after)."""
    rng = gen.rng
    base = gen.catalog(SERVE_MODELS)
    base += [gen.clone(o, SERVE_MODELS + i) for i, o in enumerate(rng.sample(base, REFRESH_CLONES))]
    out = [(base, [], C.T0, base)]
    cur = base
    for d in range(SERVE_DELTAS):
        nxt = gen.reharvest(cur, REFRESH_CLONES // 4)
        out.append((gen.changed_subset(cur, nxt), cur, C.T0 + (d + 1) * C.DAY, nxt))
        cur = nxt
    return out


def read_mix(run: Run, gen: C.CardGenerator, catalog: list[dict], uris: dict,
             last: dt.datetime, salt: int = 0):
    """An endless, seeded read mix in shuffled blocks with fixed kind
    counts; subjects and search terms are Zipf-skewed."""
    rng = random.Random(run.seed * 31 + 7 + salt)
    order = list(catalog)
    rng.shuffle(order)
    model_zipf = C.Zipf(len(order))
    span_s = (last - C.T0).total_seconds()
    block = [k for k, n in READ_BLOCK.items() for _ in range(n)]
    while True:
        rng.shuffle(block)
        for kind in block:
            card = order[model_zipf.draw(rng)]
            uri = uris[card["model_id"]]
            terms = [gen.vocab[gen.word_zipf.draw(rng)] for _ in range(2)]
            if kind == "lookup":
                args = (uri,)
            elif kind == "search_prefix":
                q = card["name"][: rng.randint(3, 6)]
                args = (q, {"license": card["license"]})
            elif kind in ("search_bm25", "search_with_history"):
                args = (terms, "description")
            elif kind == "history":
                args = (uri,)
            elif kind == "graph_at":
                args = (C.T0 + dt.timedelta(seconds=rng.uniform(0, span_s)),)
            elif kind == "changes_between":
                # a one-day window that holds at least one harvest
                lo = C.T0 + dt.timedelta(seconds=rng.uniform(-86400, span_s))
                args = (lo, lo + C.DAY)
            else:
                args = ()
            yield kind, args


def serve(run: Run) -> None:
    """Set-up drains the history into a new store (the delta drains are
    the batch samples), persists the search docs and warms every read
    kind. Timed: ``READ_BLOCKS`` blocks of the read mix."""
    spark, rec = run.spark, run.rec
    t0 = time.perf_counter()
    gen = C.CardGenerator(run.seed)
    history = serve_history(gen)
    store_path = run.path("store")
    landing, checkpoint = run.path("landing"), run.path("checkpoint")
    store = vs.VersionedTripleStore(spark, store_path)
    oracle = Oracle(store_path)
    enriched = [C.enrich(cards, stored) for cards, stored, _, _ in history]
    keys = {("Model", c["model_id"]) for e in enriched for c in e}
    keys |= {(C.RANGE[p], c[p]) for e in enriched for c in e for p in C.ENTITY_PROPS if c[p]}
    uri_of = entity_uris(spark, keys)
    ref = C.ReferenceStore()
    os.makedirs(landing)
    for i, (rows, (_, _, when, _)) in enumerate(zip(enriched, history)):
        op_id = f"harvest{i}"
        expect_triples = C.triples_of(rows)
        land(landing, f"harvest-{i}", expect_triples, uri_of, when)

        def one_drain():
            with rec.span("batch.drain", None, op_id) as s:
                P.drain(spark, rec, store, landing, checkpoint, op_id)
            ref.merge(expect_triples, when)
            P.expect(f"store counts after {op_id}", oracle.store_counts(), ref.counts())
            return s.seconds

        secs = run.op(op_id, one_drain)
        if secs is not None and i > 0:  # the first harvest is the cold bulk load
            run.batch_s.append(secs)
            run.batch_triples.append(len(expect_triples))
    catalog = history[-1][3]
    uris = {c["model_id"]: uri_of[("Model", c["model_id"])] for c in catalog}
    docs_path = run.path("docs")
    with rec.span("search.build_search_docs", "search", "docs"):
        entities = P.frame(spark, catalog, P.CARD_COLS, P.CARD_SCHEMA).withColumn(
            "subject", entity_uri("hf", "Model", F.col("model_id"))
        )
        build_search_docs(
            entities, "subject", "name", facet_cols=["license"], text_cols=["description"]
        ).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    oracle.close()
    oracle = Oracle(store_path, docs_path)
    qi = QueryInterface(store, docs)
    mix = read_mix(run, gen, catalog, uris, history[-1][2])
    # warm-up: one read of every kind, untimed, from its own mix
    warm = read_mix(run, gen, catalog, uris, history[-1][2], salt=1)
    warmed: set[str] = set()
    while len(warmed) < len(READ_BLOCK):
        kind, args = next(warm)
        if kind not in warmed:
            warmed.add(kind)
            run.op(f"warmup {kind}", lambda: run.read(qi, oracle, kind, args, timed=False))
    run.setup_s = time.perf_counter() - t0

    try:
        for _ in range(READ_BLOCKS * sum(READ_BLOCK.values())):
            kind, args = next(mix)
            run.op(f"{kind}{args!r}"[:200], lambda: run.read(qi, oracle, kind, args))
    finally:
        oracle.close()
    run.finish(store_path, ref.counts()["triplets"])
    run.detail.update(models=SERVE_MODELS, deltas=SERVE_DELTAS,
                      delta_cards=[len(h[0]) for h in history[1:]],
                      store_counts=ref.counts())
