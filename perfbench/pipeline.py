"""One harvest through the program: enrichment, transform, and either a
batch load or a stream drain. Every call into the program goes through
the :class:`~layers.Recorder`, and everything between calls is glue the
benchmark owns (pandas frames in, collected results out), so each layer
is timed on its own.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.functions.hashing import entity_uri
from mlentory_etl_pipeline_spark.operators import dedup, nlp, similarity, textstats
from mlentory_etl_pipeline_spark.operators.melt import melt, mint_side_entities, range_dispatch
from mlentory_etl_pipeline_spark.streaming.stateful import stream_into_store

import cards as C

CARD_SCHEMA = (
    "model_id string, vec_id long, name string, url string, date_created string, "
    "downloads double, description string, license string, trained_on string, "
    "author string"
)
WIDE_SCHEMA = CARD_SCHEMA + (
    ", quality double, lang string, near_duplicate_of string, semantic_duplicate boolean"
)
TRIPLE_SCHEMA = (
    "subject string, predicate string, object string, extraction_method string, "
    "confidence double, extraction_time timestamp"
)
CARD_COLS = [f.split()[0] for f in CARD_SCHEMA.split(", ")]
WIDE_COLS = [f.split()[0] for f in WIDE_SCHEMA.split(", ")]
METHOD = "harvested_from_hf_card"
# a drain that has not finished by then would push the run past its limit
DRAIN_TIMEOUT_S = 60


class Mismatch(Exception):
    """An op's output disagrees with the reference."""


def expect(what: str, got, want) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {_short(got)}, want {_short(want)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."


def frame(spark, rows: list[dict], cols: list[str], schema: str):
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)


class Harvester:
    """Runs harvests through enrichment and the transform. ``stored`` is
    the card archive of the latest harvest, which the dedup layers
    screen each new harvest against."""

    def __init__(self, spark, rec):
        self.spark = spark
        self.rec = rec
        self.schema_df = spark.createDataFrame(
            pd.DataFrame(C.SCHEMA, columns=["property", "range"]), "property string, range string")

    def enrich(self, batch: list[dict], stored: list[dict], op_id) -> list[dict]:
        """Run the four enrichment layers, check each against the
        reference, and return the enriched wide rows."""
        spark, rec = self.spark, self.rec
        batch_df = frame(spark, batch, CARD_COLS, CARD_SCHEMA)
        stored_df = frame(spark, stored, CARD_COLS, CARD_SCHEMA)
        ids = {c["vec_id"] for c in batch}
        other = [s for s in stored if s["vec_id"] not in ids]
        other_df = frame(spark, other, CARD_COLS, CARD_SCHEMA)
        text = F.col("description")

        with rec.span("textstats.quality_lang", "textstats", op_id):
            ts = batch_df.select(
                "vec_id",
                textstats.quality_score(text).alias("quality"),
                textstats.lang_id(text).alias("lang"),
            ).toPandas()
        with rec.span("nlp.embed_texts", "nlp", op_id):
            both = batch_df.select("vec_id", "description", F.lit(True).alias("in_batch"))
            both = both.unionByName(
                other_df.select("vec_id", "description", F.lit(False).alias("in_batch"))
            )
            emb = nlp.embed_texts(both, "description").select(
                "vec_id", "in_batch", "embedding"
            ).toPandas()
        with rec.span("dedup.minhash_incremental_pairs", "dedup", op_id):
            pairs = dedup.minhash_incremental_pairs(
                stored_df.select("vec_id", "description"),
                batch_df.select("vec_id", "description"),
                "vec_id",
                "description",
            ).select("id_a", "id_b").collect()
        rec.totals["dedup"]["pairs_out"] += len(pairs)
        vec_schema = "vec_id long, embedding array<float>"
        bv = spark.createDataFrame(emb[emb.in_batch][["vec_id", "embedding"]], vec_schema)
        sv = spark.createDataFrame(emb[~emb.in_batch][["vec_id", "embedding"]], vec_schema)
        with rec.span("similarity.semantic_dedup_incremental", "similarity", op_id):
            flagged = {
                r.vec_id
                for r in similarity.semantic_dedup_incremental(
                    sv, bv, centroids=similarity.seed_centroids(bv, 16)
                ).where(~F.col("keep")).select("vec_id").collect()
            }
        rec.totals["similarity"]["flagged"] += len(flagged)

        # the enrichment outputs become the new wide columns, after each
        # layer's output is checked against the reference
        want = {e["vec_id"]: e for e in C.enrich(batch, stored)}
        expect("textstats rows", len(ts), len(batch))
        for r in ts.itertuples():
            expect(f"quality and lang of {r.vec_id}", (float(r.quality), r.lang),
                   (want[r.vec_id]["quality"], want[r.vec_id]["lang"]))
        expect("embedded rows", len(emb), len(batch) + len(other))
        near: dict[int, int] = {}
        for a, b in pairs:
            if a < b:  # the same model re-harvested is not a duplicate
                near[b] = min(a, near.get(b, a))
        expect("near-duplicate pairs", near, C.near_duplicate_of(batch, stored))
        expect("semantic duplicates", flagged,
               {v for v, e in want.items() if e["semantic_duplicate"]})
        model_of = {c["vec_id"]: c["model_id"] for c in stored + batch}
        stats = {r.vec_id: (float(r.quality), r.lang) for r in ts.itertuples()}
        return [
            dict(
                c,
                quality=stats[c["vec_id"]][0],
                lang=stats[c["vec_id"]][1],
                near_duplicate_of=model_of.get(near.get(c["vec_id"])),
                semantic_duplicate=True if c["vec_id"] in flagged else None,
            )
            for c in batch
        ]

    def transform(self, enriched: list[dict], when, op_id):
        """melt -> range_dispatch -> mint_side_entities over the enriched
        rows; returns the (lazy) triple batch the store loads."""
        wide = frame(self.spark, enriched, WIDE_COLS, WIDE_SCHEMA)
        with self.rec.span("melt.build", "melt", op_id):
            wide = wide.withColumn("subject", entity_uri("hf", "Model", F.col("model_id")))
            props = [p for p, _ in C.SCHEMA]
            long = melt(wide, ["subject"], props).where(F.col("value").isNotNull())
            plain = range_dispatch(
                long.where(F.col("property").isin(*C.PLAIN_PROPS)), self.schema_df
            ).select("subject", F.col("property").alias("predicate"), "object")
            minted = mint_side_entities(long, self.schema_df).select(
                "subject", "predicate", "object"
            )
            triples = plain.unionByName(minted).select(
                "*",
                F.lit(METHOD).alias("extraction_method"),
                F.lit(1.0).alias("confidence"),
                F.lit(when).cast("timestamp").alias("extraction_time"),
            )
        return triples


def load(rec, store, triples, op_id) -> None:
    with rec.span("versioned_store.load_batch", "versioned_store", op_id):
        store.load_batch(triples)
    rec.totals["versioned_store"]["cached_blocks"] = cached_blocks(store.spark)


def drain(spark, rec, store, landing: str, checkpoint: str, op_id) -> None:
    """Drain the landed files into the store with one ``availableNow`` run
    of ``stream_into_store``, and record its micro-batch accounting."""
    with rec.span("streaming.stream_into_store", "streaming", op_id) as s:
        stream = spark.readStream.schema(TRIPLE_SCHEMA).parquet(landing)
        q = stream_into_store(stream, store, checkpoint)
        s.group = str(q.runId)
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"stream drain still running after {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(f"stream drain failed: {q.exception()}")
        batches = q.recentProgress
    add_batch_s = sum(p.durationMs.get("addBatch", 0) for p in batches) / 1e3
    empty = sum(1 for p in batches if not p.numInputRows)
    tot = rec.totals["streaming"]
    tot["add_batch_s"] += add_batch_s
    tot["micro_batches"] += len(batches)
    tot["empty_batches"] += empty
    # the merge runs inside foreachBatch, so the store's share of a drain
    # is its addBatch time and the drain's jobs
    vs = rec.totals["versioned_store"]
    vs["busy_s"] += add_batch_s
    vs["calls"] += len(batches) - empty
    for k, v in s.counters.items():
        vs[k] += v
    vs["cached_blocks"] = cached_blocks(spark)


def storage(spark) -> list:
    return list(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def cached_mb(spark) -> float:
    """Storage memory (and disk) held by cached or checkpointed blocks."""
    return sum(r.memSize() + r.diskSize() for r in storage(spark)) / 1e6


def cached_blocks(spark) -> int:
    return sum(r.numCachedPartitions() for r in storage(spark))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(".parquet"))
    return total
