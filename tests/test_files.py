"""Tests for raw-file ingest + compaction (sources/files.py): corrupt
JSONL quarantine and small-file compaction with range-sorted output."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mlentory_etl_pipeline_spark.sources import files as files_src


def test_jsonl_corrupt_quarantine(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "name": "fine"}\n'
        '{"id": "NOT_A_NUMBER", "name": "bad-type"}\n'
    )
    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    cache = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(3):
        df = files_src.read_jsonl(spark, str(p), schema)
        good, bad = files_src.quarantine(df)
        assert sorted(r.id for r in good.collect()) == [1, 2]
        bad_lines = [r[files_src.CORRUPT_COL] for r in bad.collect()]
        assert len(bad_lines) == 2
        assert "this is not json at all" in bad_lines[0] or "this is not json at all" in bad_lines[1]
        # The barrier before the corrupt-column filter leaves no cache
        # entry behind.
        assert cache.lookupCachedData(df._jdf).isEmpty()


def test_compact_small_files(spark, tmp_path):
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    # 40 tiny files of 25 rows each.
    spark.range(0, 1000).withColumn("k", F.col("id") % 7).repartition(40).write.parquet(src)
    n_files = files_src.compact(spark, src, dest, "id", target_rows_per_file=250)
    assert n_files == 4
    written = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    assert len(written) == 4
    out = spark.read.parquet(dest)
    assert out.count() == 1000
    # Range partitioning: per-file id ranges must not overlap (zone-map
    # friendliness) — check via min/max per input_file_name.
    stats = (
        out.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in stats)
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    dest = str(tmp_path / "zorder")
    # Two independent uniform dimensions.
    df = (
        spark.range(0, 4096)
        .withColumn("a", (F.col("id") * 48271) % 4096)
        .withColumn("b", (F.col("id") * 16807) % 4096)
    )
    files_src.zorder_write(spark, df, dest, "a", "b", n_files=16)
    out = spark.read.parquet(dest)
    assert out.count() == 4096

    stats = (
        out.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("a").alias("a_lo"), F.max("a").alias("a_hi"),
            F.min("b").alias("b_lo"), F.max("b").alias("b_hi"),
        )
        .collect()
    )
    assert len(stats) == 16

    def files_overlapping(lo_col, hi_col, lo, hi):
        return sum(1 for r in stats if not (r[hi_col] < lo or r[lo_col] > hi))

    # A 1/8-range predicate on EITHER dimension must skip at least half
    # the files via footer min/max — the property a single-column sort
    # gives only to its own column.
    assert files_overlapping("a_lo", "a_hi", 0, 511) <= 8
    assert files_overlapping("b_lo", "b_hi", 0, 511) <= 8


# ---------------------------------------------------------------------
# Schema-evolution union
# ---------------------------------------------------------------------

def test_evolve_union_widens_and_nullfills(spark):
    import pytest

    from mlentory_etl_pipeline_spark.sources.files import evolve_union

    a = spark.createDataFrame([(1, 2.5)], "k int, v double")
    b = spark.createDataFrame([(10**12, "x")], "k long, name string")
    out = evolve_union([a, b])
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {"k": "bigint", "v": "double", "name": "string"}
    rows = {r.k: (r.v, r.name) for r in out.collect()}
    assert rows == {1: (2.5, None), 10**12: (None, "x")}
    # column order follows first appearance
    assert [f.name for f in out.schema.fields] == ["k", "v", "name"]


def test_evolve_union_rejects_non_widenable(spark):
    import pytest

    from mlentory_etl_pipeline_spark.sources.files import evolve_union

    a = spark.createDataFrame([(1,)], "k int")
    b = spark.createDataFrame([(True,)], "k boolean")
    with pytest.raises(TypeError, match="not widenable"):
        evolve_union([a, b])
    # the explicit opt-in stringifies instead
    out = evolve_union([a, b], allow_to_string=True)
    assert out.schema["k"].dataType.simpleString() == "string"
    assert {r.k for r in out.collect()} == {"1", "true"}


def test_evolve_union_is_zero_shuffle(spark):
    import contextlib
    import io

    from mlentory_etl_pipeline_spark.sources.files import evolve_union

    a = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    b = a.select("o_orderkey", "o_custkey")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        evolve_union([a, b]).explain("formatted")
    plan = buf.getvalue()
    assert "Union" in plan
    for op in ("Exchange", "Sort", "Join"):
        assert op not in plan, op


def test_widening_lattice_properties():
    """Driver-only property test: the widening lattice is commutative
    and associative (fold order over input schemas cannot change the
    evolved target schema), and widening is idempotent."""
    from itertools import product

    from mlentory_etl_pipeline_spark.sources.files import _wider

    types = [
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "date", "timestamp", "timestamp_ntz", "boolean",
    ]
    for a, b in product(types, types):
        assert _wider(a, b) == _wider(b, a), (a, b)
        assert _wider(a, a) == a
    for a, b, c in product(types, types, types):
        ab = _wider(a, b)
        bc = _wider(b, c)
        left = _wider(ab, c) if ab else None
        right = _wider(a, bc) if bc else None
        # when both association orders are defined they must agree
        if left is not None and right is not None:
            assert left == right, (a, b, c)


def test_bucketed_join_elides_exchange_and_sort(spark):
    """Both sides written bucketBy(8, key): the forced sort-merge
    join must read the bucketed layout directly — no Exchange
    anywhere in the executed join plan, and any Sort is partition-
    LOCAL (global=false), i.e. zero data movement."""
    from pyspark.sql import functions as F
    from mlentory_etl_pipeline_spark.sources import files

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    files.write_bucketed(left, "bkt_test_left", "k")
    files.write_bucketed(right, "bkt_test_right", "k")
    joined = files.colocated_join(spark, "bkt_test_left", "bkt_test_right", "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    import re
    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", plan  # local sort only
    assert joined.count() == 500
