"""Raw-file corpus ingest + layout maintenance.

The reference lands API payloads as JSON files and re-reads them
(`code/extractors/mlentory_extract/hf_extract/HFDatasetManager.py`
saves raw JSON; run logs re-read them) — at corpus scale the same job
is: read JSONL with an EXPLICIT schema, quarantine malformed records
instead of failing the batch, and keep the file layout healthy
(compaction) so scans stay parallel without small-file overhead.

Scale posture:

- `read_jsonl` forces a user-supplied schema: schema inference reads
  the whole corpus twice and silently widens types between runs —
  never acceptable at 100 TB. Corrupt records are kept in a side
  column (PERMISSIVE mode) so one bad line in 10¹⁰ quarantines, not
  kills; `quarantine()` splits good/bad behind a lazy local
  checkpoint (the reader needs a barrier before the corrupt-column
  filter) that leaves no cache entry behind.
- `compact` rewrites a directory of many small files into
  size-targeted files. Small files are the classic lake killer: a
  10⁶-file input costs 10⁶ scheduler tasks and metadata round-trips.
  Sorting within files by a caller-chosen key keeps min/max zone maps
  selective for later scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Line-delimited JSON with explicit schema + corrupt-record
    quarantine column. PERMISSIVE: a malformed line yields nulls + the
    raw line in ``_corrupt_record``; well-formed lines carry null
    there."""
    full = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows_without_corrupt_col, bad_raw_lines). Spark requires a
    materialization barrier before filtering on the corrupt column
    (documented JSON-reader behavior: the filter would otherwise push
    into the parser and drop the raw line). The barrier is a lazy local
    checkpoint, not a cache: it registers nothing with the
    CacheManager, so no entry outlives the two frames."""
    df = df.localCheckpoint(eager=False)
    good = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def compact(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    sort_col: str,
    target_rows_per_file: int,
) -> int:
    """Rewrite ``src_dir`` parquet into ``dest_dir`` with ≈target-sized,
    range-sorted files. Returns the file count written.

    `repartitionByRange(sort_col)` gives globally ordered, evenly
    sized files (sampling-based ranges absorb skew), so later scans
    with predicates on ``sort_col`` prune by footer min/max. Row-count
    proxy for bytes keeps the helper engine-portable; swap in
    `maxRecordsPerFile`/Delta OPTIMIZE on a lake."""
    df = spark.read.parquet(src_dir)
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    df.repartitionByRange(files, F.col(sort_col)).write.mode("overwrite").parquet(dest_dir)
    return files


def _interleave_bits(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two rank-normalized ints in
    [0, 2^bits): bit i of ``a`` lands at position 2i+1, of ``b`` at 2i.
    Built as a sum of literal-multiplier terms in a Python loop —
    `shiftleft` needs a Python int for the distance (a Column bit index
    inside a HOF lambda cannot be used), and the flat expression stays
    inside whole-stage codegen."""
    terms = []
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        terms.append(bit_a * F.lit(1 << (2 * i + 1)) + bit_b * F.lit(1 << (2 * i)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_write(
    spark: SparkSession,
    df: DataFrame,
    dest_dir: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered on the Z-order curve of (col_a, col_b):
    both columns are min-max rank-normalized to ``bits`` bits (the
    min/max ride as a 1-row broadcast — no driver collect), interleaved
    into a Morton key, and range-partitioned into ``n_files`` files.

    Effect at scale: file-footer min/max stay selective on BOTH
    columns, so predicates on either dimension prune files — the
    standard multi-dimensional layout trade (each dimension prunes
    ~sqrt of what a single-column sort would give it, but no dimension
    is hopeless). Min-max normalization assumes roughly uniform keys;
    for skewed keys substitute quantile ranks at the same call site."""
    span = F.lit((1 << bits) - 1)
    bounds = df.groupBy().agg(
        F.min(col_a).alias("_amin"), F.max(col_a).alias("_amax"),
        F.min(col_b).alias("_bmin"), F.max(col_b).alias("_bmax"),
    )
    norm_a = (
        (F.col(col_a) - F.col("_amin"))
        * span
        / F.greatest(F.col("_amax") - F.col("_amin"), F.lit(1))
    ).cast("long")
    norm_b = (
        (F.col(col_b) - F.col("_bmin"))
        * span
        / F.greatest(F.col("_bmax") - F.col("_bmin"), F.lit(1))
    ).cast("long")
    keyed = df.join(F.broadcast(bounds)).withColumn(
        "_zkey", _interleave_bits(norm_a, norm_b, bits)
    )
    (
        keyed.repartitionByRange(n_files, F.col("_zkey"))
        .drop("_amin", "_amax", "_bmin", "_bmax", "_zkey")
        .write.mode("overwrite")
        .parquet(dest_dir)
    )


# Widening lattice for evolve_union: a type may flow rightward only.
_WIDENING_ORDER = [
    "tinyint", "smallint", "int", "bigint", "float", "double",
]


def _wider(a: str, b: str) -> str | None:
    """The wider of two primitive type names under the numeric
    widening lattice, or None if the pair is not widenable."""
    if a == b:
        return a
    if a in _WIDENING_ORDER and b in _WIDENING_ORDER:
        return _WIDENING_ORDER[max(_WIDENING_ORDER.index(a), _WIDENING_ORDER.index(b))]
    ab = {a, b}
    if "string" in ab:
        # anything renders to string, but ONLY when the caller opted in
        return "string"
    if ab == {"date", "timestamp"}:
        return "timestamp"
    if ab == {"date", "timestamp_ntz"}:
        return "timestamp_ntz"
    # timestamp vs timestamp_ntz is deliberately NOT widenable: mixing
    # zoned and zoneless instants shifts data silently
    return None


def evolve_union(
    dfs: list[DataFrame],
    allow_to_string: bool = False,
) -> DataFrame:
    """Schema-evolution union: combine snapshots whose schemas drifted
    across pipeline versions — missing columns null-fill, numeric
    types widen along the standard lattice (int → bigint → double),
    date widens to timestamp. The lake `mergeSchema` behavior, made
    explicit and STRICT: a non-widenable conflict (e.g. bigint vs
    boolean) raises instead of silently stringifying, unless
    ``allow_to_string=True`` opts into the string fallback.

    The reference re-reads historical extraction JSON whose shape
    changed between extractor versions (`HFDatasetManager.py` snapshot
    schema vs API schema) and pandas silently object-widens; at lake
    scale silent widening corrupts downstream typing, so the widened
    target schema is computed ONCE from the inputs' schemas (driver
    metadata — no data pass) and every input projects to it map-side:
    the union is a zero-shuffle concatenation of casts.

    Column order follows first appearance across ``dfs``.
    """
    if not dfs:
        raise ValueError("evolve_union needs at least one input")
    target: dict[str, str] = {}
    for df in dfs:
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if f.name not in target:
                target[f.name] = t
                continue
            w = _wider(target[f.name], t)
            if w is None and allow_to_string:
                w = "string"
            if w is None:
                raise TypeError(
                    f"column {f.name!r}: {target[f.name]} vs {t} is not "
                    f"widenable (pass allow_to_string=True to force)"
                )
            target[f.name] = w
    out = None
    for df in dfs:
        have = {f.name for f in df.schema.fields}
        proj = df.select(
            *[
                (F.col(c) if c in have else F.lit(None)).cast(t).alias(c)
                for c, t in target.items()
            ]
        )
        out = proj if out is None else out.unionByName(proj)
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int = 8,
) -> None:
    """Persist ``df`` as a Hive-bucketed, bucket-sorted parquet table:
    rows are hash-partitioned into ``num_buckets`` files per write
    task ON DISK, so a later equi-join or aggregation on ``key``
    between tables bucketed the same way needs NO SHUFFLE — the
    bucketed scan reports the hash distribution and the planner elides
    both Exchange nodes (asserted in tests). The remaining sort-merge
    Sorts are PARTITION-LOCAL (global=false — no data movement);
    Spark 3+ stopped trusting bucket-file sort order because a bucket
    written by several tasks is only sorted per file.

    This is the storage half of the co-located-join story (SURVEY §4 /
    SCALE.md): at 100 TB, bucketing the fact tables by their join key
    turns every repeated join on that key from a full shuffle into a
    zip of pre-aligned files. The cost is paid ONCE at write time (the
    bucketing write shuffles by hash(key)).

    The in-memory catalog forgets managed tables across sessions while
    their warehouse directory persists, so a re-run would hit
    LOCATION_ALREADY_EXISTS: drop the catalog entry AND the stale
    location (through the Hadoop FS API — works on any filesystem)
    before writing.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    jvm = spark._jvm
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = jvm.org.apache.hadoop.fs.Path(warehouse + "/" + table)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(path, True)
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key with a forced
    sort-merge join — with both sides bucketed and bucket-sorted by
    ``key``, the executed plan has no Exchange and no Sort (assert in
    tests via ``_assert_no_exchange``)."""
    l = spark.table(left_table)
    r = spark.table(right_table)
    return l.hint("merge").join(r, key)
