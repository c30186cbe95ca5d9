"""Golden versioning scenarios from FIXTURES.md §6 (mirroring the
reference's ``tests/unit/hf/load/test_GraphHandler.py`` state-count
style) plus the interval invariants SURVEY §5 calls for."""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators import versioned_store as vs

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
T1 = dt.datetime(2024, 2, 1, 0, 0, 0)


def make_batch(spark, rows):
    return spark.createDataFrame(
        [
            (s, p, o, m, c, t)
            for (s, p, o, m, c, t) in rows
        ],
        "subject string, predicate string, object string, "
        "extraction_method string, confidence double, extraction_time timestamp",
    )


def two_model_fixture(spark, t=T0):
    """2 models × 8 facts each = 16 triples, one extraction method."""
    rows = []
    for model in ("m1", "m2"):
        for i in range(8):
            rows.append((model, f"p{i}", f"{model}-v{i}", "Parsed_from_HF_dataset", 1.0, t))
    return make_batch(spark, rows)


def catalog_batch(spark, day: int, changed: int = 0, models: int = 500, preds: int = 12):
    """``models × preds`` triples (6k by default) observed on day ``day``
    after T0; the first ``changed`` models get a new ``p0`` value."""
    return spark.range(models * preds).selectExpr(
        f"concat('m', CAST(id DIV {preds} AS STRING)) AS subject",
        f"concat('p', CAST(id % {preds} AS STRING)) AS predicate",
        f"concat('v', CAST(id % {preds} AS STRING), CASE WHEN id DIV {preds} < {changed} "
        f"AND id % {preds} = 0 THEN '-{day}' ELSE '' END) AS object",
        "'Parsed_from_HF_dataset' AS extraction_method",
        "1.0D AS confidence",
        f"TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {day} DAYS AS extraction_time",
    )


def jobs_in(spark, fn):
    """``(fn(), jobs, tasks)``: the Spark jobs ``fn`` ran, counted by job
    group, and the tasks of their stages that ran (a stage a job reuses
    from an earlier one is skipped and runs none)."""
    sc = spark.sparkContext
    group = f"vts-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stages = {sid for j in jobs for sid in sc.statusTracker().getJobInfo(j).stageIds}
    tasks = 0
    for sid in stages:
        stage = jsc.statusStore().lastStageAttempt(sid)
        if stage.status().toString() != "SKIPPED":
            tasks += stage.numTasks()
    return out, len(jobs), tasks


def state_counts(state):
    return (
        state.triplet.count(),
        state.triplet.select("subject").distinct().count(),
        state.version_range.count(),
        state.extraction_info.count(),
        state.version_range.where("deprecated").count(),
    )


def check_invariants(state):
    # At most one open (non-deprecated) range per (triplet_hash, info_hash).
    dup_open = (
        state.version_range.where(~F.col("deprecated"))
        .groupBy("triplet_hash", "info_hash")
        .count()
        .where("count > 1")
        .count()
    )
    assert dup_open == 0
    # use_start <= use_end everywhere.
    assert state.version_range.where("use_start > use_end").count() == 0
    # current graph == triples with an open range.
    open_n = (
        state.version_range.where(~F.col("deprecated"))
        .select("triplet_hash")
        .distinct()
        .count()
    )
    assert vs.current_graph(state).count() == open_n


def test_fresh_load(spark):
    state = vs.merge_batch(vs.empty_state(spark), two_model_fixture(spark))
    assert state_counts(state) == (16, 2, 16, 1, 0)
    check_invariants(state)
    cg = vs.current_graph(state)
    assert cg.count() == 16
    assert vs.counts(state).collect()[0].asDict() == {"n_subjects": 2, "n_triples": 16}


def test_idempotent_reload_advances_use_end(spark):
    s1 = vs.merge_batch(vs.empty_state(spark), two_model_fixture(spark, T0))
    s2 = vs.merge_batch(s1, two_model_fixture(spark, T1))
    assert state_counts(s2) == (16, 2, 16, 1, 0)
    check_invariants(s2)
    ends = [r.use_end for r in s2.version_range.collect()]
    assert all(e == T1 for e in ends)
    starts = [r.use_start for r in s2.version_range.collect()]
    assert all(s == T0 for s in starts)


def test_changed_values_deprecate_old_ranges(spark):
    s1 = vs.merge_batch(vs.empty_state(spark), two_model_fixture(spark, T0))
    # Re-load with 3 changed values on m1 (new objects for p0..p2).
    rows = []
    for model in ("m1", "m2"):
        for i in range(8):
            val = f"{model}-CHANGED{i}" if model == "m1" and i < 3 else f"{model}-v{i}"
            rows.append((model, f"p{i}", val, "Parsed_from_HF_dataset", 1.0, T1))
    s2 = vs.merge_batch(s1, make_batch(spark, rows))
    # 16 + 3 new triplets; 16 + 3 ranges; 3 deprecated (FIXTURES §6 row 2
    # modulo one extraction method instead of per-load methods).
    assert state_counts(s2) == (19, 2, 19, 1, 3)
    check_invariants(s2)
    assert vs.current_graph(s2).count() == 16
    dep = vs.deprecated_graph(s2)
    assert dep.count() == 3
    assert {r.object for r in dep.collect()} == {"m1-v0", "m1-v1", "m1-v2"}


def test_point_in_time_graph(spark):
    s1 = vs.merge_batch(vs.empty_state(spark), two_model_fixture(spark, T0))
    rows = [("m1", "p0", "NEW", "Parsed_from_HF_dataset", 1.0, T1)]
    # m1 shrinks to a single fact; other 7 m1 facts deprecate.
    s2 = vs.merge_batch(s1, make_batch(spark, rows))
    assert vs.graph_at(s2, T0).count() == 16
    now = vs.current_graph(s2)
    assert now.count() == 8 + 1
    assert vs.graph_at(s2, T1).count() >= 1
    check_invariants(s2)


def test_disambiguation_keeps_max_confidence(spark):
    rows = [
        ("m1", "p0", "v", "method_a", 0.5, T0),
        ("m1", "p0", "v", "method_b", 0.9, T0),
        ("m1", "p0", "v", "method_c", 0.9, T1),
    ]
    state = vs.merge_batch(vs.empty_state(spark), make_batch(spark, rows))
    assert state.triplet.count() == 1
    # argmax: confidence 0.9, tie broken by later extraction_time.
    info = state.version_range.join(state.extraction_info, "info_hash").collect()
    assert len(info) == 1
    assert info[0].extraction_method == "method_c"
    check_invariants(state)


def test_reappearing_triple_gets_fresh_range(spark):
    b1 = make_batch(spark, [("m1", "p0", "v0", "m", 1.0, T0), ("m1", "p1", "x", "m", 1.0, T0)])
    b2 = make_batch(spark, [("m1", "p1", "x", "m", 1.0, T1)])  # p0 dropped → deprecated
    t2 = dt.datetime(2024, 3, 1)
    b3 = make_batch(spark, [("m1", "p0", "v0", "m", 1.0, t2), ("m1", "p1", "x", "m", 1.0, t2)])
    s = vs.merge_batch(vs.merge_batch(vs.merge_batch(vs.empty_state(spark), b1), b2), b3)
    # p0 reappears: deprecated range stays, fresh open range added.
    ranges = s.version_range.join(
        s.triplet.where("predicate = 'p0'").select("triplet_hash"), "triplet_hash"
    ).collect()
    assert len(ranges) == 2
    assert sorted(r.deprecated for r in ranges) == [False, True]
    assert vs.current_graph(s).count() == 2
    check_invariants(s)


def test_persistence_roundtrip(spark, tmp_path):
    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    store.load_batch(two_model_fixture(spark, T0))
    state = store.state()
    assert state_counts(state) == (16, 2, 16, 1, 0)
    # Second batch read from disk, merged, written back.
    store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    state = store.state()
    assert state.triplet.count() == 17
    assert vs.current_graph(state).count() == 9
    check_invariants(state)


def test_load_batch_releases_its_cached_batch(spark, tmp_path):
    """merge_batch caches the disambiguated batch for its five joins;
    once load_batch has written the new state nothing reads that cache,
    so repeated loads must not accumulate cached RDDs."""
    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    before = n_cached()
    store.load_batch(two_model_fixture(spark, T0))
    store.load_batch(two_model_fixture(spark, T1))
    store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    assert n_cached() <= before
    assert store.state().triplet.count() == 17


def test_vacuum_closed_ranges(spark, tmp_path):
    """Vacuum drops only deprecated-and-closed ranges; current graph,
    open history, and graph_at inside the horizon are untouched;
    orphaned triplet/info rows are pruned."""
    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    store.load_batch(two_model_fixture(spark, T0))
    # m1/p0 changes → old value deprecates with use_end = T1 ... actually
    # use_end of the deprecated range stays T0 (untouched at merge time).
    store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    state = store.state()
    assert state.version_range.where("deprecated").count() > 0

    cur_before = {tuple(r) for r in vs.current_graph(state).collect()}
    cutoff = dt.datetime(2024, 1, 15)  # after T0 closes, before T1
    vac = vs.vacuum_closed_ranges(state, cutoff)

    # Deprecated ranges closed before the cutoff are gone; others stay.
    assert vac.version_range.where(
        "deprecated AND use_end < timestamp'2024-01-15'"
    ).count() == 0
    # Current graph identical.
    assert {tuple(r) for r in vs.current_graph(vac).collect()} == cur_before
    # graph_at AFTER the cutoff identical.
    at_t1 = {tuple(r) for r in vs.graph_at(state, T1).collect()}
    assert {tuple(r) for r in vs.graph_at(vac, T1).collect()} == at_t1
    # No orphan triplets: every triplet has a surviving range.
    orphans = vac.triplet.join(
        vac.version_range.select("triplet_hash").distinct(),
        "triplet_hash",
        "left_anti",
    )
    assert orphans.count() == 0
    check_invariants(vac)


def test_query_interface_facade(spark, tmp_path):
    """The §3.3 QueryInterface: every read surface answers, and the
    search→history composition returns joined rows in one plan."""
    from mlentory_etl_pipeline_spark.api import QueryInterface
    from mlentory_etl_pipeline_spark.operators.search import build_search_docs

    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    store.load_batch(two_model_fixture(spark, T0))

    docs = build_search_docs(
        spark.createDataFrame(
            [("m1", "alpha model", "hash join tricks"),
             ("m2", "beta model", "merge filter text")],
            "id string, name string, body string",
        ),
        "id",
        "name",
        text_cols=["body"],
    )
    qi = QueryInterface(store, docs)

    assert qi.counts().collect()[0].n_subjects == 2
    assert qi.current_graph().count() == 16
    assert qi.history("m1").count() == 8
    assert qi.lookup("m1").count() == 1
    assert qi.search_prefix("alp").collect()[0].db_identifier == "m1"
    hits = qi.search_bm25(["merge", "filter"], "body").collect()
    assert hits and hits[0].db_identifier == "m2"
    joined = qi.search_with_history(["hash"], "body", k=5)
    rows = joined.collect()
    assert rows and all(r.db_identifier == "m1" for r in rows)
    assert {r.predicate for r in rows} == {f"p{i}" for i in range(8)}

    # vacuum via the facade persists
    qi.vacuum(dt.datetime(2024, 1, 15))
    assert qi.current_graph().count() == 16


def test_snapshot_time_travel(spark, tmp_path):
    """Store-level VERSION AS OF: each commit archives the previous
    tables; state_at_version reads them back; retention bounds disk."""
    store = vs.VersionedTripleStore(spark, str(tmp_path / "s"), keep_snapshots=2)
    store.load_batch(two_model_fixture(spark, T0))          # commit 1 (no prior → no snap)
    store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))  # snap v0
    store.load_batch(
        make_batch(spark, [("m3", "p0", "x", "m2", 1.0, T1)])
    )                                                        # snap v1
    assert store.versions() == [0, 1]

    # v0 = state after the first load: 16 triples, no deprecations
    v0 = store.state_at_version(0)
    assert v0.triplet.count() == 16
    assert v0.version_range.where("deprecated").count() == 0
    # v1 = after the second load: 17 triplets; the batch IS m1's full
    # new description, so its 7 unobserved facts deprecate too (V5):
    # 7 + the replaced p0 value = 8
    v1 = store.state_at_version(1)
    assert v1.triplet.count() == 17
    assert v1.version_range.where("deprecated").count() == 8
    # current: 18 triplets
    assert store.state().triplet.count() == 18

    # retention: a fourth commit evicts v0
    store.load_batch(make_batch(spark, [("m4", "p0", "y", "m2", 1.0, T1)]))
    assert store.versions() == [1, 2]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.state_at_version(0)


def test_committed_state_reads_run_no_jobs(spark, tmp_path):
    """After a commit the handle keeps the committed state: state() and
    the build of every QueryInterface store read reuse it and run no
    job (no schema inference, no file probe)."""
    from mlentory_etl_pipeline_spark.api import QueryInterface

    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    store.load_batch(two_model_fixture(spark, T0))
    committed = store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    state, jobs, _ = jobs_in(spark, store.state)
    assert jobs == 0 and state is committed

    qi = QueryInterface(store)
    reads = {
        "current_graph": (),
        "deprecated_graph": (),
        "graph_at": (T0,),
        "changes_between": (T0, T1),
        "counts": (),
        "history": ("m1",),
    }
    for kind, args in reads.items():
        _, jobs, _ = jobs_in(spark, lambda: getattr(qi, kind)(*args))
        assert jobs == 0, kind
    assert qi.current_graph().count() == 9

    # the vacuum commits through the same path and swaps the state in
    vacuumed = qi.vacuum(dt.datetime(2024, 1, 15))
    assert store.state() is vacuumed
    assert qi.current_graph().count() == 9


def file_counts(store):
    return {
        t: len(glob.glob(os.path.join(store.path, t, "*.parquet")))
        for t in store.TABLE_NAMES
    }


def test_warm_load_batch_jobs_and_file_counts(spark, tmp_path):
    """A warm load on a 6k-triplet store runs 14 jobs (33 with a
    schema-inferring state() and a partition-count probe, 16 with the
    cached batch kept at 32 partitions) and one task per stage, bar the
    batch's source scan: merge_batch's cached batch is one AQE-coalesced
    partition, so none of the five stages that scan it fans out (about
    210 tasks when each ran one task per shuffle partition). The first
    commit writes 1 / 1 / 1 files: a first commit's width is one file
    per 8 shuffle partitions (4 here), but the merge outputs of a batch
    this small have one partition (4 / 1 / 4 files when the cache kept
    32); the warm commit rewrites each table, far below ``_FILE_BYTES``,
    as one file."""
    from mlentory_etl_pipeline_spark.session import scoped_conf

    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "32"}):
        store.load_batch(catalog_batch(spark, 0))
        assert file_counts(store) == {"triplet": 1, "extraction_info": 1, "version_range": 1}
        # a second provenance adds an extraction_info row
        warm = catalog_batch(spark, 1, changed=75).unionByName(
            make_batch(spark, [("m500", "p0", "v0", "card", 0.5, T0 + dt.timedelta(days=1))])
        )
        sources = warm.rdd.getNumPartitions()
        state, jobs, tasks = jobs_in(spark, lambda: store.load_batch(warm))
    assert jobs <= 14, jobs
    assert tasks <= jobs + sources, (jobs, tasks, sources)
    assert file_counts(store) == {"triplet": 1, "extraction_info": 1, "version_range": 1}
    assert state.triplet.count() == 6000 + 75 + 1
    assert state.extraction_info.count() == 2
    assert state.version_range.where("deprecated").count() == 75


def test_merge_cache_is_sized_by_bytes(spark, tmp_path):
    """merge_batch caches the disambiguated batch with AQE's coalescing
    on: the 6k-triplet batch, far below the 64 MiB advisory size, is one
    partition at 32 shuffle partitions (all 32 when the cache was
    planned with coalescing off), and a small enough advisory size
    splits its few hundred KiB of shuffle output into more. Building the
    cache leaves the session's conf as it was."""
    from mlentory_etl_pipeline_spark.session import scoped_conf

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    before = spark.conf.get(key, None)
    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    store.load_batch(catalog_batch(spark, 0))
    for advisory, check in (("64m", lambda n: n == 1), ("128k", lambda n: 1 < n < 32)):
        batch = catalog_batch(spark, 1, changed=75)
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "32",
                                 "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory,
                                 # AQE's floor (1 MiB) would otherwise win
                                 "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k"}):
            vs.merge_batch(store.state(), batch)
            try:
                n = vs._disambiguated(batch).rdd.getNumPartitions()
            finally:
                vs._disambiguated(batch).unpersist()
        assert check(n), (advisory, n)
    assert spark.conf.get(key, None) == before


def test_load_batch_evicts_its_cached_batch_when_commit_raises(spark, tmp_path, monkeypatch):
    """A merge or commit that raises leaves no cache entry behind."""
    from pyspark import StorageLevel

    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    batch = two_model_fixture(spark, T0)

    def failing_commit(state):
        raise OSError("disk full")

    monkeypatch.setattr(store, "commit", failing_commit)
    with pytest.raises(OSError, match="disk full"):
        store.load_batch(batch)
    assert vs._disambiguated(batch).storageLevel == StorageLevel.NONE


def test_commit_removes_its_temp_copies_when_a_write_raises(spark, tmp_path, monkeypatch):
    """A table write that raises leaves no ``vts-*`` temp copy of the
    tables written before it, and the committed store reads as before."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    path = str(tmp_path / "store")
    store = vs.VersionedTripleStore(spark, path)
    store.load_batch(two_model_fixture(spark, T0))

    def rows(state):
        return [sorted(tuple(r) for r in df.collect())
                for df in (state.triplet, state.extraction_info, state.version_range)]

    before = rows(store.state())
    width = store._width

    def failing_width(name):
        if name == "version_range":
            raise OSError("disk full")
        return width(name)

    monkeypatch.setattr(store, "_width", failing_width)
    with pytest.raises(OSError, match="disk full"):
        store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    assert [d for d in os.listdir(tmp) if d.startswith("vts-")] == []
    assert rows(store.state()) == before
    assert rows(vs.VersionedTripleStore(spark, path).state()) == before


@pytest.mark.parametrize("touch_unchanged", [False, True])
def test_merge_of_an_empty_batch_changes_no_row(spark, touch_unchanged):
    """An empty batch has no batch time, opens no range, deprecates
    nothing and, with ``touch_unchanged``, advances no ``use_end``."""
    s1 = vs.merge_batch(vs.empty_state(spark), two_model_fixture(spark, T0))
    s1 = vs.merge_batch(s1, make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    s2 = vs.merge_batch(
        s1, two_model_fixture(spark, T1).where("false"), touch_unchanged=touch_unchanged
    )
    for name in vs.VersionedTripleStore.TABLE_NAMES:
        want = sorted(tuple(r) for r in getattr(s1, name).collect())
        assert sorted(tuple(r) for r in getattr(s2, name).collect()) == want, name


def test_commit_width_follows_committed_files(spark, tmp_path, monkeypatch):
    """The write width is read off the committed files: one file per
    ``_FILE_BYTES`` of them. A first commit writes one file per 8
    shuffle partitions."""
    from mlentory_etl_pipeline_spark.session import scoped_conf

    path = tmp_path / "store"
    store = vs.VersionedTripleStore(spark, str(path))
    assert store._width("triplet") == 1  # conftest: 8 shuffle partitions
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "48"}):
        assert store._width("triplet") == 6
    store.load_batch(two_model_fixture(spark, T0))
    files = glob.glob(str(path / "triplet" / "*.parquet"))
    assert store._width("triplet") == len(files) == 1
    size = sum(os.path.getsize(f) for f in files)
    monkeypatch.setattr(vs, "_FILE_BYTES", size // 3)
    assert store._width("triplet") == -(-size // (size // 3)) >= 3


def test_open_rejects_wrong_footer_type(spark, tmp_path):
    """Tables are read with explicit schemas, so a footer that disagrees
    must fail when a handle opens the store, not be read wrongly."""
    path = str(tmp_path / "store")
    vs.VersionedTripleStore(spark, path).load_batch(two_model_fixture(spark, T0))
    for f in glob.glob(os.path.join(path, "version_range", "*.parquet")):
        t = pq.read_table(f)
        i = t.schema.get_field_index("use_start")
        pq.write_table(t.set_column(i, "use_start", t.column(i).cast(pa.string())), f)
    with pytest.raises(ValueError, match="use_start"):
        vs.VersionedTripleStore(spark, path).state()


def test_commit_rejects_wrong_analyzed_schema(spark, tmp_path):
    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    state = vs.merge_batch(vs.empty_state(spark), two_model_fixture(spark, T0))
    bad = vs.StoreState(
        state.triplet,
        state.extraction_info,
        state.version_range.withColumn("use_start", F.col("use_start").cast("string")),
    )
    with pytest.raises(TypeError, match="version_range"):
        store.commit(bad)
    assert not os.path.exists(tmp_path / "store" / "triplet")


def test_state_at_version_reads_explicit_schema(spark, tmp_path):
    """Archived snapshots go through the same explicit-schema reader:
    no job to open, the store's column types, and a footer check."""
    path = str(tmp_path / "s")
    store = vs.VersionedTripleStore(spark, path, keep_snapshots=1)
    store.load_batch(two_model_fixture(spark, T0))
    store.load_batch(make_batch(spark, [("m1", "p0", "NEW", "m2", 1.0, T1)]))
    v0, jobs, _ = jobs_in(spark, lambda: store.state_at_version(0))
    assert jobs == 0
    for df, schema in zip(
        (v0.triplet, v0.extraction_info, v0.version_range), store.TABLE_SCHEMAS
    ):
        assert [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ] == vs._columns(schema)
    assert v0.triplet.count() == 16
    f = glob.glob(os.path.join(path, "snapshots", "v0", "extraction_info", "*.parquet"))[0]
    t = pq.read_table(f)
    pq.write_table(t.drop(["extraction_confidence"]), f)
    with pytest.raises(ValueError, match="extraction_confidence"):
        store.state_at_version(0)


def melted_catalog(spark, day: int, models: int = 200, preds: int = 6):
    """A ``models × preds`` batch built the way the pipeline builds one:
    a wide frame of model cards, ``melt``-ed to triples (its plan holds
    an unpivot, an Expand)."""
    from mlentory_etl_pipeline_spark.operators.melt import melt

    props = [f"p{i}" for i in range(preds)]
    wide = spark.range(models).selectExpr(
        "concat('m', CAST(id AS STRING)) AS subject",
        *[f"concat('v{i}-', CAST(id % 7 AS STRING)) AS p{i}" for i in range(preds)],
    )
    return melt(wide, ["subject"], props, "predicate", "object").selectExpr(
        "subject",
        "predicate",
        "object",
        "'harvested_from_card' AS extraction_method",
        "1.0D AS confidence",
        f"TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {day} DAYS AS extraction_time",
    )


def plan_nodes(df):
    """``(name, is_leaf)`` for each node of ``df``'s optimized logical
    plan. An InMemoryRelation is a leaf: the plan it caches is not
    walked."""
    nodes, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kids = node.children()
        nodes.append((node.nodeName(), kids.isEmpty()))
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_melted_batch_merge_reads_the_batch_only_through_the_cache(spark, tmp_path):
    """A batch whose plan holds an Expand (``melt`` is an unpivot) is
    read by all three merge outputs through its one cache entry: no
    Expand and no batch source outside an InMemoryRelation. Referencing
    the cached frame by its plan, only the first reference of a
    statement hit the cache on PySpark 4.1, so the range write re-ran
    the melt and the batch's shuffle and aggregation. An Observation
    on the batch still completes in the load."""
    import threading

    from mlentory_etl_pipeline_spark.metrics import observed

    store = vs.VersionedTripleStore(spark, str(tmp_path / "store"))
    store.load_batch(melted_catalog(spark, 0))
    batch = melted_catalog(spark, 1)
    merged = vs.merge_batch(store.state(), batch)
    try:
        for name, df in zip(store.TABLE_NAMES, (merged.triplet, merged.extraction_info,
                                                merged.version_range)):
            nodes = plan_nodes(df)
            assert "Expand" not in {n for n, _ in nodes}, name
            leaves = {n for n, leaf in nodes if leaf}
            assert "InMemoryRelation" in leaves, (name, leaves)
            assert leaves <= {"InMemoryRelation", "LogicalRelation"}, (name, leaves)
    finally:
        vs._disambiguated(batch).unpersist()
    inst, obs = observed(batch, "melted_load")
    state, jobs, _ = jobs_in(spark, lambda: store.load_batch(inst))
    assert jobs <= 16, jobs  # 18 when the range write re-ran the melt
    assert state.version_range.where("use_end > use_start").count() == 1200
    # Observation.get blocks until a query whose logical plan holds the
    # batch's CollectMetrics has run: read it on a thread, with a bound
    got = {}
    reader = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    reader.start()
    reader.join(60)
    assert not reader.is_alive(), "the load never completed the batch's Observation"
    assert got["n_rows"] == 1200
