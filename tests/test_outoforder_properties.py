"""Property-based out-of-order SCD2 fold checks (VERDICT r2 task 8).

Hypothesis generates random batch PERMUTATIONS (not just the fixture's
2024→2026→2025 ordering) and random batch contents, folds them through
``merge_batch``, and compares the full final range state against a
sequential in-memory model of the documented guard semantics
(``versioned_store.py`` V4–V5: monotone ``use_end`` via greatest,
deprecation only when ``use_end < batch_time``). The model applied to
the identity permutation IS the in-order fold, so model equality checks
exactly the convergence the guard predicts — including the cases where
out-of-order processing legitimately diverges (insertion after the
would-be deprecating batch).

Scale of coverage: each hypothesis example folds ONE Spark plan
containing ~25 independent scenarios under disjoint subject namespaces
(a Spark fold costs ~9 s, so packing scenarios is what makes hundreds
of randomized cases affordable); 12 examples × 25 scenarios ≈ 300
randomized permutation/content cases per run, with every scenario
checked independently against its model.
"""

from __future__ import annotations

import datetime as dt
import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators import versioned_store as vs

N_SCENARIOS = 25
SUBJECTS = 3
PREDICATES = 2


import pytest

pytestmark = pytest.mark.slow


def _scenario_contents(rng: random.Random, n_batches: int, k: int):
    """Random triples per batch for scenario ``k``: each (subject,
    predicate) pair is independently present/absent per batch with one
    of two values — presence changes exercise deprecation, value
    changes exercise new-triple insertion, absence exercises the
    untouched paths."""
    out = []
    for _ in range(n_batches):
        triples = set()
        for sj in range(SUBJECTS):
            for pj in range(PREDICATES):
                if rng.random() < 0.55:
                    triples.add(
                        (f"sc{k}:s{sj}", f"p{pj}", f"v{rng.randint(0, 1)}")
                    )
        out.append(triples)
    return out


def _model_fold(contents, times, order):
    """Sequential in-memory model of merge_batch's range semantics for
    one scenario (single extraction info): returns the multiset of
    (s, p, o, use_start, use_end, deprecated)."""
    ranges: list[list] = []  # [triple, start, end, deprecated]
    for i in order:
        bt, triples = times[i], contents[i]
        subjects = {s for (s, _, _) in triples}
        open_by_triple = {}
        for r in ranges:
            if not r[3]:
                open_by_triple[r[0]] = r
        for r in ranges:
            triple, _, end, dep = r
            if dep:
                continue
            if triple in triples:
                r[2] = max(end, bt)
            elif triple[0] in subjects:
                if end < bt:
                    r[3] = True
            # subject absent: untouched (touch_unchanged=False default)
        for triple in sorted(triples):
            if triple not in open_by_triple:
                ranges.append([triple, bt, bt, False])
    return sorted((t[0], t[1], t[2], s, e, d) for (t, s, e, d) in ranges)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_batches=st.integers(min_value=3, max_value=4),
    perm_seed=st.integers(min_value=0, max_value=2**31 - 1),
    content_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_out_of_order_fold_matches_sequential_model(
    spark, n_batches, perm_seed, content_seed
):
    times = [dt.datetime(2024, 1 + i, 1) for i in range(n_batches)]
    order = list(range(n_batches))
    random.Random(perm_seed).shuffle(order)
    rng = random.Random(content_seed)
    scenarios = {
        k: _scenario_contents(rng, n_batches, k) for k in range(N_SCENARIOS)
    }

    schema = (
        "subject string, predicate string, object string, "
        "extraction_method string, confidence double, extraction_time timestamp"
    )
    state = vs.empty_state(spark)
    for i in order:
        rows = [
            (s, p, o, "hf", 1.0, times[i])
            for k in scenarios
            for (s, p, o) in sorted(scenarios[k][i])
        ]
        # sentinel guarantees the batch is non-empty (batch_time = max
        # extraction_time needs at least one row); its namespace is
        # modeled like any other scenario's
        rows.append((f"sent:b{i}", "p0", "v0", "hf", 1.0, times[i]))
        state = vs.merge_batch(state, spark.createDataFrame(rows, schema))
    state = vs.materialized(state)

    got_rows = (
        state.version_range.join(
            state.triplet.select("triplet_hash", "predicate", "object"),
            "triplet_hash",
        )
        .select("subject", "predicate", "object", "use_start", "use_end", "deprecated")
        .collect()
    )

    # interval invariants under ANY permutation
    assert all(r.use_start <= r.use_end for r in got_rows)
    open_counts: dict = {}
    for r in got_rows:
        if not r.deprecated:
            key = (r.subject, r.predicate, r.object)
            open_counts[key] = open_counts.get(key, 0) + 1
    assert all(v == 1 for v in open_counts.values()), "duplicate open range"

    # full-state equality against the sequential model, per scenario
    by_scenario: dict = {}
    for r in got_rows:
        ns = r.subject.split(":")[0]
        by_scenario.setdefault(ns, []).append(
            (r.subject, r.predicate, r.object, r.use_start, r.use_end, r.deprecated)
        )
    for k, contents in scenarios.items():
        got = sorted(by_scenario.get(f"sc{k}", []))
        want = _model_fold(contents, times, order)
        assert got == want, f"scenario {k} order {order}: {got} != {want}"

    # Convergence where the guard predicts it — the precise theorem the
    # out-of-order guard provides: for any triple that was NEVER
    # deprecated under the permuted fold, the open range's use_end
    # equals max(times of batches containing the triple) regardless of
    # processing order (greatest() is order-insensitive, and the
    # use_end < batch_time predicate blocks older batches from
    # deprecating already-extended ranges — without the guard, a late
    # subject-bearing batch would deprecate and break this). That is
    # exactly the in-order fold's final use_end for those triples.
    dep_triples = {
        (r.subject, r.predicate, r.object) for r in got_rows if r.deprecated
    }
    containing_max: dict = {}
    for k, contents in scenarios.items():
        for i, triples in enumerate(contents):
            for tr in triples:
                key = containing_max.get(tr)
                containing_max[tr] = times[i] if key is None else max(key, times[i])
    checked = 0
    for r in got_rows:
        key = (r.subject, r.predicate, r.object)
        if r.deprecated or key in dep_triples or key[0].startswith("sent:"):
            continue
        assert r.use_end == containing_max[key], (
            f"{key}: open use_end {r.use_end} != chrono max "
            f"{containing_max[key]} under order {order}"
        )
        checked += 1
    assert checked > 0  # the claim was actually exercised
    # (identity-order convergence is already covered by the got == want
    # assertion above: when order is chronological, _model_fold IS the
    # in-order fold, so no separate check is needed)


# =====================================================================
# Crash/replay interleavings of the versioned rollup fold protocol
# (VERDICT r3 task 7). The protocol (_fold_protocol) is engine-agnostic:
# the streaming path plugs in a Spark agg/merge callback, and this test
# plugs in a pandas one — so hypothesis can drive hundreds of
# crash-point x replay interleavings in milliseconds each while the
# Spark integration is e2e-tested in test_streaming.py with the SAME
# protocol code.
# =====================================================================


def _pandas_engine(batch_rows_by_file, anon_rows):
    """write_merged callback folding pandas frames: per-key
    (count, sum, min, max), merged with the current version."""
    import os

    import pandas as pd

    def write_merged(next_vdir, cur_vdir, new_files, include_anon):
        rows = [r for f in sorted(new_files) for r in batch_rows_by_file[f]]
        if include_anon:
            rows = rows + anon_rows
        df = pd.DataFrame(rows, columns=["k", "v"])
        agg = df.groupby("k").agg(
            cnt=("v", "size"), s=("v", "sum"), mn=("v", "min"), mx=("v", "max")
        ).reset_index()
        if cur_vdir is not None:
            cur = pd.read_parquet(os.path.join(cur_vdir, "state.parquet"))
            both = pd.concat([cur, agg])
            agg = both.groupby("k").agg(
                cnt=("cnt", "sum"), s=("s", "sum"), mn=("mn", "min"), mx=("mx", "max")
            ).reset_index()
        os.makedirs(next_vdir, exist_ok=True)
        agg.sort_values("k").to_parquet(os.path.join(next_vdir, "state.parquet"))

    return write_merged


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_fold_protocol_crash_replay_interleavings(tmp_path_factory, data):
    """For ANY interleaving of batches, simulated crashes (after the
    payload write, after the meta write, after the pointer flip) with
    retries, and double-replays of committed batches, the final rollup
    equals the one-shot aggregate over every batch's rows exactly once
    — no row lost (the old rmtree-then-rename window), none counted
    twice."""
    import os

    import pandas as pd

    from mlentory_etl_pipeline_spark.streaming.incremental import (
        SimulatedCrash,
        _fold_protocol,
        _resolve_state,
    )

    n_batches = data.draw(st.integers(1, 4), label="n_batches")
    keys = ["a", "b", "c"]
    batches = []
    for i in range(n_batches):
        n_files = data.draw(st.integers(1, 2), label=f"n_files_{i}")
        files = {}
        for fidx in range(n_files):
            rows = data.draw(
                st.lists(
                    st.tuples(st.sampled_from(keys), st.integers(-5, 5)),
                    min_size=1, max_size=3,
                ),
                label=f"rows_{i}_{fidx}",
            )
            files[f"f{i}_{fidx}"] = rows
        anon = data.draw(
            st.lists(
                st.tuples(st.sampled_from(keys), st.integers(-5, 5)),
                min_size=0, max_size=2,
            ),
            label=f"anon_{i}",
        )
        batches.append((files, anon))
    crashes = [
        data.draw(
            st.sampled_from([None, "payload", "meta", "pointer"]),
            label=f"crash_{i}",
        )
        for i in range(n_batches)
    ]
    replays = data.draw(
        st.lists(st.integers(0, n_batches - 1), max_size=3), label="replays"
    )

    sd = str(tmp_path_factory.mktemp("foldproto"))

    def run(i, crash_after):
        files, anon = batches[i]
        return _fold_protocol(
            sd, i, set(files), bool(anon),
            _pandas_engine(files, anon), crash_after=crash_after,
        )

    for i in range(n_batches):
        try:
            run(i, crashes[i])
        except SimulatedCrash:
            run(i, None)  # the stream replays the uncommitted batch
    for j in replays:
        assert run(j, None) is False  # committed batches are no-ops
    # one final replayed batch (what the recovering stream always
    # presents): a no-op that also sweeps any version dir stranded by a
    # crash between the last pointer flip and its GC
    assert run(0, None) is False

    cur = _resolve_state(sd)
    assert cur is not None
    got = (
        pd.read_parquet(os.path.join(cur[1], "state.parquet"))
        .sort_values("k")
        .reset_index(drop=True)
    )
    all_rows = [
        r for files, anon in batches for rs in files.values() for r in rs
    ] + [r for files, anon in batches for r in anon]
    df = pd.DataFrame(all_rows, columns=["k", "v"])
    want = (
        df.groupby("k")
        .agg(cnt=("v", "size"), s=("v", "sum"), mn=("v", "min"), mx=("v", "max"))
        .reset_index()
        .sort_values("k")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # only the committed version survives GC
    versions = [e for e in os.listdir(sd) if e.startswith("state-v")]
    assert len(versions) == 1


# ---------------------------------------------------------------------
# _fold_sessions (the vectorized session fold) vs a naive model
# ---------------------------------------------------------------------

@given(
    evs=st.lists(
        st.tuples(st.integers(0, 50_000), st.integers(-500, 500)),
        min_size=0, max_size=60,
    ),
    prev=st.one_of(
        st.none(),
        st.tuples(
            st.integers(-10_000, -1),       # start before the batch
            st.integers(-10_000, 0),        # last_us at/before batch min
            st.integers(1, 5), st.integers(-500, 500),
        ),
    ),
    gap=st.integers(1, 2_000),
    split=st.integers(0, 60),
)
@settings(max_examples=300, deadline=None)
def test_fold_sessions_matches_naive_model(evs, prev, gap, split):
    """The np.add.reduceat fold must equal the obvious per-event loop
    for ANY event multiset (ties included), stored state that merges
    or closes, and ANY split of the batch into chunks (chunk
    boundaries must not matter)."""
    import numpy as np

    from mlentory_etl_pipeline_spark.streaming.stateful import _fold_sessions

    # naive model: sort, then the original one-pass per-event loop
    closed_model = []
    seq = sorted(evs)
    start = last = None
    n = tot = 0
    if prev is not None:
        start, last, n, tot = prev
    for ts, c in seq:
        if last is not None and ts - last > gap:
            closed_model.append((start, last, n, tot))
            start, n, tot = ts, 0, 0
        if start is None:
            start = ts
        last = ts
        n += 1
        tot += c
    state_model = None if last is None else (start, last, n, tot)

    parts_t, parts_c = [], []
    cut = min(split, len(evs))
    for chunk in (evs[:cut], evs[cut:]):
        if chunk:
            parts_t.append(np.array([t for t, _ in chunk], dtype=np.int64))
            parts_c.append(np.array([c for _, c in chunk], dtype=np.int64))
    closed, state = _fold_sessions(parts_t, parts_c, prev, gap)

    if not evs:
        assert closed is None and state == prev
        return
    got_closed = list(zip(*closed)) if closed and closed[0] else []
    got_closed = [tuple(int(v) for v in r) for r in got_closed]
    assert got_closed == closed_model
    assert tuple(int(v) for v in state) == state_model
