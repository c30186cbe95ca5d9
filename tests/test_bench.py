"""``bench.py``'s query lists name registered queries only, and the
gate's perfbench step reads a run's verdict line."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
from scripts.gate import perfbench_verdict  # noqa: E402

from mlentory_etl_pipeline_spark.plans.queries import REGISTRY  # noqa: E402


def test_bench_query_names_are_registered():
    for names in (bench.EXTENDED_QUERIES, bench.STREAMING_QUERIES):
        assert names
        assert [n for n in names if n not in REGISTRY] == []


def test_gate_perfbench_verdict():
    ok = '{"correct": true, "attempted": 40, "failed": 0, "metrics": {}}'
    assert perfbench_verdict("perfbench-detail {}\n" + ok + "\n") is None
    bad = '{"correct": false, "attempted": 40, "failed": 2, "metrics": {}}'
    assert perfbench_verdict(bad) == "correct=False failed=2 of 40"
    assert perfbench_verdict("") == "no result line"
    assert perfbench_verdict("Traceback (most recent call last):") == "no result line"
