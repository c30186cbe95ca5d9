"""``bench.py``'s query lists name registered queries only."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402

from mlentory_etl_pipeline_spark.plans.queries import REGISTRY  # noqa: E402


def test_bench_query_names_are_registered():
    for names in (bench.EXTENDED_QUERIES, bench.STREAMING_QUERIES):
        assert names
        assert [n for n in names if n not in REGISTRY] == []
