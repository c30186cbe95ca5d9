"""scoped_conf: the one primitive behind every temporary Spark conf
flip (lazy_cap's plan-time AQE/broadcast switch, the streaming drains'
state-partition count). Flips on different threads must not interleave
their save/restore, and a raising body must still restore."""

from __future__ import annotations

import threading

import pytest

from mlentory_etl_pipeline_spark.operators.capping import lazy_cap
from mlentory_etl_pipeline_spark.session import scoped_conf

_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)


def test_concurrent_flips_restore_every_key(spark):
    start = {k: spark.conf.get(k) for k in _KEYS}
    df = spark.range(10)
    errors: list[BaseException] = []

    def capper():
        try:
            for _ in range(50):
                lazy_cap(df)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=capper) for _ in range(2)]
    for th in threads:
        th.start()
    while any(th.is_alive() for th in threads):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "3"}):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    for th in threads:
        th.join()
    assert not errors, errors
    assert {k: spark.conf.get(k) for k in _KEYS} == start


def test_raising_body_still_restores(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "3"}):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_unset_key_is_unset_again(spark):
    key = "spark.sql.test.scopedConfProbe"
    with scoped_conf(spark, {key: "1"}):
        assert spark.conf.get(key) == "1"
    assert spark.conf.get(key, None) is None
