"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every config here is chosen for the
1000-executor / 100 TB posture: AQE on (runtime coalesce + skew-join),
broadcast threshold sized for dimension/vocab tables, shuffle partitions
kept modest locally but overridable via env for cluster parity.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Serializes every scoped conf flip in the process (see scoped_conf).
_CONF_LOCK = threading.RLock()


def get_spark(
    app_name: str = "mlentory-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism,
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` the shuffle width.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — the 100 TB safety net.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions to the advisory SIZE rather
        # than stopping at defaultParallelism (guide §2.2): with the
        # default parallelismFirst=true every tiny shuffle still fans
        # out one task per core (32 tasks for a few MB), and the r10
        # driver bench measured every headline query FASTER at 8 cores
        # than 32 purely on that per-task fixed cost. Size-based
        # coalescing is scale-adaptive — at 100 TB a shuffle still gets
        # bytes/advisory partitions (≫ cores); at bench scale the tiny
        # aggregates collapse to 1-2 tasks (r11 A/B: headline total
        # 9.91→9.24 s at 32c, 9.66→8.34 s at 8c). The advisory size
        # stays env-overridable for cluster tuning.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Dimension/vocab tables (region, nation, schema config, SPDX,
        # tag vocabularies) are all << 64 MB: broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic session timezone so timestamp comparisons against
        # the DuckDB oracle are stable.
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(NANOS) columns (Spark has no nanos
        # timestamp type) as long; the source layer converts to
        # micros-precision TimestampType (matching DuckDB's truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set ``conf`` on ``spark`` for the body, then restore every key.

    The restore runs in a ``finally`` (a raising body still restores),
    and a key that was unset before is unset again. A module-level
    reentrant lock is held while the keys are flipped, so two scoped
    flips on different threads never interleave their save/restore and
    leave a stale value behind; nesting on one thread is allowed.

    Remaining assumption: the lock only orders scoped flips against each
    other. A plan built OUTSIDE ``scoped_conf`` on another thread while
    a flip is active still plans under the flipped values, so keep the
    body to the few milliseconds of plan construction it exists for.
    """
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
