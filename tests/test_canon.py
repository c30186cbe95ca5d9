"""Unit tests for the verification stack's value canonicalization
(``scripts/check_correctness.canon``) — specifically the host-timezone
invariance semantics the TZ audit (``scripts/audit.py tz``) depends on.

The two naive-datetime cases that MUST be kept apart:

- Spark ``TimestampType`` collect() output: a naive datetime rendered
  in the HOST LOCAL zone (PySpark ``TimestampType.fromInternal`` uses
  ``datetime.fromtimestamp``). Recovering the instant requires
  interpreting naive-as-local -> ``canon(v)`` (default).
- Spark ``TimestampType_NTZ`` collect() output and DuckDB ``TIMESTAMP``
  fetches: TZ-independent wall clocks -> ``canon(v, naive_utc=True)``.

Mixing them up makes the gate pass only on hosts whose TZ matches the
data's rendering — the exact bug class the TZ audit exists to catch.
"""

from __future__ import annotations

import os
import sys
import time
from datetime import datetime, timezone

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from check_correctness import canon  # noqa: E402


def test_naive_local_mode_recovers_instant_across_tz():
    """canon(v) on a host-local rendering must give the same epoch no
    matter the host zone: simulate by rendering one instant in two
    zones and canonicalizing under each."""
    instant = 1_700_000_000  # arbitrary epoch second
    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "UTC"
        time.tzset()
        rendered_utc = datetime.fromtimestamp(instant)
        got_utc = canon(rendered_utc)
        os.environ["TZ"] = "Pacific/Kiritimati"  # UTC+14, no DST
        time.tzset()
        rendered_far = datetime.fromtimestamp(instant)
        got_far = canon(rendered_far)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert rendered_utc != rendered_far  # the renderings DO differ
    assert got_utc == got_far == ("ts", float(instant))


def test_naive_utc_mode_is_wall_clock_stable():
    """canon(v, naive_utc=True) must not consult the host zone at all:
    a wall clock canonicalizes to its UTC-interpreted epoch."""
    wall = datetime(2024, 6, 1, 12, 30, 45)
    want = ("ts", wall.replace(tzinfo=timezone.utc).timestamp())
    old_tz = os.environ.get("TZ")
    try:
        for tz in ("UTC", "Pacific/Kiritimati", "America/New_York"):
            os.environ["TZ"] = tz
            time.tzset()
            assert canon(wall, naive_utc=True) == want, tz
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_aware_datetimes_ignore_both_modes():
    aware = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
    assert canon(aware) == canon(aware, naive_utc=True) == (
        "ts",
        aware.timestamp(),
    )


def test_date_equals_midnight_wall_clock_timestamp():
    """A DATE on one side must equal a midnight TIMESTAMP on the other
    (DuckDB often returns midnight timestamps where Spark returns
    dates, and vice versa), and be host-TZ-independent."""
    from datetime import date

    d = date(2024, 6, 1)
    midnight = datetime(2024, 6, 1, 0, 0, 0)
    old_tz = os.environ.get("TZ")
    try:
        for tz in ("UTC", "Pacific/Kiritimati"):
            os.environ["TZ"] = tz
            time.tzset()
            assert canon(d) == canon(midnight, naive_utc=True), tz
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_non_datetime_values_unaffected_by_mode():
    for v in (None, True, 3, 2.5, "x", b"\x00\xff", [1, "a"], {"k": 1}):
        assert canon(v) == canon(v, naive_utc=True)


def test_instant_cols_recurses_into_nested_types():
    """ADVICE r7: a TimestampType nested inside array/struct/map must
    classify its column as instant-semantics (collect() renders nested
    timestamps host-local too); NTZ stays wall-clock; a column mixing
    both is unclassifiable and asserts out."""
    import pytest
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    from check_correctness import instant_cols

    class FakeDF:
        def __init__(self, schema):
            self.schema = schema

    schema = StructType(
        [
            StructField("plain", TimestampType()),
            StructField("arr", ArrayType(TimestampType())),
            StructField(
                "st", StructType([StructField("t", TimestampType())])
            ),
            StructField("mp", MapType(StringType(), TimestampType())),
            StructField("ntz", TimestampNTZType()),
            StructField("arr_ntz", ArrayType(TimestampNTZType())),
            StructField("s", StringType()),
        ]
    )
    assert instant_cols(FakeDF(schema)) == {"plain", "arr", "st", "mp"}

    mixed = StructType(
        [
            StructField(
                "bad",
                StructType(
                    [
                        StructField("a", TimestampType()),
                        StructField("b", TimestampNTZType()),
                    ]
                ),
            )
        ]
    )
    with pytest.raises(AssertionError, match="nests both"):
        instant_cols(FakeDF(mixed))
