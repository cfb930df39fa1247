"""The events load rule (``catalog.read_under_rule``) must normalize
EVERY ts encoding the fixture generator has shipped — TIMESTAMP(NANOS)
in round 1, naive TIMESTAMP(MICROS) in round 2 — to the same
TimestampType column with epoch = naive-value-as-UTC. Regression guard
for the next fixture regeneration."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hive_2_spark.catalog import load_table
from pyspark.sql.types import TimestampType

_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 11, 172425),
    datetime.datetime(2024, 1, 15, 12, 30, 0, 1),
]


def _write_events(d: str, ts_array: pa.Array) -> str:
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["view", "click"],
            "value": pa.array([1.0, 2.0]),
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    return d


@pytest.mark.parametrize(
    "encoding",
    ["nanos", "micros_naive"],
)
def test_load_events_normalizes_all_encodings(spark, tmp_path, encoding):
    d = str(tmp_path / encoding)
    os.makedirs(d)
    if encoding == "nanos":
        arr = pa.array(_TS, pa.timestamp("ns"))
    else:
        arr = pa.array(_TS, pa.timestamp("us"))
    _write_events(d, arr)
    df = load_table(spark, d, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = sorted(r["ts"] for r in df.select("ts").collect())
    # UTC session (conftest) -> collected naive datetimes equal the
    # original wall-clock values regardless of the physical encoding
    assert got == sorted(_TS)


@pytest.mark.parametrize("encoding", ["nanos", "micros_naive"])
def test_load_events_epoch_is_session_timezone_independent(
    spark, tmp_path, encoding
):
    """The NTZ branch must NOT bake the session timezone into the epoch:
    a plain NTZ->Timestamp cast applies the session offset (under
    America/New_York, 2024-01-01T00:00:11 would load as 05:00:11 UTC).
    The loaded epoch micros must be identical under any session tz."""
    from pyspark.sql import functions as F

    d = str(tmp_path / encoding)
    os.makedirs(d)
    arr = pa.array(
        _TS, pa.timestamp("ns" if encoding == "nanos" else "us")
    )
    _write_events(d, arr)

    def epochs() -> list[int]:
        return sorted(
            r["e"]
            for r in load_table(spark, d, "events")
            .select(F.unix_micros("ts").alias("e"))
            .collect()
        )

    utc_epochs = epochs()
    orig_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_epochs = epochs()
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig_tz)
    assert ny_epochs == utc_epochs
    # and the epoch is the naive wall clock read as UTC, exactly
    expect = sorted(
        int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
        for t in _TS
    )
    assert utc_epochs == expect
