"""Table catalog: load the driver's parquet tables and bind them for SQL.

Mirrors the reference's Meta registry (``classes/hive/meta.php:70-86``,
``classes/hive/model.php:48-80`` — lazy one-time schema init + singleton
cache): here the "schema" is the parquet footer. No DataFrame cache is
kept: every ``load_table`` call builds a fresh, lazy DataFrame and reads
the footer again.

Binding rule: every SQL text runs through :func:`sql`, which binds to
the caller's ``sf_dir`` exactly the tables the text names as whole words
(case-insensitive), then plans it. Temp views are session-global, so a
view bound once would serve whichever directory was bound last; binding
per call makes each plan read its own. A table reference is always such
a word; a name only in a comment binds an unused view, which is harmless.

At 100 TB each of these would be a partitioned parquet/iceberg table in a
real metastore; ``spark.read.parquet`` on a directory transparently scales
— nothing here assumes single-file input.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve a driver table in ``sf_dir`` to a lazy DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    return read_under_rule(spark, name, lambda: spark.read.parquet(path))


def read_under_rule(
    spark: SparkSession, name: str, read: Callable[[], DataFrame]
) -> DataFrame:
    """Run ``read()``, a batch or streaming parquet read of table
    ``name``, under that table's load rule — the one definition both
    :func:`load_table` and ``streaming._source.read_stream_table`` use.

    Only ``events`` has a rule: ``ts`` normalized to TimestampType
    (epoch micros, naive values interpreted as UTC) under ANY
    SparkSession/timezone. The generator's physical encoding of ``ts``
    has varied across rounds: parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read as raw nanos via ``nanosAsLong``
    and divide) and naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    Branch on what the footer actually says so either vintage of
    testdata works unchanged."""
    if name != "events":
        return read()
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    return df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType, F))


def _normalize_ts(dtype, F):
    """Column expr converting a raw ``ts`` to TimestampType, epoch=naive-UTC."""
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(dtype, LongType):
        # Raw epoch nanos. Integer division, NOT `/1000` — epoch nanos
        # (~1.7e18) exceed double's 53-bit mantissa, so float division
        # drifts by ±1 microsecond.
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dtype, TimestampNTZType):
        # Naive micros: interpret the wall-clock value as UTC. A plain
        # cast to TimestampType applies the SESSION timezone offset (and
        # to_utc_timestamp(x, 'UTC') is then a no-op), so the epoch would
        # shift per deployment timezone; from_utc_timestamp(cast, tz) can
        # still be off by an hour across DST transitions. Rebuild the
        # epoch arithmetically from the timezone-free date/time fields
        # instead — exact under any session timezone.
        day = F.unix_date(F.col("ts").cast("date")).cast("long")
        secs = F.hour("ts").cast("long") * 3600 + F.minute("ts").cast("long") * 60
        micros = (F.expr("extract(SECOND FROM ts)") * 1000000).cast("long")
        return F.timestamp_micros((day * 86400 + secs) * 1000000 + micros)
    return F.col("ts")  # already TimestampType


def register_views(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """Bind each named table in ``sf_dir`` as a session temp view."""
    for t in names:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Plan ``text`` over ``sf_dir``'s tables (see the binding rule above)."""
    words = set(re.findall(r"\w+", text.lower()))
    register_views(spark, sf_dir, [t for t in TABLES if t in words])
    return spark.sql(text)


def sql_keys(texts: dict[str, str], module: str) -> dict:
    """One query function per ``{key: text}`` entry for keys whose SQL
    text runs unchanged on Spark and in the DuckDB oracle:
    ``f(spark, sf_dir)`` plans the text through :func:`sql`. Each
    function is named after its key and reports ``module`` (the module
    that declares the text) as its ``__module__``."""

    def build(key: str, text: str):
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            return sql(spark, sf_dir, text)

        query.__name__ = query.__qualname__ = key
        query.__module__ = module
        return query

    return {key: build(key, text) for key, text in texts.items()}
