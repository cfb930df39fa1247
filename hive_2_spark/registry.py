"""Aggregate query/oracle registry — the single source the driver entry uses.

Every operator module exposes ``QUERIES`` (name -> (spark, sf_dir) ->
DataFrame) and ``ORACLES`` (name -> DuckDB SQL). This module merges them
and asserts key discipline: an oracle without a query is an error; a query
without an oracle is allowed (rows-only check) but must be deliberate:
``tests/test_engine.py`` pins the ``rows_only_keys()`` set.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES: list[str] = [
    "hive_2_spark.llm.text",
    "hive_2_spark.llm.curation",
    "hive_2_spark.llm.quality",
    "hive_2_spark.llm.retrieval",
    "hive_2_spark.llm.advanced",
    "hive_2_spark.llm.multimodal",
    "hive_2_spark.core.scalarfns",
    "hive_2_spark.llm.pipeline",
    "hive_2_spark.llm.urls",
    "hive_2_spark.llm.clustering",
    "hive_2_spark.llm.insights",
    "hive_2_spark.core.udfs",
    "hive_2_spark.core.io",
    "hive_2_spark.core.pysource",
    "hive_2_spark.core.asof",
    "hive_2_spark.core.reshape",
    "hive_2_spark.core.skew",
    "hive_2_spark.core.layout",
    "hive_2_spark.core.timeseries",
    "hive_2_spark.core.cdc",
    "hive_2_spark.core.mv",
    "hive_2_spark.core.graph",
    "hive_2_spark.core.profile",
    "hive_2_spark.core.basket",
    "hive_2_spark.core.setops",
    "hive_2_spark.core.aggregates",
    "hive_2_spark.core.windows",
    "hive_2_spark.core.writes",
    "hive_2_spark.core.metastore",
    "hive_2_spark.streaming.windows",
    "hive_2_spark.streaming.stateful",
    "hive_2_spark.streaming.joins",
    "hive_2_spark.streaming.cdc",
    "hive_2_spark.streaming.serving",
    "hive_2_spark.streaming.ingest",
    "hive_2_spark.llm.dedup",
    "hive_2_spark.llm.similarity",
    "hive_2_spark.core.events",
    "hive_2_spark.core.analytics",
    "hive_2_spark.flagship",
    "hive_2_spark.core.relational",
    "hive_2_spark.core.joins",
]

def _load() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        q = getattr(mod, "QUERIES", {})
        o = getattr(mod, "ORACLES", {})
        dup = set(q) & set(queries)
        if dup:
            raise ValueError(f"duplicate query keys {dup} from {modname}")
        missing = set(o) - set(q)
        if missing:
            raise ValueError(f"oracles without queries {missing} in {modname}")
        queries.update(q)
        oracles.update(o)
    return queries, oracles


def all_queries() -> dict[str, QueryFn]:
    return _load()[0]


def all_oracles() -> dict[str, str]:
    return _load()[1]


def rows_only_keys() -> set[str]:
    """Keys deliberately lacking a SQL oracle (non-SQL-expressible ops)."""
    q, o = _load()
    return set(q) - set(o)
