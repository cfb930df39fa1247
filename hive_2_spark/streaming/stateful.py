"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2B op 42 "stateful dedup"/custom operators; guide §Structured
Streaming "Stateful").

Operator: per-user running spend monitor. State = (total_spend, n_events)
per user_id; each micro-batch folds its purchase events into the state
and emits the updated running totals. This is the canonical shape for
custom session/accumulator logic that tumbling/session windows cannot
express (cross-window, unbounded-lifetime state with custom merge).

Scale notes: state lives in the state store partitioned by user_id —
the shuffle is on user_id only; state size is O(distinct users), not
O(events). A production variant adds state TTL via GroupStateTimeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import functions as F

from hive_2_spark.streaming._source import read_stream_table

OUTPUT_SCHEMA = "user_id long, total_spend double, n_events long"
STATE_SCHEMA = "total_spend double, n_events long"


def _update_spend(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        total, n = state.get
    else:
        total, n = 0.0, 0
    for pdf in pdf_iter:
        total += float(pdf["value"].sum())
        n += len(pdf)
    state.update((total, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_spend": [round(total, 2)], "n_events": [n]}
    )


def running_spend_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming plan: purchases folded into per-user state each batch."""
    events = read_stream_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_spend,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_spend_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the same semantics (for verification)."""
    from hive_2_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


EWMA_OUTPUT = "user_id long, n_events long, ewma double"
EWMA_STATE = "ewma double, n long"


def _update_ewma(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import math

    from hive_2_spark.core.timeseries import _EWMA_A, _EWMA_B

    if state.exists:
        ewma, n = state.get
    else:
        ewma, n = 0.0, 0
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    # within a batch, event-time order is re-established here; across
    # batches the fold assumes time-ordered ingestion (document/landing
    # zones deliver per-key order; a late event needs a watermark+buffer
    # variant, same as any order-sensitive streaming fold)
    rows = rows.sort_values(["ts", "event_id"])
    for v in rows["value"]:
        v = float(v)
        ewma = v if n == 0 else _EWMA_A * v + _EWMA_B * ewma
        n += 1
    state.update((float(ewma), n))
    if n == 0:
        yield pd.DataFrame({"user_id": [], "n_events": [], "ewma": []})
        return
    # HALF_UP like Spark's round(), NOT python's bankers round()
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "ewma": [math.floor(ewma * 10000.0 + 0.5) / 10000.0],
        }
    )


def ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of ``core.timeseries.ts_ewma``: per-user EWMA
    folded across micro-batches in the state store.

    State = (ewma, n) per user — O(distinct users), never O(events);
    the shuffle is keyed by user_id only. The batch face (``ts_ewma``)
    is the oracle-verified semantics; tests assert the streaming run
    emits identical rows (update mode, last emit per key wins).
    """
    events = read_stream_table(spark, sf_dir, "events")
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_ewma,
            outputStructType=EWMA_OUTPUT,
            stateStructType=EWMA_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CHAIN_OUTPUT = "user_id long, n_purchases long, n_chains long"
# lv/lcv use -1 as the "unset" sentinel (state schemas reject NULLs in
# tuples cleanly; every real epoch-microsecond is >= 0)
CHAIN_STATE = "lv long, lcv long, n_purchases long, n_chains long"


def _update_chains(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming fold of the `event_pattern_match_within` semantics —
    the two running maxima its batch windows carry ARE the state
    vector: lv = latest view epoch-us so far, lcv = the latest view as
    of the latest click. Same per-key order assumption as the EWMA
    face (event-time order within the batch re-established here;
    across batches ordered ingestion)."""
    from hive_2_spark.core.events import _CHAIN_HORIZON_US

    if state.exists:
        lv, lcv, n_p, n_c = state.get
    else:
        lv, lcv, n_p, n_c = -1, -1, 0, 0
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["us", "event_id"])
    for et, us in zip(rows["event_type"], rows["us"]):
        us = int(us)
        if et == "view":
            lv = us
        elif et == "click":
            lcv = lv
        elif et == "purchase":
            n_p += 1
            if lcv >= 0 and us - lcv <= _CHAIN_HORIZON_US:
                n_c += 1
    state.update((lv, lcv, n_p, n_c))
    if n_p == 0:
        yield pd.DataFrame({"user_id": [], "n_purchases": [], "n_chains": []})
        return
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_purchases": [n_p], "n_chains": [n_c]}
    )


def chain_census_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of ``core.events.event_pattern_match_within``:
    the time-bounded CEP chain census folded across micro-batches.
    State = (lv, lcv, n_purchases, n_chains) per user — two clocks and
    two counters, O(distinct users); the shuffle is keyed by user_id
    only, mirroring the batch plan's single exchange. The batch face
    is the oracle-verified semantics; tests assert the streaming run
    emits identical rows."""
    events = read_stream_table(spark, sf_dir, "events")
    return (
        events.select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "event_type",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_chains,
            outputStructType=CHAIN_OUTPUT,
            stateStructType=CHAIN_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def tws_supported() -> bool:
    """transformWithStateInPandas streams state through a protobuf-based
    runner; without the google.protobuf package the worker crashes with
    an opaque STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def _make_spend_processor():
    """Deferred import: the StatefulProcessor base class exists without
    protobuf; only RUNNING it needs the runner dependency."""
    import pandas as pd  # local: keep module import light

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SpendProcessor(StatefulProcessor):
        """Same per-user running-spend semantics as ``_update_spend``,
        expressed in Spark 4's transformWithState API: named ValueState,
        explicit exists()/get()/update() lifecycle, timer support
        available via ``timerValues`` (unused here)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("spend", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                total, n = self._state.get()
            else:
                total, n = 0.0, 0
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self._state.update((total, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_spend": [round(total, 2)],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    return SpendProcessor()


def running_spend_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas face of the running-spend operator
    (Spark 4's successor to applyInPandasWithState: composable named
    state variables, timers, TTL). GATED: the streaming runner needs
    google.protobuf; raises actionably when absent. Requires the
    RocksDB state store provider on the session."""
    if not tws_supported():
        raise NotImplementedError(
            "transformWithStateInPandas needs the google.protobuf package "
            "for its streaming state runner; pip install protobuf"
        )
    events = read_stream_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _make_spend_processor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


QUERIES = {"stream_stateful_spend": running_spend_batch}

ORACLES = {
    "stream_stateful_spend": (
        "SELECT user_id, ROUND(SUM(value), 2) AS total_spend, "
        "COUNT(*) AS n_events FROM events "
        "WHERE event_type = 'purchase' GROUP BY user_id"
    ),
}
