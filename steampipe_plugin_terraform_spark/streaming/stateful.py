"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.8: the escape hatch when built-in window/session state can't
express the semantics).

Example operator: per-user running totals — each micro-batch emits the
user's cumulative event count and value sum so far (the building block for
online feature pipelines). State is one small tuple per user in the state
store; the watermark is not required because state is keyed and monotone.
"""

from __future__ import annotations

from typing import Any, Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .. import rounding

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update(
    key: Tuple[Any, ...],
    pdfs: Iterable["pd.DataFrame"],
    state: GroupState,
) -> Iterable["pd.DataFrame"]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    # Python round() is ties-to-even, diverging from the DuckDB oracle
    tv = rounding.snap_np(total, 2)
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [tv]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user cumulative (count, value-sum) via keyed state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Per-user record-high detection: the second custom stateful operator.
RECORD_HIGH_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)
RECORD_HIGH_STATE = StructType([StructField("mx", DoubleType())])


def _record_high_update(
    key: Tuple[Any, ...],
    pdfs: Iterable["pd.DataFrame"],
    state: GroupState,
) -> Iterable["pd.DataFrame"]:
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    cur = state.get[0] if state.exists else None
    out_id, out_val = [], []
    for eid, val in zip(pdf["event_id"], pdf["value"]):
        if cur is None or val > cur:
            out_id.append(int(eid))
            out_val.append(float(val))
            cur = float(val)
    if cur is not None:
        state.update((float(cur),))
    if out_id:
        yield pd.DataFrame(
            {"event_id": out_id, "user_id": int(key[0]), "value": out_val}
        )


def record_breaking_events_awps(events: DataFrame) -> DataFrame:
    """Per-user record highs via applyInPandasWithState: an event emits iff
    its value STRICTLY exceeds the user's running maximum so far; state is
    one double per user. Rows within a micro-batch are sorted by (ts,
    event_id) before the scan, so emission is deterministic under any
    arrival interleaving inside a batch; across batches the state carries
    the max forward."""
    return (
        events.select("event_id", "ts", "user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _record_high_update,
            outputStructType=RECORD_HIGH_OUTPUT,
            stateStructType=RECORD_HIGH_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
