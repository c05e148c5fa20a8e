"""Custom stateful streaming operator via ``applyInPandasWithState``
(north star: "applyInPandasWithState for custom stateful operators").

The built-in windows (streaming/windows.py) cover tumbling/sliding/session;
this module is the template for semantics Spark's built-ins can't express —
arbitrary per-key state machines. The example operator keeps a per-user
running (count, sum, max) and emits the updated snapshot each micro-batch.

Scale notes: state lives in the state store, partitioned by the grouping
key — size is O(active keys), not O(events). The update function sees one
key per call with an iterator of that key's rows for the batch, so executor
memory is bounded by batch slice, not key history.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("mx", DoubleType()),
    ]
)


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += len(vals)
        total += float(vals.sum()) if len(vals) else 0.0
        mx = max(mx, float(vals.max())) if len(vals) else mx
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_value": [mx if mx != float("-inf") else None],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, max) as an arbitrary-state operator.

    On a stream: state persists across micro-batches, one updated snapshot
    row per user per batch (output mode 'update'). On a batch DataFrame the
    same semantics degenerate to a plain groupBy — provided for the unified
    batch/stream testing pattern used across this engine.
    """
    if not events.isStreaming:
        from pyspark.sql import functions as F

        return events.groupBy("user_id").agg(
            F.count("value").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_distinct(events: DataFrame) -> DataFrame:
    """Per-user running EXACT distinct event-type count on a stream: the
    streaming twin of the batch ``user_running_distinct_types`` windows
    (there, first-occurrence flags; here, state persisted across
    micro-batches, one updated count row per user whose distinct set grew
    in the batch).

    A composition of Spark's own stateful operators — streaming
    ``dropDuplicates(user, type)`` feeding a stateful count — so state
    lives JVM-side in the state store (one compact key per distinct
    (user, type) pair, RocksDB-spillable) and NO row crosses into Python.
    The r9 rehearsal measured a Python seen-set form
    (``applyInPandasWithState``) at exponent 0.83 (per-key Python
    invocation + array state round-trip scale with the key count); this
    composition is the same cost family as the engine's other JVM stream
    aggs (exponent ~0.1). Only first-occurrence rows survive the dedup, so
    a user's count row is (re)emitted exactly when their seen-set GROWS;
    counts are monotone, so the final snapshot is the max per user.
    ``running_user_stats`` above is the ``applyInPandasWithState``
    template for per-key state machines the built-ins cannot compose.

    On a batch DataFrame this degenerates to ``countDistinct`` — the
    unified batch/stream testing pattern. NULL event types never count
    (``countDistinct`` semantics), but a user whose types are ALL NULL
    still emits a count-0 row (the dedup keeps one NULL row per user
    rather than filtering, precisely so that user isn't silently dropped;
    ``count(event_type)`` then skips the NULLs). No watermark is
    involved: an all-time exact distinct keeps one state entry per
    distinct pair by definition.
    """
    from pyspark.sql import functions as F

    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count_distinct("event_type").cast("long").alias("n_distinct_types")
        )
    return (
        events.dropDuplicates(["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count("event_type").cast("long").alias("n_distinct_types"))
    )
