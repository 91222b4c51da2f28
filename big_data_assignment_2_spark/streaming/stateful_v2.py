"""Spark 4 ``transformWithStateInPandas`` variant of the running per-user
aggregator (streaming/stateful.py) — the successor API to
``applyInPandasWithState``: typed named state (ValueState/ListState/
MapState), timers, and TTL live on a StatefulProcessor object, backed by
the RocksDB state store (required provider; set in
:func:`rocksdb_state_conf`).

Both variants are kept: applyInPandasWithState is the broadly-deployed
API; this is where custom stateful streaming is headed.

NOTE: executing this path requires ``google.protobuf`` (the state-server
protocol), which is absent in the build container — the test is
skipif-gated on that import and the applyInPandasWithState variant
provides the executable coverage here.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
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

ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def rocksdb_state_conf(spark) -> None:
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)


class RunningTotalsProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator:
        import pandas as pd

        if self._totals.exists():
            n, total = self._totals.get()
        else:
            n, total = 0, 0.0
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        # Raw float in state/output — same rationale as stateful._update:
        # per-batch rounding accumulates a residue with batch count.
        self._totals.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [total]})

    def close(self) -> None:
        pass


def running_user_totals_v2(events: DataFrame) -> DataFrame:
    return (events.select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=RunningTotalsProcessor(),
                outputStructType=OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="None"))


def protobuf_available() -> bool:
    """The transformWithStateInPandas Python worker speaks a protobuf
    state-server protocol; without google.protobuf the engine path cannot
    execute (ImportError inside the worker)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


# --- contract-faithful batch harness ---------------------------------------
# When the engine path is environment-blocked (no google.protobuf), the
# SAME StatefulProcessor object can still be certified: drive
# init → N× handleInputRows (with ValueState persisted between calls)
# → close per key through applyInPandas, splitting each key's rows into
# deterministic micro-batch chunks so state genuinely evolves across
# calls.  This exercises the processor-side contract — typed named state,
# incremental accumulation, final-update semantics — not Spark's state
# store; tests/test_stateful_v2.py runs the real engine when protobuf is
# present.

class _BatchValueState:
    def __init__(self) -> None:
        self._v = None

    def exists(self) -> bool:
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v) -> None:
        self._v = v

    def clear(self) -> None:
        self._v = None


class _BatchHandle:
    """Duck-typed StatefulProcessorHandle: ValueState only (what
    RunningTotalsProcessor uses)."""

    def __init__(self) -> None:
        self._states: dict = {}

    def getValueState(self, name, schema, ttl_duration_ms=None):
        return self._states.setdefault(name, _BatchValueState())


def run_processor_batch(events: DataFrame, n_microbatches: int = 3,
                        processor_cls=RunningTotalsProcessor) -> DataFrame:
    """Drive ``processor_cls`` through the StatefulProcessor lifecycle per
    user over ``n_microbatches`` deterministic chunks; return each key's
    FINAL update (what an availableNow drain of the update-mode stream
    yields per key)."""

    def drive(key, pdf):
        drop_zip_finders()
        proc = processor_cls()
        proc.init(_BatchHandle())
        chunks = [pdf.iloc[i::n_microbatches] for i in range(n_microbatches)]
        last = None
        for chunk in chunks:
            if len(chunk) == 0:
                continue
            for out in proc.handleInputRows(key, iter([chunk]), None):
                last = out
        proc.close()
        return last

    return (events.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandas(drive, OUTPUT_SCHEMA))


# --- top-k with session TTL -------------------------------------------------

TOPK_K = 3
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min of event-time idleness

TOPK_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("rnk", LongType()),
    StructField("value", DoubleType()),
    StructField("n_session", LongType()),
])

# Fixed k slots keep the ValueState a flat struct (the schema form every
# state backend supports); -1 sentinels mark empty slots.
TOPK_STATE_SCHEMA = StructType(
    [StructField("last_ts_us", LongType()),
     StructField("n_session", LongType())]
    + [StructField(f"v{i}", DoubleType()) for i in range(TOPK_K)]
    + [StructField(f"e{i}", LongType()) for i in range(TOPK_K)])


class TopKSessionProcessor(StatefulProcessor):
    """Per-user top-k event values WITHIN the current event-time session:
    state is evicted whenever the key sits idle longer than
    ``SESSION_GAP_US`` — the state-TTL/timeout pattern that keeps a
    100 TB keyed state store from growing without bound (idle keys are
    dropped, not accumulated forever).

    Under the real engine this eviction is an event-time timer
    (``handle.registerTimer`` at last_ts + gap; ``handleExpiredTimer``
    clears state); the harness path applies the identical gap rule
    inline while folding rows in event-time order, which yields the same
    final state for any batching that preserves per-key time order.
    Result is batch-boundary-invariant because the rule is evaluated per
    ROW, never per batch.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("topk_session", TOPK_STATE_SCHEMA)

    def _load(self):
        if self._state.exists():
            row = self._state.get()
            last_ts, n = row[0], row[1]
            top = [(row[2 + i], row[2 + TOPK_K + i]) for i in range(TOPK_K)
                   if row[2 + TOPK_K + i] >= 0]
        else:
            last_ts, n, top = None, 0, []
        return last_ts, n, top

    def _store(self, last_ts, n, top):
        vals = [v for v, _ in top] + [0.0] * (TOPK_K - len(top))
        eids = [e for _, e in top] + [-1] * (TOPK_K - len(top))
        self._state.update((last_ts, n, *vals, *eids))

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        last_ts, n, top = self._load()
        for pdf in rows:
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = (pdf["ts"].astype("int64") // 1_000).to_numpy()
            for t, eid, val in zip(ts_us, pdf["event_id"].to_numpy(),
                                   pdf["value"].to_numpy()):
                if last_ts is not None and t - last_ts > SESSION_GAP_US:
                    n, top = 0, []          # timer fired: session expired
                last_ts = int(t)
                n += 1
                top.append((float(val), int(eid)))
                # value DESC, event_id ASC — the oracle's exact ordering.
                top.sort(key=lambda p: (-p[0], p[1]))
                del top[TOPK_K:]
        self._store(last_ts, n, top)
        yield pd.DataFrame({
            "user_id": [key[0]] * len(top),
            "rnk": [i + 1 for i in range(len(top))],
            "value": [v for v, _ in top],
            "n_session": [n] * len(top),
        })

    def close(self) -> None:
        pass


def run_processor_timeordered(events: DataFrame, n_microbatches: int = 4,
                              processor_cls=TopKSessionProcessor) -> DataFrame:
    """Like :func:`run_processor_batch` but the per-key rows are sorted by
    event time and chunked CONTIGUOUSLY, so micro-batches arrive in time
    order — the arrival discipline the session-TTL semantics assume (a
    watermarked stream delivers per-key time order up to the watermark)."""

    def drive(key, pdf):
        drop_zip_finders()
        import numpy as np

        proc = processor_cls()
        proc.init(_BatchHandle())
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        last = None
        for chunk in np.array_split(pdf, n_microbatches):
            if len(chunk) == 0:
                continue
            for out in proc.handleInputRows(key, iter([chunk]), None):
                last = out
        proc.close()
        return last

    return (events.select("user_id", "ts", "event_id", "value")
            .groupBy("user_id")
            .applyInPandas(drive, TOPK_OUTPUT_SCHEMA))
