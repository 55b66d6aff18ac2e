"""Streaming out-of-order-depth tracker on transformWithStateInPandas.

The streaming twin of the batch watermark-sizing audit in plans/events.py
(`events_ooo_depth`): each key (user_id) keeps its running max event-time
as TWS value state; every arriving event is scored AS OF ITS ARRIVAL —
late_ms = max(event-time seen so far for this user) − its own event-time —
and emitted as one row. Folding is in arrival order (event_id) inside each
micro-batch, and the state carries the running max ACROSS micro-batches,
so the emitted lateness stream over any micro-batch split equals the batch
query's window replay over the union of the rows (proven row-for-row in
tests/test_ooo_tws.py by replaying the fixture split into two batches).

Why TWS and not withWatermark: this operator MEASURES lateness — it must
see and score late rows, which a watermark would drop; its output is the
empirical bound a production withWatermark(delay) is then configured from.
State is one bigint per user — with key bytes and RocksDB per-entry
overhead a few tens of bytes each, so even a 1 B-user fleet holds a few
tens of GB of executor-local state.

Reference parity: the reference's watchdog debounces on PROCESSING time
(watchdog/watchdog.go:193-251) and never sees event-time skew; this operator is
part of the streaming extension surface (SURVEY.md §2.3 note) that makes
event-time semantics tunable.

Requires a protobuf runtime in the driver and workers (compat.ensure_protobuf).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from log_agent_spark.compat import ensure_protobuf

HAS_TWS_DEPS = ensure_protobuf()

if HAS_TWS_DEPS:
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
else:  # pragma: no cover — import-time gate for protobuf-less images
    StatefulProcessor = object  # type: ignore[assignment,misc]

_OUT_SCHEMA = "user_id bigint, event_id bigint, event_type string, late_ms bigint"


class OooDepthProcessor(StatefulProcessor):
    """Per-user running max event-time as value state; emits one scored
    row per event, in arrival (event_id) order within each batch."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._maxts = handle.getValueState("maxts", "max_ts_ms bigint")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        max_ts = self._maxts.get()[0] if self._maxts.exists() else None
        # the stored value crosses an Arrow/pandas hop — a NULL written by
        # an all-NULL-ts first batch would read back as NaN and poison
        # every later max()/subtraction for this user
        max_ts = None if max_ts is None or pd.isna(max_ts) else int(max_ts)
        batch = pd.concat(list(rows), ignore_index=True)
        # arrival order INSIDE the micro-batch: the source may hand the
        # key's rows in any pdf order, but lateness is defined against
        # the running max over earlier ARRIVALS (event_id)
        batch = batch.sort_values("event_id", ignore_index=True)
        out = []
        for eid, etype, ts_ms in zip(
            batch["event_id"], batch["event_type"], batch["ts_ms"]
        ):
            # NULL event-time: the batch twin's window max skips NULLs and
            # yields NULL late_ms for the row — score it the same way and
            # leave the running max untouched (an int() on the NaN the
            # Arrow->pandas hop produces would kill the whole query)
            if pd.isna(ts_ms):
                late = None
            else:
                ts_ms = int(ts_ms)
                late = 0 if max_ts is None else max(0, max_ts - ts_ms)
                max_ts = ts_ms if max_ts is None else max(max_ts, ts_ms)
            out.append(
                {
                    "user_id": key[0],
                    "event_id": None if pd.isna(eid) else int(eid),
                    "event_type": etype,
                    "late_ms": late,
                }
            )
        # never store NULL state: a batch of only NULL event-times leaves
        # max_ts None — writing (None,) would make exists() true next batch
        # and surface as NaN through the Arrow hop
        if max_ts is not None:
            self._maxts.update((max_ts,))
        yield pd.DataFrame(out)

    def handleExpiredTimer(
        self, key: tuple, timerValues: "TimerValues", expiredTimerInfo: "ExpiredTimerInfo"
    ) -> Iterator[pd.DataFrame]:  # pragma: no cover — no timers registered
        return iter(())

    def close(self) -> None:
        pass


def ooo_depth_stream(events: DataFrame) -> DataFrame:
    """events stream with (user_id, event_id, event_type, ts_ms) → one
    scored row per event: its lateness vs the user's running max
    event-time as of arrival (Append output — rows are final)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        OooDepthProcessor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
