"""Streaming per-key distinct-count (HyperLogLog) on transformWithStateInPandas.

The streaming twin of the batch first-principles HLL in plans/events.py
(`events_hll_report` / `events_hll_incremental`): each key (event_type)
keeps its m=64 register vector as TWS value state; every micro-batch
folds new rows into the registers and emits the refreshed estimate. The
register math is BIT-IDENTICAL to the batch form — same 28-bit md5
prefix hash, bucket = low 6 bits, rank = 23 - bit_length(w), dyadic
2^-reg harmonic sum — so the streaming estimate after any sequence of
micro-batches equals the batch estimate over the union of their rows
(the mergeable-sketch property, proven in tests/test_hll_tws.py by
replaying the same fixture split into batches).

Why TWS and not a windowed agg: distinct-count state must persist and
merge ACROSS micro-batches indefinitely (a lifetime cardinality, not a
windowed one). The value state is one 64-long vector per key — RocksDB
holds ~0.5 KB/key, so a 100 M-key fleet is ~50 GB of executor-local
state, far beyond what an exact distinct's per-key hash sets would need.

Requires a protobuf runtime in the driver and workers (compat.ensure_protobuf).
"""

from __future__ import annotations

from collections.abc import Iterator
from hashlib import md5

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

_HLL_M = 64
_HLL_ALPHA = 0.709  # alpha_64, Flajolet et al. 2007 — same as plans/events.py

_OUT_SCHEMA = "event_type string, hll_est double, v_zero int, n_seen long"


def _fold(regs: list[int], values) -> list[int]:
    """Fold hashed values into a register vector (batch-identical math)."""
    for v in values:
        h = int(md5(str(v).encode()).hexdigest()[:7], 16)  # 28-bit prefix
        bucket = h % _HLL_M
        w = h >> 6
        rank = 23 if w == 0 else 23 - w.bit_length()
        if rank > regs[bucket]:
            regs[bucket] = rank
    return regs


def _estimate(regs: list[int]) -> float:
    # dyadic 2^-reg terms: the sum is exact in a double (<= 64 terms of
    # granularity 2^-23), matching Spark/DuckDB bit for bit
    denom = sum(1.0 / (1 << r) for r in regs)
    return round(_HLL_ALPHA * _HLL_M * _HLL_M / denom, 4)


class HllProcessor(StatefulProcessor):
    """Per-key HLL register vector as value state; emits estimate per batch."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._regs = handle.getValueState(
            "regs", "regs array<bigint>, n_seen bigint"
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        if self._regs.exists():
            prev = self._regs.get()
            regs, n_seen = list(prev[0]), prev[1]
        else:
            regs, n_seen = [0] * _HLL_M, 0
        for pdf in rows:
            regs = _fold(regs, pdf["event_id"].tolist())
            n_seen += len(pdf)
        self._regs.update((regs, n_seen))
        # n_seen is cumulative, so a key's freshest update is its max —
        # lets update-mode consumers pick the latest row without ordering
        yield pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "hll_est": _estimate(regs),
                    "v_zero": sum(1 for r in regs if r == 0),
                    "n_seen": n_seen,
                }
            ]
        )

    def handleExpiredTimer(
        self, key: tuple, timerValues: "TimerValues", expiredTimerInfo: "ExpiredTimerInfo"
    ) -> Iterator[pd.DataFrame]:  # pragma: no cover — no timers registered
        return iter(())

    def close(self) -> None:
        pass


def hll_stream(events: DataFrame) -> DataFrame:
    """events stream with (event_type, event_id) → per-type running HLL
    estimates, refreshed every micro-batch (Update output)."""
    return events.groupBy("event_type").transformWithStateInPandas(
        HllProcessor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
