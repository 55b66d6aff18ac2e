"""Workload registry and the result every workload returns."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from spans import Tracer, read_event_log, spark_layer


@dataclass
class Result:
    """One measurement of one workload.

    ``e2e`` holds ``cpu_s_per_op``; ``figures`` the workload's own
    end-to-end numbers (printed, not gated); ``layer`` the per-layer
    metrics the workload measured itself; ``units`` the wall interval of
    each tagged unit of work, for the ``spark.*`` metrics.
    """

    e2e: dict[str, float]
    attempted: int
    failures: list[str]
    figures: dict = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    units: dict[str, tuple[float, float]] = field(default_factory=dict)

    def merge(self, other: "Result") -> "Result":
        return Result(
            {**self.e2e, **other.e2e},
            self.attempted + other.attempted,
            self.failures + other.failures,
            {**self.figures, **other.figures},
            {**self.layer, **other.layer},
            {**self.units, **other.units},
        )

    @property
    def failed(self) -> int:
        return len(self.failures)

    def per_layer(self, event_log_dir: str) -> dict[str, float]:
        out = dict(self.layer)
        out.update(spark_layer(read_event_log(event_log_dir), self.units))
        return out


Workload = Callable[..., Result]


def dir_bytes(root: str, since: float = 0.0) -> int:
    """Bytes of the files under ``root`` modified at or after ``since``."""
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def agent(spark, work: str, seed: int, seconds: float, tracer: Tracer) -> Result:
    """The agent's live path, timed with the debounce bypassed (``debounce
    = 0``, as conf/agent.ini's SPI section runs): with the 3 s debounce every
    file needs an ingest and an emission micro-batch, which doubles a run.

    The traced run adds, after it, a short stream with the BSI debounce of
    conf/agent.ini (3000 ms) for the ``debounce.*`` layer, and one history
    import (``history_import = true``) for ``sources.list_s``/``scan_s``,
    ``functions.*`` and ``sinks.reimport_*``."""
    from stream import DEBOUNCE_MS, live_stream

    live = live_stream(spark, work, seed, seconds, tracer, debounce_ms=0)
    if not tracer.enabled:
        return live
    from history import history_import

    debounced = live_stream(spark, work, seed, min(seconds, 2.0), Tracer(True),
                            debounce_ms=DEBOUNCE_MS, burst=4, name="debounced")
    live.layer.update({k: v for k, v in debounced.layer.items() if k.startswith("debounce.")})
    live.figures.update({f"debounced_{k}": v for k, v in debounced.figures.items()})
    live.attempted += debounced.attempted
    live.failures += debounced.failures
    return live.merge(history_import(spark, work, seed))


def get(name: str) -> Workload:
    if name == "agent":
        return agent
    from queries import QUERY_LISTS, make_workload

    return make_workload(QUERY_LISTS[name])
