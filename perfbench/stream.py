"""The ``agent`` workload's live stream: the agent's ``--mode stream`` path
under an open-loop file generator.

Pipeline, built from the engine's public functions: ``BizConfig`` (BSI;
debounce 0 in timed runs, 3000 ms as in conf/agent.ini in the traced
run's second stream) → ``config.read_file_events`` →
``run_event_pipeline`` with the agent's per-batch enrichment
(``__main__._stream_enrich``) plus the logfile projection of
``plans.ingest.ingest_tree`` (gzip gate and checksum) → ``MultiSink`` of the
K1 Kafka-record parquet append, the K2 ``upsert_parquet`` and the K3
``file_copy_sink``, checkpointed.

Load: one warm-up file committed before the clock starts, then new BSI
``.log`` files at ``RATE_PER_S`` into the watch tree (empty at start: the
source reports every pre-existing file as CREATE in its first batch),
a share of them rewritten within 0.2–0.6 of the 3000 ms debounce window,
then ``BURST_FILES`` files at once. Each write is scheduled by due time; how late the generator
ran is reported.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import tempfile
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import host
import inputs
from spans import Tracer
from workloads import Result, dir_bytes

RATE_PER_S = 2.0
BURST_FILES = 8
DEBOUNCE_MS = 3000
DRAIN_TIMEOUT_S = 90.0

LOGFILE_COLUMNS = [
    "file_date", "file_time", "folder", "pack", "name", "size", "modify_time",
    "upload_time", "content", "compress", "compress_size", "checksum", "host",
    "reference", "folder_time",
]


def logfile_projection(meta):
    """FileMeta rows → logfile columns, as ``plans.ingest.ingest_tree``
    projects them, keeping the raw bytes and file name for the K3 mirror."""
    from log_agent_spark.functions.content import apply_compression, checksum

    comp = apply_compression(F.col("size"), F.col("ext"), F.col("content"))
    return meta.select(
        F.col("filepath"),
        F.col("filename"),
        F.col("content").alias("raw_content"),
        F.to_date(F.col("create_time")).alias("file_date"),
        F.col("create_time").alias("file_time"),
        F.col("folder"),
        F.col("pack"),
        F.col("filename").alias("name"),
        F.col("size").cast("long").alias("size"),
        F.col("modify_time"),
        F.current_timestamp().alias("upload_time"),
        comp["content"],
        comp["compress"],
        comp["compress_size"],
        checksum(F.col("content")).alias("checksum"),
        F.col("host"),
        F.lit("").alias("reference"),
        F.col("folder_time"),
    )


class Progress(StreamingQueryListener):
    """Keeps every progress report the query publishes."""

    def __init__(self) -> None:
        self.reports: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        ops = p.stateOperators
        rec = {
            "batch": p.batchId,
            "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "rows": p.numInputRows,
            "duration": dict(p.durationMs),
            "state_rows": ops[0].numRowsTotal if ops else 0,
            "state_bytes": ops[0].memoryUsedBytes if ops else 0,
        }
        with self._lock:
            self.reports.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.reports)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def live_stream(spark, work: str, seed: int, seconds: float, tracer: Tracer,
                debounce_ms: int, burst: int = BURST_FILES, name: str = "live") -> Result:
    """One standing query from an empty watch tree to the last commit.

    ``name`` prefixes the job tags, so two streams traced in one run keep
    their jobs apart in the event log."""
    from log_agent_spark.__main__ import _stream_enrich
    from log_agent_spark.config import BizConfig, read_file_events
    from log_agent_spark.functions.envelope import to_kafka_records
    from log_agent_spark.sinks.filecopy import file_copy_sink
    from log_agent_spark.sinks.multi import MultiSink, Sink
    from log_agent_spark.sinks.upsert import upsert_parquet
    from log_agent_spark.streaming.pipeline import run_event_pipeline

    root = tempfile.mkdtemp(prefix="stream-", dir=work)
    watch, table, records, mirror, ckpt = (
        os.path.join(root, d) for d in ("watch", "upsert", "records", "mirror", "ckpt")
    )
    os.makedirs(watch)
    plan = inputs.stream_plan(seed, RATE_PER_S, seconds, burst, debounce_ms=debounce_ms or DEBOUNCE_MS)
    warm = inputs.stream_plan(seed + 1_000_003, 1.0, 1.0, 0, rewrite_share=0.0).writes[0]
    warm = inputs.StreamWrite(0.0, os.path.dirname(warm.rel_path) + "/WARMUP.log", warm.content)
    cfg = BizConfig(
        name="BSI.ICT", watch=watch, patterns=r".*\.log$", ignores="^~",
        max_nesting_level=5, debounce_ms=debounce_ms,
    )
    trace = tracer.enabled
    enrich = _stream_enrich(cfg)
    commits: dict[str, float] = {}  # rel path → last commit time
    emitted = [0]
    sink_failures: list[str] = []
    rewrite_bytes = [0]
    batch_no = iter(range(10**9))
    current = threading.local()

    def transform(batch):
        current.tag = f"{name}-batch-{next(batch_no)}"
        current.start = time.time()
        if trace:
            spark.sparkContext.addJobTag(current.tag)
        with tracer.span("streaming.enrich", current.tag):
            return logfile_projection(enrich(batch))

    def timed(sink: str, fn):
        def _write(df):
            with tracer.span(f"sinks.{sink}", current.tag):
                try:
                    fn(df)
                except Exception as exc:  # counted, then re-raised: MultiSink fails fast
                    sink_failures.append(f"{sink}: {exc!r}"[:300])
                    raise

        return _write

    def k1(df):
        to_kafka_records(df.select(*LOGFILE_COLUMNS)).write.mode("append").parquet(records)

    def k2(df):
        t0 = time.time()
        upsert_parquet(spark, df.select(*LOGFILE_COLUMNS), table)
        if trace and os.path.isdir(table):
            rewrite_bytes[0] += dir_bytes(table, since=t0)

    k3_sink = file_copy_sink(mirror)

    def k3(df):
        k3_sink.write(df.select("folder", "filename", "modify_time", F.col("raw_content").alias("content")))

    def on_success(batch):
        paths = [r.filepath for r in batch.select("filepath").collect()]
        now = time.time()
        emitted[0] += len(paths)
        for p in paths:
            commits[os.path.relpath(p, watch)] = now

    chain = MultiSink(
        [
            Sink("kafka-records", timed("kafka_records", k1), priority=10),
            Sink("upsert", timed("upsert", k2), priority=5),
            Sink("file", timed("file_copy", k3), priority=0),
        ],
        on_success=on_success,
    )
    units: dict[str, tuple[float, float]] = {}

    def multi(batch, epoch_id):
        try:
            with tracer.span("sinks.multi", current.tag):
                chain(batch, epoch_id)
        finally:
            units[current.tag] = (current.start, time.time())
            if trace:
                spark.sparkContext.removeJobTag(current.tag)

    listener = Progress()
    spark.streams.addListener(listener)
    last_write: dict[str, float] = {}
    lateness: list[float] = []

    def write(w: inputs.StreamWrite) -> float:
        path = os.path.join(watch, w.rel_path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(w.content)
        last_write[w.rel_path] = time.time()
        return last_write[w.rel_path]

    def generate(t0: float) -> None:
        for w in plan.writes:
            delay = t0 + w.due_s - time.time()
            if delay > 0:
                time.sleep(delay)
            lateness.append(write(w) - (t0 + w.due_s))

    failures: list[str] = []
    cpu_start, jit_start = host.work_cpu_s()
    q = run_event_pipeline(
        read_file_events(spark, cfg), multi, transform=transform,
        debounce_ms=cfg.debounce_ms or None, checkpoint_dir=ckpt,
    )
    gen = None
    try:
        t_start = time.time()
        write(warm)
        _wait(lambda: warm.rel_path in commits, q, 120.0)
        stream_start_s = time.time() - t_start
        t0 = time.time()
        cpu0 = host.work_cpu_s()[0]
        gen = threading.Thread(target=generate, args=(t0,), daemon=True)
        gen.start()
        expected = {w.rel_path for w in plan.writes}
        _wait(
            lambda: not gen.is_alive() and all(
                commits.get(p, 0) > last_write.get(p, float("inf")) for p in expected
            ),
            q, plan.burst_at_s + DRAIN_TIMEOUT_S,
        )
        t_end = time.time()
        cpu1, jit1 = host.work_cpu_s()
        cpu_load = cpu1 - cpu0
    finally:
        if q.isActive:
            q.stop()
        if gen is not None:
            gen.join(timeout=60)
        spark.streams.removeListener(listener)
    if q.exception() is not None:
        failures.append(f"stream query died: {q.exception()}"[:500])
    failures += sink_failures

    debounce_s = debounce_ms / 1000.0
    lat, undelivered = [], 0
    for p in sorted(expected):
        if commits.get(p, 0) > last_write.get(p, float("inf")):
            lat.append(commits[p] - last_write[p] - debounce_s)
        else:
            undelivered += 1
    if warm.rel_path not in commits:
        undelivered += 1
    if undelivered:
        failures.append(f"{undelivered} of {len(expected) + 1} files not committed")
    burst_written = max((last_write.get(p, t_end) for p in plan.burst_paths), default=t_end)
    burst_drain_s = max((commits.get(p, t_end) for p in plan.burst_paths), default=t_end) - burst_written

    t_check = time.time()
    failures += _check_outputs(spark, plan, warm, watch, table, records, mirror)
    reports = listener.snapshot()
    load = [r["duration"].get("triggerExecution", 0) for r in reports if r["start"] >= t0]
    lat.sort()
    figures = {
        "files": plan.files + 1,
        "rewritten_files": plan.rewritten,
        "rate_per_s": RATE_PER_S,
        "debounce_ms": debounce_ms,
        "burst_files": burst,
        "file_latency_samples": len(lat),
        "file_latency_p50_ms": 1000 * _median(lat),
        "file_latency_p90_ms": 1000 * lat[int(0.9 * (len(lat) - 1))] if lat else 0.0,
        "file_latency_max_ms": 1000 * lat[-1] if lat else 0.0,
        "burst_drain_s": burst_drain_s,
        "load_batches": len(load),
        "batch_p50_ms": _median(load),  # the reference's "Finish N tasks in D"
        "batch_max_ms": max(load, default=0),
        "batch_mean_ms": sum(load) / len(load) if load else 0.0,
        "load_cpu_s_per_batch": cpu_load / max(1, len(load)),
        "stream_cpu_s": cpu1 - cpu_start,
        "stream_jit_cpu_s": jit1 - jit_start,
        "stream_start_s": stream_start_s,
        "drain_s": t_end - (t0 + plan.burst_at_s),
        "check_s": time.time() - t_check,
        "generator_late_p50_ms": 1000 * _median(lateness),
        "generator_late_max_ms": 1000 * max(lateness, default=0.0),
    }
    result = Result(
        e2e={"cpu_s_per_op": (cpu1 - cpu_start) / (len(expected) + 1)},
        attempted=len(expected) + 1 + 3,
        failures=failures,
        figures=figures,
        units=units,
    )
    if trace:
        result.layer = _layer_metrics(reports, tracer, ckpt, emitted[0], plan, t0,
                                      rewrite_bytes[0], table, len(sink_failures))
    return result


def _wait(done, q, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline and q.isActive and not done():
        time.sleep(0.05)


def _check_outputs(spark, plan, warm, watch, table, records, mirror) -> list[str]:
    """Upsert rows == distinct keys == generated files; distinct Kafka-record
    keys == upsert keys; mirror bytes == last written bytes."""
    from log_agent_spark.schemas import LOGFILE_KEY

    failures = []
    final = {w.rel_path: w.content for w in plan.writes}
    final[warm.rel_path] = warm.content
    t = spark.read.parquet(table)
    rows = t.count()
    keys = t.select(*LOGFILE_KEY).distinct().count()
    if not rows == keys == len(final):
        failures.append(f"upsert rows {rows}, keys {keys}, files {len(final)}")
    record_keys = spark.read.parquet(records).select("key").distinct().count()
    if record_keys != keys:
        failures.append(f"kafka-record keys {record_keys} != upsert keys {keys}")
    bad = 0
    for rel, body in final.items():
        try:
            with open(os.path.join(mirror, rel), "rb") as f:
                bad += f.read() != body
        except OSError:
            bad += 1
    if bad:
        failures.append(f"{bad} mirrored files differ from the source")
    return failures


def _layer_metrics(reports, tracer, ckpt, emitted, plan, t0, rewrite_bytes, table,
                   sink_failed) -> dict[str, float]:
    load = [r for r in reports if r["start"] >= t0]  # after the warm-up file

    def med(key):
        return _median([r["duration"].get(key, 0) for r in load])

    offsets = os.path.join(ckpt, "offsets")
    newest = max(
        (os.path.join(offsets, f) for f in os.listdir(offsets) if f.isdigit()),
        key=lambda p: int(os.path.basename(p)), default=None,
    ) if os.path.isdir(offsets) else None
    due = sorted(t0 + w.due_s for w in plan.writes)
    pending, seen = 0, 0
    for r in sorted(reports, key=lambda r: r["batch"]):
        seen += r["rows"]
        written = sum(1 for d in due if d <= r["start"])
        pending = max(pending, written - seen)
    events_in = sum(r["rows"] for r in reports)
    return {
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.offset_bytes": os.path.getsize(newest) if newest else 0,
        "sources.pending_files": pending,
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.enrich_ms": 1000 * _median(tracer.durations("streaming.enrich")),
        "streaming.batches": len(load),
        "streaming.timer_batch_share": (
            sum(1 for r in load if r["rows"] == 0) / len(load) if load else 0.0
        ),
        "debounce.state_rows": max((r["state_rows"] for r in reports), default=0),
        "debounce.state_bytes": max((r["state_bytes"] for r in reports), default=0),
        "debounce.emit_ratio": emitted / events_in if events_in else 0.0,
        # self time: persist, commit hook and unpersist around the sinks
        "sinks.multi_ms": 1000 * _median(tracer.durations("sinks.multi", self_time=True)),
        "sinks.upsert_ms": 1000 * _median(tracer.durations("sinks.upsert")),
        "sinks.kafka_records_ms": 1000 * _median(tracer.durations("sinks.kafka_records")),
        "sinks.file_copy_ms": 1000 * _median(tracer.durations("sinks.file_copy")),
        "sinks.failed": sink_failed,
        "sinks.upsert_rewrite_bytes": rewrite_bytes,
        "sinks.upsert_write_amp": rewrite_bytes / max(1, dir_bytes(table)),
    }
