"""Benchmark entry point: one named workload, one JSON result line.

    python3 perfbench/run.py --workload agent --seed 1 --seconds 6 --trace 0

Run from the repository root. ``--trace 0`` prints every end-to-end metric
named in BENCHMARK.json. ``--trace 1`` makes the same measurement with
Spark's event log, job tags and the benchmark's spans switched on and
prints every per-layer metric instead (a layer the workload never calls
reads 0). ``trace.cpu_s_per_op`` is the traced ``cpu_s_per_op``: the
tracing overhead is its distance from the untraced value. The line before
the result holds the workload's own figures (wall-clock latencies among
them), the host facts and the steal canary. ``--cpus 1`` gives the
single-threaded ``local[1]`` reference run.

End-to-end metrics (every workload reports all of them):

- ``cpu_s_per_op``: CPU seconds the process tree (driver, JVM, Python
  workers) spends per unit of work, over a fixed amount of work per run,
  without the CPU of the JVM's JIT compiler threads (``host.work_cpu_s``;
  printed on its own with the figures): per file shipped by the live
  stream in ``agent`` (from the query's start, its first micro-batch
  included, to the last commit), per pass over the list in ``queries``
  (from the start of the cold pass to the end of the last warm pass).
  Wall-clock latencies are printed with the figures but not gated: on a
  shared 4-vCPU host they drift by half between runs minutes apart, CPU
  time by about a tenth.
- ``peak_rss_mb``: peak summed RSS of this process and every process it
  started, sampled from /proc every 0.2 s; the peak is the highest level
  held for three samples in a row (``host.held_peak``), the instant
  maximum is printed with the figures.
- ``setup_s``: median of several session starts in one JVM, each followed
  by the same fixed warm-up job; the first launch, JVM included, is
  reported on its own as ``session.start_s``.

Outputs are checked after the timed region; each mismatch counts as a
failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("agent", "queries", "sql_analytics", "llm_operators")
SETUP_REPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] cores (default: every core of the host)",
    )
    return p.parse_args(argv)


def _configure_env(work: str, cpus: int) -> dict[str, str]:
    """Fit the engine to the host from the outside: cores, driver heap and
    every scratch directory inside ``work``. Must run before pyspark starts
    the JVM, which inherits this environment."""
    # the session's default heap is 48g; a quarter of RAM, at most 2g, fits
    # these inputs and leaves the rest of a shared host alone
    heap_gb = max(1, min(2, host.mem_total_mb() // 4096))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_*;
        # C1 only, a fixed young generation and a fixed set of compiler
        # threads (host.jit_cpu_s): README, "JVM settings", says why
        "JAVA_TOOL_OPTIONS": (
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xmn256m"
            f" -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
        ),
    }
    os.environ.update(env)
    return env


# ---------------------------------------------------------------------------
# session set-up
# ---------------------------------------------------------------------------
def spark_confs(work: str, trace: bool) -> dict[str, str]:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt-default"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                # Spark 4 compresses the event log with zstd by default
                "spark.eventLog.compress": "false",
            }
        )
    return confs


def start_session(work: str, trace: bool):
    """Session start plus the fixed warm-up job; returns (spark, seconds)."""
    from log_agent_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **spark_confs(work, trace))
    spark.range(200_000).selectExpr("sum(id * 7 % 13)").collect()
    return spark, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    args = _parse(argv)
    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, "log_agent_spark")):
        print("perfbench: run from the repository root (log_agent_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, cwd)
    sys.path.insert(0, HERE)
    work = os.path.join(cwd, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = args.cpus or os.cpu_count() or 1
    env = _configure_env(work, cpus)
    try:
        return _run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, env: dict[str, str]) -> int:
    import bench
    import workloads
    from spans import Tracer

    trace = bool(args.trace)
    canary = {"start": host.canary()}
    ticks = host.cpu_ticks()
    with host.RssSampler() as rss:
        spark, first = start_session(work, trace)
        setup = []
        for _ in range(1 if trace else SETUP_REPS):  # setup_s is not printed traced
            spark.stop()
            spark, s = start_session(work, trace)
            setup.append(s)
        tracer = Tracer(trace)
        try:
            result = workloads.get(args.workload)(spark, work, args.seed, args.seconds, tracer)
        finally:
            host.stop_spark(spark)
    steal = host.steal_share(ticks, host.cpu_ticks())
    canary["end"] = host.canary()
    canary["mid"] = canary["start"]
    contaminated = bench._canary_verdict(canary)

    e2e = {
        "setup_s": statistics.median(setup),
        **result.e2e,
        "peak_rss_mb": host.held_peak(rss.samples_kb) / 1024.0,
    }
    spec = _spec()
    if trace:
        # a layer the workload never calls did no work in this run: 0
        values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        measured = result.per_layer(os.path.join(work, "eventlog"))
        unknown = sorted(set(measured) - set(values))
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        values.update(measured)
        values["session.start_s"] = first
        values["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"]
        _save_spans(tracer, args)
    else:
        values = e2e
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops_attempted": result.attempted,
        "ops_failed": result.failed,
        "ops_failed_ratio": result.failed / result.attempted,
        "failures": result.failures[:20],
        "setup_samples_s": setup,
        "rss_mb": {
            "p50": statistics.median(rss.samples_kb) / 1024.0,
            "p90": statistics.quantiles(rss.samples_kb, n=10)[-1] / 1024.0,
            "peak": max(rss.samples_kb) / 1024.0,
            "held_peak": host.held_peak(rss.samples_kb) / 1024.0,
        },
        "session_start_s": first,
        "end_to_end": e2e,
        "workload_figures": result.figures,
        "host": host.facts(env),
        "canary": canary,
        "host_steal_share": steal,
        "contaminated": contaminated,
    }
    print(json.dumps(detail, default=float))
    metrics = spec["per_layer" if trace else "end_to_end"]
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in metrics
        },
    }
    print(json.dumps(out))
    return 0


def _save_spans(tracer, args) -> None:
    """Spans outlive the run's scratch directory: .bench_work/traces/."""
    out = os.path.join(os.getcwd(), ".bench_work", "traces")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl"))


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
