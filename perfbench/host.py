"""Host-side measurement from outside the engine: /proc sampling of the
benchmark's process tree (psutil is not installed), the host-steal canary
and the host facts recorded with every result."""

from __future__ import annotations

import os
import platform
import threading
import time


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _tree() -> list[int]:
    """This process and every descendant (the JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (Python worker daemons) has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    started = [pid for pid in _tree() if pid != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout_s
    for pid in started:  # orphans are no longer our children: poll /proc
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (/proc/stat ``cpu`` line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of vCPU time the hypervisor gave to other guests in between:
    the contention that makes a run read slow."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included (a Python worker that exited is in its parent's cutime)."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def jit_cpu_s() -> float:
    """CPU seconds HotSpot's compiler threads (``C1/C2 CompilerThread``)
    have used so far in the tree's JVMs. The run starts every JVM with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so these threads live as
    long as their JVM and the count only grows."""
    ticks = 0
    for pid in _tree():
        if not _is_jvm(pid):
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += int(fields[11]) + int(fields[12])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def work_cpu_s() -> tuple[float, float]:
    """(work, JIT) CPU seconds used so far by the process tree: work is
    every thread but the JIT compiler's. Compilation runs concurrently
    with the work it speeds up and tracks how far the JVM's warm-up has
    got, not what the work costs: under the default tiered compiler it
    fell from two thirds of a query pass's CPU to a third over twenty
    identical passes, and varied by half between neighbouring passes."""
    total, jit = tree_cpu_s(), jit_cpu_s()
    return total - jit, jit


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_rss_kb() -> int:
    return sum(_rss_kb(pid) for pid in _tree())


def held_peak(samples: list[int], width: int = 3) -> int:
    """Highest level the samples stayed at or above for ``width``
    consecutive samples (0.4 s at the 0.2 s period). A Python worker
    forked and gone between two samples is caught by chance: the instant
    maximum of the ``agent`` stream jumped by over a gigabyte in two runs
    out of ten. The held peak does not depend on that luck."""
    if len(samples) < width:
        return max(samples)
    return max(min(samples[i:i + width]) for i in range(len(samples) - width + 1))


class RssSampler:
    """RSS of this process and its descendants, sampled every 0.2 s."""

    def __init__(self) -> None:
        self.samples_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples_kb.append(_tree_rss_kb())
            self._stop.wait(0.2)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# host facts and the steal canary (bench.py's spin and verdict, shortened)
# ---------------------------------------------------------------------------
_CANARY_SCALE = 8  # spin 1/8 of bench.py's iterations, report on its scale


def canary() -> float:
    import bench

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        bench._mc_spin(bench._CANARY_ITERS // _CANARY_SCALE)
        best = min(best, time.perf_counter() - t0)
    return best * _CANARY_SCALE


def facts(env: dict[str, str]) -> dict:
    import pyspark

    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "")
    except OSError:
        pass
    return {
        "cpu_model": model,
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loadavg_1m": os.getloadavg()[0],
        **{k: v for k, v in env.items() if k.startswith("SPARK_GRAFT")},
    }


