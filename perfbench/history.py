"""History import (S2/S3), the last phase of the traced ``agent`` run.

It imports the seeded tree with ``config.build_batch_ingest`` →
``plans.ingest.write_logfile``, then re-imports the files whose name
matches ``REIMPORT_GLOB`` (about a fifth of the tree, every key already
present) over it with ``sinks.upsert.upsert_parquet``. The live stream ran
before it, so the JVM is warm.

The tree mixes BSI and flat paths, ``.zip`` archives (some with GBK member
names), empty files and sizes on both sides of the gzip threshold, so the
binaryFile scan, the zip-explode and gzip UDFs and the upsert all do work.
"""

from __future__ import annotations

import os
import tempfile
import time

import inputs
from spans import job_tag
from workloads import Result, dir_bytes

N_FILES = 24
REIMPORT_GLOB = "*[05].*"


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def history_import(spark, work: str, seed: int) -> Result:
    from log_agent_spark.config import BizConfig, build_batch_ingest
    from log_agent_spark.plans.ingest import ingest_tree, write_logfile
    from log_agent_spark.sinks.upsert import upsert_parquet

    root = tempfile.mkdtemp(prefix="history-", dir=work)
    tree, table = os.path.join(root, "tree"), os.path.join(root, "logfile")
    entries = inputs.write_backfill_tree(tree, seed, N_FILES)
    cfg = BizConfig(name="BSI.HISTORY", watch=tree, patterns=".*", debounce_ms=0)
    with job_tag(spark, "history", True):
        t0 = time.time()
        write_logfile(build_batch_ingest(spark, cfg), table)
        t1 = time.time()
        upsert_parquet(spark, ingest_tree(spark, tree, glob=REIMPORT_GLOB), table)
        t2 = time.time()
    rewritten = dir_bytes(table, since=t1)

    result = Result(
        e2e={},
        attempted=2 + 3,
        failures=_check(spark, entries, table),
        figures={
            "history_files": N_FILES,
            "history_import_s": t1 - t0,
            "history_upsert_s": t2 - t1,
            "ingest_files_per_s": N_FILES / (t1 - t0),
        },
    )
    result.layer = _stage_increments(spark, tree)
    result.layer["sinks.reimport_upsert_s"] = t2 - t1
    result.layer["sinks.reimport_write_amp"] = rewritten / dir_bytes(table)
    return result


def _check(spark, entries, table) -> list[str]:
    """Row count and checksums against the generator's MD5s; rows == keys
    after the re-import."""
    from log_agent_spark.schemas import LOGFILE_KEY

    expected = sorted(
        md5 for e in entries for md5 in ([m for _, m in e.members] if e.members else [e.md5])
    )
    t = spark.read.parquet(table)
    got = sorted(r.checksum for r in t.select("checksum").collect())
    keys = t.select(*LOGFILE_KEY).distinct().count()
    failures = []
    if len(got) != len(expected):
        failures.append(f"logfile rows {len(got)} != generated files and members {len(expected)}")
    elif got != expected:
        failures.append("logfile checksums differ from the generator's MD5s")
    if keys != len(got):
        failures.append(f"after re-import: rows {len(got)} != keys {keys}")
    return failures


def _stage_increments(spark, tree) -> dict[str, float]:
    """What each stage adds to a noop write of the tree, measured once:
    listing, scan, + zip explode, + gzip gate and checksum."""
    from log_agent_spark.functions.paths import bsi_parse
    from log_agent_spark.functions.ziputil import with_zip_members
    from log_agent_spark.plans.ingest import ingest_tree
    from log_agent_spark.sources.binary_files import enrich_file_meta, read_binary_tree

    t0 = time.perf_counter()
    raw = read_binary_tree(spark, tree)  # lists eagerly (the empty-file pass)
    list_s = time.perf_counter() - t0
    scan_s = _noop(raw)
    meta = bsi_parse(enrich_file_meta(raw, tree))
    enriched_s = _noop(meta)
    zipped_s = _noop(with_zip_members(meta))
    full_s = _noop(ingest_tree(spark, tree))
    return {
        "sources.list_s": list_s,
        "sources.scan_s": scan_s,
        "functions.zip_s": max(0.0, zipped_s - enriched_s),
        "functions.compress_s": max(0.0, full_s - zipped_s),
    }
