"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes (``test_inputs.py`` pins this). The engine under test only ever
sees the files these functions write.

- ``write_tables``: the ten tables the query workloads read
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column domains of the engine's fixture family
  (FIXTURES.md) at a chosen scale factor.
- ``stream_plan``: the open-loop write schedule of the ``agent`` live
  stream: BSI layout ``.log`` files at a fixed rate, a fixed share
  rewritten inside the debounce window, and a fixed-size burst.
- ``write_backfill_tree``: the ``agent`` history-import tree: BSI and flat
  paths, ``.zip`` archives (some with GBK member names), empty files and
  sizes on both sides of the 1024 B gzip threshold.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np

GZIP_THRESHOLD = 1024  # functions.content.GZIP_MIN_LENGTH

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LOG_WORDS = (
    "PASS FAIL probe net short open volt ohm cap retest fixture slot "
    "board panel vector limit measured expected"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a table or a file
    kind never shifts the values drawn for another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# ---------------------------------------------------------------------------
# query-workload tables
# ---------------------------------------------------------------------------
def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days + 1, n)).astype("datetime64[us]")


def table_columns(seed: int, sf: float) -> dict[str, dict[str, object]]:
    """Column arrays of every table at scale factor ``sf`` (sf 0.01 gives
    1,500 customers, 15,000 orders and about 60,000 line items)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, dict[str, object]] = {}

    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(_REGIONS),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }

    r = _rng(seed, "customer")
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    }

    r = _rng(seed, "supplier")
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    }

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": keys,
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[m]}"
            for c, m in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }

    r = _rng(seed, "orders")
    orderdate = _days(r, n_ord, dt.date(1995, 1, 1), 2403)
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": orderdate,
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    }

    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": orderdate[okey]
        + (r.integers(1, 122, n_li) * 86_400_000_000).astype("timedelta64[us]"),
    }

    r = _rng(seed, "events")
    step_us = 30 * 86_400_000_000 // n_evt
    ts = np.datetime64("2024-01-01T00:00:00", "ns") + (
        np.arange(n_evt, dtype=np.int64) * step_us + r.integers(0, step_us, n_evt)
    ).astype("timedelta64[us]")
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts.astype("datetime64[ns]"),
        "user_id": r.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    }

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n_words = int(r.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in r.integers(0, len(_WORDS), n_words)))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in r.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centroids = r.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + r.normal(0.0, 1.5, (n_emb, 64))
    dups = np.flatnonzero(r.random(n_emb) < 0.05)
    dups = dups[dups > 0]
    vecs[dups] = vecs[dups - 1] + r.normal(0.0, 1e-3, (len(dups), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    }
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for all ten tables; return the
    row count of each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in table_columns(seed, sf).items():
        arrays = {}
        for col, values in cols.items():
            if col == "embedding":
                arrays[col] = pa.array(values, pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        table = pa.table(arrays)
        # parquet v2.6 keeps events.ts as TIMESTAMP(NANOS), the shape the
        # engine's loader converts (sources/tables.py)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), version="2.6")
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# log files
# ---------------------------------------------------------------------------
def _log_text(rng: np.random.Generator, size: int) -> bytes:
    """ASCII test-log lines, cut to exactly ``size`` bytes."""
    out = io.StringIO()
    n = 0
    while n < size:
        words = " ".join(_LOG_WORDS[w] for w in rng.integers(0, len(_LOG_WORDS), 6))
        line = f"{int(rng.integers(0, 10**6)):06d} {words} {rng.uniform(0, 5):.4f}\n"
        out.write(line)
        n += len(line)
    return out.getvalue()[:size].encode()


def _log_size(rng: np.random.Generator) -> int:
    """About a third above the gzip threshold, the rest below it."""
    if rng.random() < 1 / 3:
        return int(rng.integers(GZIP_THRESHOLD + 1, 8 * GZIP_THRESHOLD))
    return int(rng.integers(64, GZIP_THRESHOLD))


def _bsi_dir(rng: np.random.Generator, i: int, base: dt.datetime) -> str:
    """``<family>/<model>/<date>/<test_id>``, test_id ending in the
    ``yyyy-MM-dd_HH_mm_ss_SSS`` stamp the BSI transform parses. The stamp
    is unique per ``i``, so every file gets its own logfile key."""
    t = base + dt.timedelta(seconds=7 * i, milliseconds=int(rng.integers(0, 1000)))
    family = ("LOUP", "MAUI", "KONA")[int(rng.integers(0, 3))]
    model = f"1395T{int(rng.integers(0, 10**7)):07d}"
    test_id = f"MBB{i:06d}_1W_1_{t:%Y-%m-%d_%H_%M_%S}_{t.microsecond // 1000:03d}"
    return f"{family}/{model}/{t:%Y-%m-%d}/{test_id}"


@dataclass(frozen=True)
class StreamWrite:
    due_s: float  # offset from the start of the load phase
    rel_path: str
    content: bytes


@dataclass(frozen=True)
class StreamPlan:
    writes: list[StreamWrite]  # sorted by due time
    files: int  # distinct paths
    rewritten: int  # files written twice inside the debounce window
    burst_at_s: float  # due time of every burst write
    burst_paths: tuple[str, ...]


def stream_plan(
    seed: int,
    rate_per_s: float,
    seconds: float,
    burst: int,
    rewrite_share: float = 0.2,
    debounce_ms: int = 3000,
) -> StreamPlan:
    """Open-loop schedule: ``rate_per_s`` new files for ``seconds``, a
    ``rewrite_share`` of them written again inside the debounce window, and
    ``burst`` files due together at ``seconds``."""
    rng = _rng(seed, "stream")
    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    writes: list[StreamWrite] = []
    steady = int(rate_per_s * seconds)
    burst_at = float(seconds)
    rewritten = 0
    burst_paths = []
    for i in range(steady + burst):
        rel = f"{_bsi_dir(rng, i, base)}/FLOWLOG_{i:05d}.log"
        if i >= steady:
            burst_paths.append(rel)
        due = i / rate_per_s if i < steady else burst_at
        writes.append(StreamWrite(due, rel, _log_text(rng, _log_size(rng))))
        if i < steady and rng.random() < rewrite_share:
            rewritten += 1
            again = due + float(rng.uniform(0.2, 0.6)) * debounce_ms / 1000.0
            writes.append(StreamWrite(again, rel, _log_text(rng, _log_size(rng))))
    writes.sort(key=lambda w: w.due_s)
    return StreamPlan(writes, steady + burst, rewritten, burst_at, tuple(burst_paths))


@dataclass(frozen=True)
class TreeFile:
    rel_path: str
    md5: str  # of the raw bytes of each logical file (zip members too)
    members: tuple[tuple[str, str], ...] = ()  # (member name, md5) for zips


def _zip_bytes(rng: np.random.Generator, i: int) -> tuple[bytes, list[tuple[str, bytes]]]:
    members = []
    for j in range(int(rng.integers(1, 4))):
        if j == 0 and i % 2 == 0:
            name = f"测试日志_{i}_{j}.log"  # GBK-encoded, no UTF-8 flag
        else:
            name = f"member_{i}_{j}.log"
        members.append((name, _log_text(rng, _log_size(rng))))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in members:
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            if not name.isascii():
                # zipfile would set the UTF-8 flag; archivers on the test
                # stations write GBK names without it
                info.filename = name.encode("gbk").decode("cp437")
            zf.writestr(info, body)
    return buf.getvalue(), members


def write_backfill_tree(root: str, seed: int, n_files: int) -> list[TreeFile]:
    """Write the history tree; return one entry per file, in path order.

    Shares: 70 % BSI layout, 30 % flat; 10 % ``.zip``; 5 % empty.
    """
    rng = _rng(seed, "backfill")
    base = dt.datetime(2023, 6, 1, 9, 0, 0)
    out: list[TreeFile] = []
    for i in range(n_files):
        kind = rng.random()
        bsi = rng.random() < 0.7
        folder = _bsi_dir(rng, i, base) if bsi else f"flat/line{i % 7}"
        if kind < 0.10:
            body, members = _zip_bytes(rng, i)
            rel = f"{folder}/PACK_{i:05d}.zip"
            entry = TreeFile(
                rel,
                hashlib.md5(body).hexdigest(),
                tuple((n, hashlib.md5(b).hexdigest()) for n, b in members),
            )
        else:
            body = b"" if kind < 0.15 else _log_text(rng, _log_size(rng))
            rel = f"{folder}/LOG_{i:05d}.log"
            entry = TreeFile(rel, hashlib.md5(body).hexdigest())
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(body)
        # fixed mtimes: flat files key on modify time, so it must not
        # depend on when the tree was written
        stamp = (base + dt.timedelta(minutes=i)).replace(tzinfo=dt.timezone.utc).timestamp()
        os.utime(path, (stamp, stamp))
        out.append(entry)
    out.sort(key=lambda e: e.rel_path)
    return out
