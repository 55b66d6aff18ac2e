"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def _files(root: str) -> dict[str, tuple[bytes, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = (f.read(), os.stat(p).st_mtime_ns)
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        inputs.write_tables(str(tmp_path / run), seed=7, sf=0.001)
    inputs.write_tables(str(tmp_path / "other"), seed=8, sf=0.001)
    a, b, other = (
        {k: v[0] for k, v in _files(str(tmp_path / r)).items()} for r in ("a", "b", "other")
    )
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != other["lineitem.parquet"]


def test_backfill_tree_is_byte_identical_per_seed(tmp_path):
    entries = [inputs.write_backfill_tree(str(tmp_path / r), seed=3, n_files=40) for r in ("a", "b")]
    assert entries[0] == entries[1]
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    other = inputs.write_backfill_tree(str(tmp_path / "other"), seed=4, n_files=40)
    assert [e.md5 for e in other] != [e.md5 for e in entries[0]]
    kinds = {os.path.splitext(e.rel_path)[1] for e in entries[0]}
    assert kinds == {".log", ".zip"}


def test_stream_plan_is_identical_per_seed():
    a = inputs.stream_plan(5, rate_per_s=2.0, seconds=8, burst=8)
    assert a == inputs.stream_plan(5, rate_per_s=2.0, seconds=8, burst=8)
    assert a != inputs.stream_plan(6, rate_per_s=2.0, seconds=8, burst=8)
    assert a.files == 24 and len({w.rel_path for w in a.writes}) == 24
    assert [w.due_s for w in a.writes] == sorted(w.due_s for w in a.writes)
    big = sum(len(w.content) > inputs.GZIP_THRESHOLD for w in a.writes)
    assert 0 < big < len(a.writes)
