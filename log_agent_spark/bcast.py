"""Count-guarded broadcast: hint only when a cheap row-count UPPER BOUND
says the build side can actually fit on every executor.

The repo's broadcast policy (SCALE.md "Relational surface") is:

* constant-size tables (nation/region, 1-row stats frames, calendar
  spines, bounded-k codebooks) may be hinted unconditionally;
* tables that GROW with the data must never carry an unconditional
  ``F.broadcast`` — at 100 TB a forced broadcast of part/supplier/a
  prior-corpus hash set is an executor OOM. ``tests/test_plan_lint.py``
  mechanizes this for raw scans; this helper is for the sites the lint
  cannot see (aggregated/derived build sides, e.g. the prior-corpus hash
  table in ``operators/dedup.py``) where a broadcast is the RIGHT plan
  while the side is small and a hash-partitioned join is the right plan
  once it is not.

The bound must be CHEAP — a parquet footer ``count()`` of a base table
(metadata-only, no scan), or a count the caller already holds, rather
than a count of the derived frame itself, which would execute the plan
twice. The graph operators' node-sized sides (PageRank ranks, the BFS
frontier and visited set) route through here too.

``DEFAULT_BROADCAST_ROW_LIMIT``: 10M rows of 16-byte hashes ≈ 160 MB plus
row overhead — comfortably inside a multi-GB executor, well past any
fixture, and far below where a 100 TB corpus lands (which is the point:
at that scale the guard routes to the shuffle join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BROADCAST_ROW_LIMIT = 10_000_000


def maybe_broadcast(
    df: DataFrame,
    n_rows_bound: int,
    limit: int = DEFAULT_BROADCAST_ROW_LIMIT,
) -> DataFrame:
    """Return ``F.broadcast(df)`` when ``n_rows_bound <= limit``, else
    ``df`` unchanged (letting Catalyst/AQE pick the join strategy from
    runtime sizes)."""
    return F.broadcast(df) if n_rows_bound <= limit else df
