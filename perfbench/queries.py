"""Closed-loop query workloads: one client, noop sink, seeded tables.

Each pass runs every query of the list once: build the DataFrame (the
``__spark_entry__.queries()`` body) and materialize it through the JVM
``noop`` sink. The first pass in the fresh session is the cold pass; the
warm passes that follow fill about ``seconds`` on a 4-vCPU host, and are
at least ``MIN_WARM``. After the timed region every query's result is
compared with its DuckDB ``oracle_sql()`` on the same tables (row count,
column names and the order-insensitive value hash of
``tools/oracle_check.py``).

``queries`` is the gated mix: relational plans (scan, joins, shuffles,
windows) next to driver-orchestrated operators (per-round jobs, UDFs).
``sql_analytics`` and ``llm_operators`` are the two full lists; a warm pass
over either takes longer than one benchmark run may, so they are for
manual runs with a larger ``--seconds``.
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

import host
import inputs
from spans import Tracer, job_tag
from workloads import Result

SF = 0.01
NOMINAL_PASS_S = 2.0  # warm pass over the gated list on a 4-vCPU host
MIN_WARM = 8  # warm passes after the cold one, at least

QUERY_LISTS = {
    "queries": ["q05_local_supplier_volume", "window_topk_per_group", "dedup_simhash"],
    "sql_analytics": [
        "q01_pricing_summary", "q02_min_cost_supplier", "q03_shipping_priority",
        "q04_order_priority", "q05_local_supplier_volume", "q06_forecast_revenue",
        "q09_product_profit", "q10_returned_items", "q11_important_stock",
        "q13_customer_distribution", "q18_large_volume", "q21_waiting_suppliers",
        "window_topk_per_group", "agg_cube", "events_sessionize",
        "events_tumbling_window", "events_pit_versioned_join", "events_dwell_percentiles",
        "events_rolling_7d_users", "events_kmv_set_ops", "events_quantile_sketch_report",
        "events_gaps_islands", "events_retention_cohort", "basket_part_pairs_lift",
        "customer_rfm", "cohort_ltv", "supplier_leadtime", "part_supplier_hhi",
        "pareto_revenue_concentration",
    ],
    "llm_operators": [
        "graph_pagerank", "graph_modularity", "graph_cc_incremental", "graph_bfs_hops",
        "graph_kcore", "dedup_connected_components", "er_golden_record",
        "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
        "dedup_minhash_incremental", "ann_ivf", "ann_kmeans_step",
        "embeddings_power_iteration", "text_bm25_search", "text_tfidf_topterms",
        "text_decontaminate",
    ],
}


def _layer(fn) -> str:
    """``plans`` or ``operators``: the engine package the query body is in."""
    return "operators" if ".operators." in fn.__module__ else "plans"


def make_workload(names: list[str]):
    def run(spark, work: str, seed: int, seconds: float, tracer: Tracer) -> Result:
        import __spark_entry__

        data = tempfile.mkdtemp(prefix="tables-", dir=work)
        inputs.write_tables(data, seed, SF)
        bodies = __spark_entry__.queries()
        trace = tracer.enabled
        units: dict[str, tuple[float, float]] = {}
        times: dict[str, list[float]] = {n: [] for n in names}

        def one_pass(p: int) -> tuple[float, float, float]:
            """(wall s, work CPU s, JIT CPU s) of pass ``p``; pass 0 is the
            cold pass."""
            t_pass = time.perf_counter()
            cpu, jit = host.work_cpu_s()
            start = time.time()
            with job_tag(spark, f"p{p}", trace):
                for n in names:
                    fn = bodies[n]
                    t0 = time.time()
                    with job_tag(spark, f"p{p}-{n}", trace):
                        with tracer.span(f"{_layer(fn)}.build", f"p{p}"):
                            df = fn(spark, data)
                        with tracer.span(f"{_layer(fn)}.exec", f"p{p}"):
                            df.write.format("noop").mode("overwrite").save()
                    t1 = time.time()
                    # queries that persist or checkpoint must not pin
                    # storage for the rest of the run
                    spark.catalog.clearCache()
                    if p > 0:
                        times[n].append(t1 - t0)
            if p > 0:
                units[f"p{p}"] = (start, time.time())
            cpu_end, jit_end = host.work_cpu_s()
            return time.perf_counter() - t_pass, cpu_end - cpu, jit_end - jit

        cold, cold_cpu, cold_jit = one_pass(0)
        # a fixed pass count, not a deadline: passes keep getting cheaper
        # as the JVM warms up, so a slow host that fits fewer passes would
        # also read costlier
        n_warm = max(MIN_WARM, round(seconds / NOMINAL_PASS_S))
        warm_passes = [one_pass(p) for p in range(1, n_warm + 1)]
        # the whole query phase, cold pass included, over its passes: all
        # the work of the run, as in the agent workload (README: neither
        # this nor the warm passes alone spread less in every set of runs)
        cpu_per_pass = (cold_cpu + sum(c for _, c, _ in warm_passes)) / (1 + n_warm)

        t_check = time.perf_counter()
        failures = _check(spark, data, names, bodies)
        check_s = time.perf_counter() - t_check
        pass_s = sum(statistics.median(times[n]) for n in names)
        result = Result(
            e2e={"cpu_s_per_op": cpu_per_pass},
            attempted=len(names) * (len(warm_passes) + 2),
            failures=failures,
            figures={
                "sf": SF,
                "queries": len(names),
                "warm_passes": len(warm_passes),
                "queries_per_s": len(names) * len(warm_passes) / sum(w for w, _, _ in warm_passes),
                "cpu_s_per_pass": [c for _, c, _ in warm_passes],
                "jit_cpu_s_per_pass": [j for _, _, j in warm_passes],
                "pass_s": pass_s,  # sum of the per-query medians
                "cold_pass_s": cold,
                "cold_pass_cpu_s": cold_cpu,
                "cold_pass_jit_cpu_s": cold_jit,
                "check_s": check_s,
                "query_median_s": {n: statistics.median(times[n]) for n in names},
            },
            units=units,
        )
        if trace:
            layer = dict.fromkeys(("plans.build_s", "plans.exec_s", "operators.build_s", "operators.exec_s"), 0.0)
            for sp in tracer.spans:
                if sp.unit != "p0":  # warm passes only
                    layer[f"{sp.name}_s"] += (sp.end - sp.start) / len(warm_passes)
            result.layer = layer
        return result

    return run


def _check(spark, data: str, names: list[str], bodies) -> list[str]:
    """Spark result vs DuckDB oracle on the same tables."""
    import duckdb

    import __spark_entry__

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from oracle_check import TABLES, frame_hash

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    failures = []
    for n in names:
        try:
            got = bodies[n](spark, data).toPandas()
            spark.catalog.clearCache()
            want = con.sql(oracles[n]).df()
        except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
            failures.append(f"{n}: {exc!r}"[:300])
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append(f"{n}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        elif frame_hash(got)[:2] != frame_hash(want)[:2]:
            failures.append(f"{n}: rows/value hash differ from the oracle")
    return failures
