"""``batch_analytics``: one closed-loop client running ten registered,
oracle-backed operators over generated parquet tables.

One cold pass (part of set-up) collects every query's result; then warm
passes, each query forced with a ``noop`` write, for ``--seconds``.
Afterwards, outside the timed region, the cold results are checked against
the DuckDB oracles.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd

from common import percentile

HERE = os.path.dirname(os.path.abspath(__file__))

# TPC-H-shaped scale of the generated tables (lineitem ~ 6M x SF rows).
SF = 0.02
QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q18_large_orders",
    "join_left_outer",
    "word_count",
    "window_topk_per_group",
    "dedup_exact",
    "ann_bruteforce_topk",
    "tfidf_top_terms",
    "ewma_anomaly_events",
)


def _check(results: dict[str, pd.DataFrame], tables: str, registry) -> dict[str, str]:
    """Mismatch description per query whose result differs from its DuckDB
    oracle (empty when all match), by the rule of the repository's oracle
    tests: row count, columns, dtype class and sorted values."""
    import duckdb

    from tests.oracle_utils import compare_frames, register_duck_views

    con = duckdb.connect()
    try:
        register_duck_views(con, tables)
        bad = {}
        for name in QUERIES:
            problems = compare_frames(results[name], con.execute(registry.ORACLES[name]).fetchdf(),
                                      name)
            if problems:
                bad[name] = "; ".join(problems)
        return bad
    finally:
        con.close()


def run(seed, seconds, tracer, root, rss) -> dict:
    """One run; returns {"attempted", "failed", "e2e", "layers"}."""
    tables = os.path.join(root, "tables")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "tables",
         "--seed", str(seed), "--sf", str(SF), "--out", tables],
        check=True,
    )
    t_setup = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            from kasper_spark.session import get_spark

            spark = get_spark("perfbench-batch_analytics")
            get_spark_s = time.perf_counter() - t_setup
        with tracer.span("registry.load_operators"):
            t0 = time.perf_counter()
            from kasper_spark import registry

            registry.load_all_operators()
            load_s = time.perf_counter() - t0
        # The cold pass collects the results the oracle check needs, so the
        # check costs no extra execution of every query.
        cold, results = {}, {}
        for name in QUERIES:
            with tracer.span(f"op.{name}"):
                t0 = time.perf_counter()
                results[name] = registry.QUERIES[name](spark, tables).toPandas()
                cold[name] = time.perf_counter() - t0
            rss.sample()
    setup_s = time.perf_counter() - t_setup

    warm: dict[str, list[float]] = {name: [] for name in QUERIES}
    pass_s: list[float] = []
    passes = 0
    t_warm = time.perf_counter()
    with tracer.span("warm"):
        # whole passes only, so every query runs equally often; stop before
        # a pass that would end past ``seconds`` (but run at least one)
        while passes < 1 or (time.perf_counter() - t_warm) * (passes + 1) / passes <= seconds:
            with tracer.span("warm.pass"):
                t_pass = time.perf_counter()
                for name in QUERIES:
                    with tracer.span(f"op.{name}"):
                        t0 = time.perf_counter()
                        registry.QUERIES[name](spark, tables).write.format("noop").mode(
                            "overwrite").save()
                        warm[name].append(time.perf_counter() - t0)
                    rss.sample()
                pass_s.append(time.perf_counter() - t_pass)
            passes += 1
    rss.sample(force=True)

    bad = _check(results, tables, registry)
    for name, why in bad.items():
        print(f"batch_analytics: {name} differs from its oracle: {why}", file=sys.stderr)

    # Warm passes still speed up as the JIT compiles, so a query's latency
    # is its best warm time and throughput comes from the fastest pass.
    per_query_ms = [min(ts) * 1000.0 for ts in warm.values()]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (percentile(per_query_ms, 50), "ms"),
        "latency_p99_ms": (percentile(per_query_ms, 99), "ms"),
        "throughput_per_s": (len(QUERIES) / min(pass_s), "1/s"),
    }
    layers = {
        "session.get_spark_s": (get_spark_s, "s"),
        "registry.load_operators_s": (load_s, "s"),
        "latency.samples": (passes * len(QUERIES), "count"),
    }
    for name in QUERIES:
        layers[f"op.{name}_cold_s"] = (cold[name], "s")
        layers[f"op.{name}_s"] = (min(warm[name]), "s")
    runs_per_query = 1 + passes
    return {
        "attempted": runs_per_query * len(QUERIES),
        "failed": runs_per_query * len(bad),
        "e2e": e2e,
        "layers": layers,
    }
