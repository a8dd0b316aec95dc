"""The ``catalog_queries`` workload: the query catalog, read-only.

Closed loop, one client. Each op builds a catalog query through the
driver contract (``QUERIES[name](spark, sf_dir)``, the same callables
``__spark_entry__.queries()`` returns) and runs ``count()`` on it. The
suite is a fixed subset of ``bench.HEADLINE``: the queries over the
TPC-H-shaped tables and ``events``, covering joins, windows, as-of
joins, gap filling, a CDC merge, funnels, sketches, statistics,
streaming-shaped aggregations and the parse/serialize contracts.

It uses none of ``sources``, ``streaming.sinks`` or ``plans.pipeline``:
an ETL-path change should not move it, and a query-path change should
not move ``etl``.

Phases: set-up (new session + a cold pass of ``SETUP_SUITE`` over small
tables, three times; only the first launches the JVM), one untimed warm
pass that collects every result and compares it
with its DuckDB oracle (``__spark_entry__.oracle_sql()``, compared with
``tools/check_correctness.canon_rows``), then timed passes for
``--seconds``. Each timed op's row count is also checked against the
oracle's.
"""

from __future__ import annotations

import os
import sys
import time

import tables
from harness import SETUPS, Bench, median, percentile
from spans import ExecStats, Py4jCounter, summarize

SF = 0.01
SETUP_SF = 0.001
SUITE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_waiting_orders",
    "join_enrich_events",
    "window_topk_per_group",
    "asof_join_events",
    "gapfill_hourly",
    "cdc_merge_customers",
    "funnel_stages",
    "stream_tumbling_counts",
    "parse_dead_letter",
    "serialize_projection_contract",
    "sketch_tdigest_rollup",
    "join_bloom_prefilter",
    "anomaly_mad_robust",
    "stats_kruskal_wallis",
]


#: the set-up's cold pass: one query per family, to keep set-up short
SETUP_SUITE = [
    "q5_region_revenue",
    "asof_join_events",
    "parse_dead_letter",
    "sketch_tdigest_rollup",
    "stats_kruskal_wallis",
]


def _pass(bench: Bench, queries, sf_dir: str, suite: list[str]) -> list[float]:
    times = []
    for name in suite:
        t0 = time.perf_counter()
        queries[name](bench.spark, sf_dir).count()
        times.append(time.perf_counter() - t0)
    return times


def _oracle_check(bench: Bench, queries, sf_dir: str) -> dict[str, int]:
    """Collect every suite query and compare with its DuckDB oracle;
    returns the oracle row count per query."""
    import duckdb
    from check_correctness import canon_rows

    from __spark_entry__ import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    rows = {}
    try:
        for name in SUITE:
            bench.attempted += 1
            sdf = queries[name](bench.spark, sf_dir)
            scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
            rel = con.sql(oracles[name])
            dcols, drows = [d[0] for d in rel.description], rel.fetchall()
            rows[name] = len(drows)
            bench.check(
                sorted(scols) == sorted(dcols)
                and canon_rows(scols, srows) == canon_rows(dcols, drows),
                f"{name}: result differs from its oracle",
            )
    finally:
        con.close()
    return rows


def run(bench: Bench, workload: str) -> dict:
    main_dir = os.path.dirname(bench.path("tables", "x"))
    small_dir = os.path.dirname(bench.path("tables_setup", "x"))
    tables.write(main_dir, SF, bench.seed)
    tables.write(small_dir, SETUP_SF, bench.seed + 1_000_003)
    os.sync()
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))  # check_correctness
    bench.phase("setup")
    setups = []
    for i in range(SETUPS):
        start_s = bench.new_session()
        if i == 0:
            bench.detail["session_start_s"] = start_s
            from amazon_kinesis_analytics_streaming_etl_spark.plans.catalog import QUERIES
        setups.append(start_s + sum(_pass(bench, QUERIES, small_dir, SETUP_SUITE)))
    bench.detail.update(setup_runs_s=setups, sf=SF, suite=len(SUITE))
    bench.phase("oracle")
    expect = _oracle_check(bench, QUERIES, main_dir)
    os.sync()
    bench.phase("timed")
    if bench.trace:
        return _traced(bench, QUERIES, main_dir, expect)
    lat, walls = [], []
    t_end = time.perf_counter() + bench.seconds
    while time.perf_counter() < t_end or len(walls) < 2:
        p0 = time.perf_counter()
        for name in SUITE:
            t0 = time.perf_counter()
            n = QUERIES[name](bench.spark, main_dir).count()
            lat.append(time.perf_counter() - t0)
            bench.attempted += 1
            bench.check(n == expect[name], f"{name}: {n} rows, oracle {expect[name]}")
        walls.append(time.perf_counter() - p0)
    bench.detail.update(pass_s=walls, ops=len(lat))
    return {
        "setup_s": (median(setups), "s"),
        "rate_per_s": (len(lat) / sum(walls), "1/s"),
        "latency_p50_ms": (percentile(lat, 50) * 1e3, "ms"),
        "latency_p90_ms": (percentile(lat, 90) * 1e3, "ms"),
    }


_PHASES = ("analysis", "optimization", "planning")


def _traced(bench: Bench, queries, sf_dir: str, expect: dict) -> dict:
    """Alternating untraced and traced passes. A traced op records its
    build time, py4j calls and jobs started while building, its
    ``count()`` time, and afterwards the planner's phase times for the
    query's own plan."""
    stats = ExecStats(bench.spark)
    py4j = Py4jCounter(bench.spark)
    acc = {k: 0.0 for k in ("build_s", "py4j", "build_jobs", "analysis", "optimization", "planning")}
    traced_walls, untraced_walls, windows, ops = [], [], [], 0
    jobs_all, stages_all = [], []
    t_end = time.perf_counter() + bench.seconds
    i = 0
    while time.perf_counter() < t_end or len(traced_walls) < 2 or len(untraced_walls) < 2:
        traced = i % 2 == 1
        p0, w0 = time.perf_counter(), time.time()
        for name in SUITE:
            if not traced:
                n = queries[name](bench.spark, sf_dir).count()
            else:
                jobs, stages = stats.collect()  # the previous op's count()
                jobs_all += jobs
                stages_all += stages
                py4j.install()
                b0 = time.perf_counter()
                df = queries[name](bench.spark, sf_dir)
                acc["build_s"] += time.perf_counter() - b0
                py4j.uninstall()
                acc["py4j"] += py4j.calls
                py4j.calls = 0
                jobs, stages = stats.collect()
                acc["build_jobs"] += len(jobs)
                jobs_all += jobs
                stages_all += stages
                n = df.count()
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for ph in _PHASES:
                    got = phases.get(ph)
                    if got.isDefined():
                        acc[ph] += got.get().durationMs()
                ops += 1
            bench.attempted += 1
            bench.check(n == expect[name], f"{name}: {n} rows, oracle {expect[name]}")
        wall = time.perf_counter() - p0
        (traced_walls if traced else untraced_walls).append(wall)
        if traced:
            windows.append((w0, time.time()))
        jobs, stages = stats.collect()
        if traced:
            jobs_all += jobs
            stages_all += stages
        i += 1
    per_op = max(1, ops)
    passes = len(traced_walls)
    ex = summarize(jobs_all, stages_all, windows)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "cpu_ms": "ms",
             "gc_ms": "ms", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "sched_gap_ms": "ms"}
    out = {"session.start_s": (bench.detail["session_start_s"], "s"),
           "setup.first_s": (bench.detail["setup_runs_s"][0], "s")}
    out.update({f"exec.{k}": (ex.get(k, 0.0) / passes, u) for k, u in units.items()})
    out["query.build_s"] = (acc["build_s"] / per_op, "s")
    out["query.py4j_calls"] = (acc["py4j"] / per_op, "count")
    out["query.build_jobs"] = (acc["build_jobs"] / per_op, "count")
    for ph in _PHASES:
        out[f"query.{ph}_ms"] = (acc[ph] / per_op, "ms")
    out["trace.overhead_pct"] = (
        (median(traced_walls) / median(untraced_walls) - 1.0) * 100.0, "%")
    bench.detail.update(traced_pass_s=traced_walls, untraced_pass_s=untraced_walls)
    return out
