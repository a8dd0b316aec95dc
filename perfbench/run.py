"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json):

- ``etl``: run ``Pipeline`` live for ``--seconds`` while an open-loop
  producer process appends 20k rec/s to 16 Kinesis-replay shards and
  each batch fans out to the partitioned Parquet file sink and the
  Kinesis-replay (K5) sink; then drain the producer's finished stream
  (~300k seeded records) into the file sink three times.
- ``catalog_queries``: one client runs a fixed suite of catalog queries
  (build, then ``count()``) over seeded TPC-H-shaped tables, pass after
  pass, for ``--seconds``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run.
Every run checks its outputs; a mismatch counts as a failed op. A
``detail`` line before the result carries provenance (seed, scale,
nproc, harness hash) and the raw per-run figures.

All files a run writes live under ``.perfbench_work/<pid>/`` in the
current directory. A run deletes each phase's outputs once they are
checked and its whole work dir at exit (see ``harness.remove_tree``);
it starts by deleting what earlier, killed runs left, before anything
is timed. Runs in one directory must therefore not overlap.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    PER_LAYER,
    Bench,
    harness_sha,
    remove_tree,
    stop_jvm,
    sweep_work_dirs,
)

ENGINE = "amazon_kinesis_analytics_streaming_etl_spark"
WORKLOADS = ("etl", "catalog_queries")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    if not os.path.isfile(os.path.join(cwd, ENGINE, "__init__.py")) or not os.path.isfile(
        os.path.join(cwd, "bench.py")
    ):
        print(f"perfbench: run from the repository root ({ENGINE}/ not found)", file=sys.stderr)
        return 2

    work = os.path.join(cwd, ".perfbench_work")
    t0 = time.perf_counter()
    sweep_work_dirs(work)
    sweep_s = time.perf_counter() - t0
    root = os.path.join(work, str(os.getpid()))
    os.makedirs(root)
    # Spark's Python workers import the replay data source from the repo
    env_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = cwd + (os.pathsep + env_path if env_path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    sys.path.insert(0, cwd)

    bench = Bench(args, root)
    bench.detail["sweep_s"] = sweep_s
    bench.rss.start()
    try:
        if args.workload == "catalog_queries":
            import catalog_workload as wl
        else:
            import etl_workload as wl
        metrics = wl.run(bench, args.workload)
    finally:
        peak = bench.rss.stop()
        bench.phase("teardown")
        stop_jvm(bench)
        bench.phase("jvm_stopped")
        remove_tree(root)
        os.sync()
        bench.phase("done")
    if args.trace:
        unknown = set(metrics) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        metrics = {k: (metrics[k][0] if k in metrics else 0.0, u) for k, u in PER_LAYER.items()}
    else:
        metrics["peak_rss_mb"] = (peak, "MB")
    ratio = bench.failed / max(1, bench.attempted)
    bench.detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        nproc=os.cpu_count(),
        harness_sha=harness_sha(),
        failed_ops_ratio=ratio,
        problems=bench.problems[:20],
        peak_processes_mb=[round(k / 1024) for k in bench.rss.at_peak],
    )
    print(json.dumps({"detail": bench.detail}, default=str))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": max(1, bench.attempted),
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
