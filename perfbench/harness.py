"""Shared harness pieces: the work-dir/session holder every workload
receives, the process-tree memory sampler and small statistics."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3

#: every per-layer metric a traced run reports, with its unit. A layer a
#: workload does not run reads 0 there (e.g. ``query.*`` on ``etl``).
PER_LAYER = {
    "session.start_s": "s",
    "setup.first_s": "s",
    # etl, live phase: per micro-batch of the window
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.rows_per_batch": "count",
    "stream.sched_gap_ms": "ms",
    "source.latest_offset_ms": "ms",
    "pipeline.foreach_batch_ms": "ms",
    "pipeline.batch_overhead_ms": "ms",
    "sink.file.write_s": "s",
    "sink.file.publish_s": "s",
    "sink.file.cleanup_s": "s",
    "sink.file.files_per_batch": "count",
    "sink.kinesis.put_s": "s",
    "sink.kinesis.records": "count",
    "live.record_latency_p90_ms": "ms",
    "ledger.commit_ms": "ms",
    "ledger.skips": "count",
    "generator.late_p99_ms": "ms",
    # etl, backfill phase: per drain
    "source.records_read": "count",
    "layer.source_only_s": "s",
    "parse.self_s": "s",
    "parse.valid_ratio": "ratio",
    "sink.file.stage_write_s": "s",
    "write.shuffle_write_bytes": "bytes",
    "write.stage_cpu_ms": "ms",
    "etl.rec_per_s_1core": "1/s",
    # catalog_queries: per op (query.*) and per suite pass (exec.*)
    "query.build_s": "s",
    "query.py4j_calls": "count",
    "query.build_jobs": "count",
    "query.analysis_ms": "ms",
    "query.optimization_ms": "ms",
    "query.planning_ms": "ms",
    # both: Spark execution per drain (etl) or per suite pass (catalog)
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.sched_gap_ms": "ms",
    "trace.overhead_pct": "%",
}


def harness_sha() -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


class TreeRss:
    """Memory of this process and its descendants (the JVM and Spark's
    Python workers), sampled from /proc every 100 ms. Each
    process counts its proportional set size, so pages the forked Python
    workers share are counted once. Processes in ``exclude`` (and their
    children) are left out."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.samples_kb: list[int] = []
        self.at_peak: list[int] = []
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> dict[int, int]:
        """pid -> proportional set size (kB) for the tree."""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        root = os.getpid()
        members, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in members and c not in self.exclude:
                    members.add(c)
                    frontier.append(c)
        pss = {}
        for pid in members:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            pss[pid] = int(line.split()[1])
                            break
            except OSError:
                continue
        return pss

    def _run(self) -> None:
        while not self._stop.is_set():
            pss = self._tree()
            total = sum(pss.values())
            self.samples_kb.append(total)
            if total > self.peak_kb:
                self.peak_kb = total
                self.at_peak = sorted(pss.values(), reverse=True)
            self._stop.wait(0.1)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the 99th percentile of the samples in
        MB. The single highest samples are left out: while a process
        forks, its pages are briefly counted in two processes."""
        self._stop.set()
        self._thread.join(timeout=5)
        return percentile(self.samples_kb, 99) / 1024.0


class Bench:
    """What a workload needs from the harness: the work dir, the Spark
    session (re-creatable), the RSS sampler and result bookkeeping."""

    def __init__(self, args, root: str) -> None:
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = root
        self.rss = TreeRss()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.detail: dict = {"phases": []}
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record when a phase of the run began (seconds since start)."""
        self.detail["phases"].append((name, round(time.perf_counter() - self._t0, 2)))

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def new_session(self, master: str | None = None):
        """Stop the current session (if any) and start a fresh one;
        returns the seconds the start took."""
        from amazon_kinesis_analytics_streaming_etl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=master,
            extra_conf={
                # no .crc side file per data file: object stores and HDFS
                # write none, and on a slow local disk the extra creates
                # and deletes (staging cleanup) dominate the variance
                "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        """Count a failed output check as a failed op."""
        if not ok:
            self.failed += 1
            self.problems.append(what)


def stop_jvm(bench: Bench) -> None:
    """Stop Spark and wait for the JVM process PySpark launched."""
    from pyspark import SparkContext

    if bench.spark is not None:
        bench.spark.stop()
        bench.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def remove_tree(path: str) -> None:
    """Delete ``path`` and everything under it.

    Workloads delete each phase's files as soon as they are checked,
    then ``sync`` before the next timed phase, so that neither write-back
    nor deletes spill into it. The delete comes first: on a filesystem
    mounted with online ``discard``, deleting data the kernel has
    already written back issues discards that cost tens of ms per file
    and per MB, while deleting data still in the page cache (the kernel
    writes dirty data back after ~30 s) costs next to nothing."""
    shutil.rmtree(path, ignore_errors=True)


def sweep_work_dirs(base: str) -> None:
    """Delete what earlier runs left under ``base`` (a run that was
    killed leaves its work dir) and flush the deletes, before anything
    is timed."""
    if os.path.isdir(base):
        for name in os.listdir(base):
            remove_tree(os.path.join(base, name))
    os.sync()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q: float):
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]
