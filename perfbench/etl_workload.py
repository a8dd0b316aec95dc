"""The ``etl`` workload: the streaming ETL path end to end, through the
engine's public entry point ``Pipeline.from_config(...).start()``.

Topology: Kinesis-replay source (16 shards) -> ``from_json`` parse ->
valid/corrupt split -> partitioned Parquet file sink with staged publish
and batch ledger. A run has a set-up and two measured phases:

0. **Set-up**, three times: a new SparkContext, the live pipeline
   started over a small pre-seeded stream, and its first (cold) batch.
   -> ``setup_s`` (median). Only the first set-up launches the JVM and
   imports the engine, so the median leaves JVM launch, class loading
   and module import out; the first set-up's time is the traced run's
   ``setup.first_s``. The third set-up's query stays up.
1. **Live** (per-batch cost): an open-loop producer process appends
   20k rec/s (1.25x the reference's 16k rec/s ceiling) to 16 shards in
   20 ms ticks for ``--seconds``, while the pipeline runs
   back-to-back triggers and fans out to the file sink and the K5
   Kinesis-replay sink from one cached batch. Per-batch fixed cost
   (staged publish, ledger, offset/commit logs, job scheduling)
   dominates. Event latency runs from each record's due time at the
   producer to the commit of the batch holding it
   (``<checkpoint>/commits/<batchId>``, matched through the batch's
   per-shard end offsets in ``<checkpoint>/offsets/<batchId>``).
   -> ``latency_p50_ms`` / ``latency_p90_ms``: the median over the
   window's batches of each batch's 50th / 90th percentile. One stalled
   batch and the catch-up batch after it do not move these; a stall
   in every third or fourth batch would, as each stall also delays the
   batch after it. The record-level 90th
   percentile over the window is the traced run's
   ``live.record_latency_p90_ms``.
2. **Backfill** (per-record cost): once the producer has stopped, its
   stream (~300k seeded records at ``--seconds 15``) is a complete
   backlog. Drain it under ``availableNow`` into fresh file sink dirs,
   three times (the live phase has already warmed the JIT). One
   micro-batch per drain, so source read, parse, split, partition
   shuffle and Parquet write dominate. -> ``rate_per_s`` (records /
   median drain wall time).

Every drain and the live window are checked: the Parquet rows under
``job_start=*/`` equal the planted valid set (count and an
order-independent fingerprint of ``trip_id``), the partition-directory
set matches, corrupt rows (input minus the pipeline's observed valid
rows) equal the planted malformed count, and the K5 stream holds one
line per valid record.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

import tripgen
from harness import SETUPS, Bench, median, percentile, remove_tree
from spans import ExecStats, Tracer, summarize

#: lines per shard in the traced run's one-core backlog (16 shards)
ONE_CORE_PER_SHARD = 6_250
#: the small input each set-up's first batch reads: 16 x 200 lines over
#: 8 pickup locations, so the cold batch pays start-up costs (codegen,
#: Python workers, committer) rather than one file per partition dir
WARMUP_PER_SHARD = 200
WARMUP_LOCATIONS = 8
#: how long committed offsets may lag the producer's last write before
#: the remaining records count as failed
LIVE_GRACE_S = 20.0
K5_STREAM = "k5"


def _pipeline(bench: Bench, src: str, out: str, ckpt: str, k5: str | None):
    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import Pipeline

    args = [
        "--InputKinesisReplayDir", src,
        "--OutputBucket", out,
        "--ParquetConversion", "true",
        "--CheckpointLocation", ckpt,
    ]
    if k5:
        args += ["--OutputKinesisStream", K5_STREAM, "--OutputKinesisReplayDir", k5]
    return Pipeline.from_config(bench.spark, args=args)


def _drain(bench: Bench, src: str, tag: str, k5: bool) -> tuple[float, dict]:
    """One availableNow drain of ``src`` into fresh sink/checkpoint dirs.
    Returns (wall seconds from start() to termination, dirs)."""
    dirs = {
        "out": bench.path(tag, "out"),
        "ckpt": bench.path(tag, "ckpt"),
        "k5": bench.path(tag, "k5") if k5 else None,
    }
    pipe = _pipeline(bench, src, dirs["out"], dirs["ckpt"], dirs["k5"])
    t0 = time.perf_counter()
    q = pipe.start(available_now=True)
    q.awaitTermination()
    dt = time.perf_counter() - t0
    dirs["progress"] = [json.loads(p.json) for p in q.recentProgress]
    return dt, dirs


def _setup(bench: Bench) -> tuple[float, dict]:
    """Median of SETUPS set-ups. Each starts a new SparkContext (the
    first also launches the JVM), starts the live pipeline (file + K5
    sinks, back-to-back triggers) over a small pre-seeded stream and
    waits for its first, cold batch to commit. The last set-up's query
    stays up and becomes the live phase's query."""
    times = []
    bench.phase("setup")
    for i in range(SETUPS):
        start_s = bench.new_session()
        if i == 0:
            bench.detail["session_start_s"] = start_s
        live = {
            "src": os.path.dirname(bench.path(f"live{i}", "src", "x")),
            "out": bench.path(f"live{i}", "out"),
            "ckpt": bench.path(f"live{i}", "ckpt"),
            "k5": bench.path(f"live{i}", "k5"),
        }
        live["planted"] = tripgen.write_backlog(
            live["src"], bench.seed + 1_000_003, WARMUP_PER_SHARD, WARMUP_LOCATIONS)
        t0 = time.perf_counter()
        q = _pipeline(bench, live["src"], live["out"], live["ckpt"], live["k5"]).start()
        while not _batch_offsets(live["ckpt"]):
            if q.exception() is not None or not q.isActive:
                raise RuntimeError(f"live query stopped: {q.exception()}")
            time.sleep(0.02)
        times.append(start_s + time.perf_counter() - t0)
        live["query"] = q
        if i < SETUPS - 1:
            q.stop()
            q.awaitTermination()
            remove_tree(os.path.join(bench.work, f"live{i}"))
    bench.detail["setup_runs_s"] = times
    return median(times), live


# -- output checks ---------------------------------------------------------

def _observed(progress: list[dict]) -> tuple[int, int]:
    """(input rows, valid rows) summed over batches; valid rows come from
    the pipeline's own ``observe`` metric."""
    n_in = n_valid = 0
    for p in progress:
        n_in += p.get("numInputRows", 0)
        obs = (p.get("observedMetrics") or {}).get("etl") or {}
        n_valid += int(obs.get("valid_rows", 0) or 0)
    return n_in, n_valid


def _check(bench: Bench, dirs: dict, planted: tripgen.Planted, offered: int) -> int:
    """Untimed output checks; returns the number of records that did not
    land. Check failures are also counted as failed ops."""
    from pyspark.sql import functions as F

    out = dirs["out"]
    job_dirs = [d for d in os.listdir(out) if d.startswith("job_start=")]
    parts = set()
    for jd in job_dirs:
        base = os.path.join(out, jd)
        for root, _dirs, files in os.walk(base):
            if any(f.endswith(".parquet") for f in files):
                parts.add(os.path.relpath(root, base))
    # no partition inference: the check only needs trip_id
    got = (
        bench.spark.read.option("recursiveFileLookup", "true")
        .parquet(*[os.path.join(out, jd) for jd in job_dirs])
        .select(F.col("trip_id").cast("decimal(38,0)").alias("t"))
        .agg(F.count("t"), F.sum("t"), F.sum(F.col("t") * F.col("t")))
        .first()
        if job_dirs
        else (0, 0, 0)
    )
    n_rows = int(got[0])
    bench.check(n_rows == planted.valid, f"parquet rows {n_rows} != planted {planted.valid}")
    bench.check(
        n_rows == planted.valid
        and int(got[1] or 0) == planted.id_sum
        and int(got[2] or 0) == planted.id_sq_sum,
        "parquet trip_id fingerprint differs from the planted valid set",
    )
    bench.check(parts == planted.dirs, f"partition dirs: {len(parts)} != {len(planted.dirs)} planted")
    n_in, n_valid = _observed(dirs["progress"])
    bench.check(n_in - n_valid == planted.corrupt, f"corrupt {n_in - n_valid} != planted {planted.corrupt}")
    if dirs.get("k5"):
        k5_dir = os.path.join(dirs["k5"], K5_STREAM)
        lines = 0
        if os.path.isdir(k5_dir):
            for name in os.listdir(k5_dir):
                with open(os.path.join(k5_dir, name), "rb") as f:
                    lines += sum(1 for _ in f)
        bench.check(lines == planted.valid, f"k5 lines {lines} != valid {planted.valid}")
        dirs["k5_lines"] = lines
    missing = max(0, offered - n_in) + max(0, planted.valid - n_rows)
    bench.failed += missing
    return missing


# -- progress-derived layer numbers ------------------------------------------

_DURATIONS = {
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
    "stream.trigger_ms": "triggerExecution",
    "source.latest_offset_ms": "latestOffset",
}


def _stream_layers(progress: list[dict]) -> dict:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {}
    for name, key in _DURATIONS.items():
        out[name] = (median([p["durationMs"].get(key, 0) for p in data]), "ms")
    out["stream.rows_per_batch"] = (median([p["numInputRows"] for p in data]), "count")
    return out


def _sink_layers(tracer: Tracer, batches: int) -> dict:
    per = max(1, batches)
    fb = tracer.total("pipeline.foreach_batch")
    return {
        "sink.file.write_s": (tracer.total("sink.file") / per, "s"),
        "sink.file.publish_s": (tracer.total("sink.file.publish") / per, "s"),
        "sink.file.cleanup_s": (tracer.total("sink.file.cleanup") / per, "s"),
        "sink.file.files_per_batch": (tracer.counts.get("sink.file.files", 0) / per, "count"),
        "sink.kinesis.put_s": (tracer.total("sink.kinesis.put") / per, "s"),
        "ledger.commit_ms": (
            (tracer.total("ledger.commit") + tracer.total("ledger.check")) * 1e3 / per,
            "ms",
        ),
        "ledger.skips": (float(tracer.counts.get("ledger.skips", 0)), "count"),
        "pipeline.batch_overhead_ms": (
            tracer.self_time("pipeline.foreach_batch") * 1e3 / per,
            "ms",
        ),
        "pipeline.foreach_batch_ms": (fb * 1e3 / per, "ms"),
    }


def _span_windows(tracer: Tracer, name: str) -> list[tuple[float, float]]:
    return [(s["start"], s["end"]) for s in tracer.spans if s["name"] == name and s["end"]]


def _exec_layers(jobs, stages, windows, per: int, prefix: str = "exec") -> dict:
    ex = summarize(jobs, stages, windows)
    per = max(1, per)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "cpu_ms": "ms",
             "gc_ms": "ms", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "sched_gap_ms": "ms"}
    return {f"{prefix}.{k}": (ex.get(k, 0.0) / per, u) for k, u in units.items()}


def _noop_drain(bench: Bench, src: str, tag: str, parse: bool) -> float:
    """Drain ``src`` into Spark's noop sink: the source alone, or the
    source plus ``split_corrupt`` (valid branch), isolating those layers
    from the sinks."""
    from amazon_kinesis_analytics_streaming_etl_spark.config import from_args_and_properties
    from amazon_kinesis_analytics_streaming_etl_spark.operators.parse import split_corrupt
    from amazon_kinesis_analytics_streaming_etl_spark.streaming.sources import resolve_source

    cfg = from_args_and_properties(["--InputKinesisReplayDir", src])
    df = resolve_source(bench.spark, cfg)
    if parse:
        df = split_corrupt(df)[0]
    t0 = time.perf_counter()
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", bench.path(tag, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0


def _batch_offsets(ckpt: str) -> list[tuple[int, dict, float]]:
    """(batch id, end offsets per shard, commit mtime) for every
    committed batch, read from the checkpoint's offset and commit logs."""
    out = []
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(commits):
        return out
    for name in os.listdir(commits):
        if not name.isdigit():
            continue
        bid = int(name)
        mtime = os.stat(os.path.join(commits, name)).st_mtime
        with open(os.path.join(ckpt, "offsets", name)) as f:
            lines = f.read().splitlines()
        out.append((bid, json.loads(lines[2]), mtime))
    return sorted(out)


def _latencies(batches, log: dict) -> list[np.ndarray]:
    """Per-record latency (seconds), one array per committed batch: due
    time at the producer to the commit of the batch holding the record."""
    per_tick, t0, tick, base = log["per_shard_tick"], log["t0"], log["tick_s"], log["base"]
    prev: dict[str, int] = {}
    out = []
    for _bid, end, mtime in batches:
        chunks = []
        for shard, hi in end.items():
            lo = max(prev.get(shard, 0), base[shard])  # pre-seeded lines are not timed
            if hi > lo:
                due = t0 + ((np.arange(lo, hi) - base[shard]) // per_tick) * tick
                chunks.append(mtime - due)
        if chunks:
            out.append(np.concatenate(chunks))
        prev = end
    return out


# -- phases ------------------------------------------------------------------------

def _backfill(bench: Bench, src: str, planted: tripgen.Planted, tracer: Tracer | None,
              drains: int) -> dict:
    """``drains`` drains of the backlog, each checked; with a tracer,
    every other drain is traced so the traced/untraced pair gives the
    tracing overhead."""
    n = planted.valid + planted.corrupt
    walls, traced, untraced, progress, windows = [], [], [], [], []
    bench.phase("backfill")
    for i in range(drains):
        if tracer:
            tracer.enabled = i % 2 == 1
        w0 = time.time()
        dt, dirs = _drain(bench, src, f"drain{i}", k5=False)
        if tracer:
            (traced if tracer.enabled else untraced).append(dt)
            if tracer.enabled:
                windows.append((w0, time.time()))
                progress += dirs["progress"]
        walls.append(dt)
        bench.attempted += n
        _check(bench, dirs, planted, n)
        remove_tree(os.path.join(bench.work, f"drain{i}"))
        os.sync()
    bench.detail.update(drain_s=walls, records_per_drain=n)
    bench.phase("backfill_done")
    return {"walls": walls, "traced": traced, "untraced": untraced,
            "progress": progress, "windows": windows, "n": n}


def _live(bench: Bench, seconds: float, live: dict) -> dict:
    """One open-loop window of ``seconds`` against the query ``_setup``
    left running; returns per-record latencies and the query's progress."""
    bench.phase("live_window")
    q, src = live["query"], live["src"]
    log_path = bench.path("producer.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tripgen.py"),
         "live", "--dir", src, "--seed", str(bench.seed), "--seconds", str(seconds),
         "--log", log_path],
    )
    bench.rss.exclude.add(gen.pid)
    try:
        rc = gen.wait(timeout=seconds + 120)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if rc != 0:
        q.stop()
        raise RuntimeError(f"producer exited with {rc}")
    with open(log_path) as f:
        log = json.load(f)
    want = {s: b + log["lines_per_shard"] for s, b in log["base"].items()}
    deadline = time.time() + LIVE_GRACE_S
    while time.time() < deadline:
        b = _batch_offsets(live["ckpt"])
        if all(b[-1][1].get(s, 0) >= n for s, n in want.items()):
            break
        time.sleep(0.1)
    bench.phase("live_drained")
    q.stop()
    q.awaitTermination()
    live["progress"] = [json.loads(p.json) for p in q.recentProgress]
    offered = log["lines_per_shard"] * tripgen.SHARDS
    bench.attempted += offered
    planted = live["planted"]
    warmup_valid = planted.valid
    planted.merge(tripgen.Planted.from_json(log["planted"]))
    per_batch = _latencies(_batch_offsets(live["ckpt"]), log)
    lat = np.concatenate(per_batch) if per_batch else np.zeros(0)
    bench.failed += max(0, offered - len(lat))
    _check(bench, live, planted, offered + WARMUP_PER_SHARD * tripgen.SHARDS)
    remove_tree(live["out"])
    remove_tree(live["k5"])
    os.sync()
    # batch 0 is the set-up's cold batch, before the window
    data = [p for p in live["progress"] if p.get("numInputRows", 0) > 0 and p["batchId"] > 0]
    late = sorted(log["late_ms"])
    bench.detail.update(
        live_batches=len(data),
        live_committed=int(len(lat)),
        live_offered=offered,
        generator_late_p99_ms=percentile(late, 99),
        live_trigger_ms=[p["durationMs"]["triggerExecution"] for p in data],
        live_rows=[p["numInputRows"] for p in data],
        record_latency_ms={q: float(np.percentile(lat, q)) * 1e3 for q in (50, 90, 99, 100)},
    )
    return {"per_batch": per_batch, "progress": data, "late": late, "planted": planted,
            "record_p90_ms": float(np.percentile(lat, 90)) * 1e3,
            # K5 lines the window's batches wrote (the set-up's batch 0
            # wrote the warm-up's valid records)
            "k5_lines": live.get("k5_lines", 0) - warmup_valid}


def run(bench: Bench, workload: str) -> dict:
    bench.detail["sf"] = None
    tracer = Tracer() if bench.trace else None
    if tracer:
        tracer.install_etl()
        tracer.enabled = False
    setup_s, live = _setup(bench)
    if tracer:
        stats = ExecStats(bench.spark)
        tracer.enabled = True
    lv = _live(bench, bench.seconds, live)
    if tracer:
        live_jobs, live_stages = stats.collect()
        live_spans, live_counts = len(tracer.spans), dict(tracer.counts)
    src = live["src"]
    bf = _backfill(bench, src, lv["planted"], tracer, 4 if tracer else 3)
    if not tracer:
        remove_tree(src)
        # the median over batches of each batch's percentile: one stalled
        # batch (a disk stall can hold one for 10 s or more) does not
        # decide the run; record-level percentiles are in the detail line
        # and, for p90, in the traced run
        per_batch = lv["per_batch"]
        return {
            "setup_s": (setup_s, "s"),
            "rate_per_s": (bf["n"] / median(bf["walls"]), "1/s"),
            "latency_p50_ms": (median([float(np.percentile(b, 50)) for b in per_batch]) * 1e3, "ms"),
            "latency_p90_ms": (median([float(np.percentile(b, 90)) for b in per_batch]) * 1e3, "ms"),
        }
    bf_jobs, bf_stages = stats.collect()
    tracer.enabled = False
    out = {"session.start_s": (bench.detail["session_start_s"], "s"),
           "setup.first_s": (bench.detail["setup_runs_s"][0], "s")}
    # live: per-batch fixed-cost layers, per batch of the window
    live_tracer = tracer.part(0, live_spans, live_counts)
    out.update(_stream_layers(lv["progress"]))
    out.update(_sink_layers(live_tracer, live_tracer.n("pipeline.foreach_batch")))
    windows = _span_windows(live_tracer, "pipeline.foreach_batch")
    live_ex = _exec_layers(live_jobs, live_stages, windows, len(windows), "live")
    out["stream.sched_gap_ms"] = (live_ex["live.sched_gap_ms"][0], "ms")
    out["sink.kinesis.records"] = (lv["k5_lines"] / max(1, live_tracer.n("sink.kinesis.put")), "count")
    out["live.record_latency_p90_ms"] = (lv["record_p90_ms"], "ms")
    out["generator.late_p99_ms"] = (percentile(lv["late"], 99), "ms")
    # backfill: per-record layers, per traced drain
    per = len(bf["traced"])
    bf_tracer = tracer.part(live_spans, len(tracer.spans), {})
    n_in, n_valid = _observed(bf["progress"])
    out["source.records_read"] = (n_in / per, "count")
    out["parse.valid_ratio"] = (n_valid / n_in if n_in else 0.0, "ratio")
    out["sink.file.stage_write_s"] = (bf_tracer.total("sink.file.stage_write") / per, "s")
    out.update(_exec_layers(bf_jobs, bf_stages, bf["windows"], per))
    write = _exec_layers(bf_jobs, bf_stages, _span_windows(bf_tracer, "sink.file.stage_write"), per, "w")
    out["write.shuffle_write_bytes"] = (write["w.shuffle_write_bytes"][0], "bytes")
    out["write.stage_cpu_ms"] = (write["w.cpu_ms"][0], "ms")
    out["trace.overhead_pct"] = (
        (median(bf["traced"]) / median(bf["untraced"]) - 1.0) * 100.0, "%")
    tracer.uninstall()
    tracer.dump(bench.path("spans.json"))
    # isolated layers on the backlog: noop-sink drains, then one core
    src_only = median([_noop_drain(bench, src, f"noop_src{k}", parse=False) for k in range(2)])
    with_parse = median([_noop_drain(bench, src, f"noop_parse{k}", parse=True) for k in range(2)])
    out["layer.source_only_s"] = (src_only, "s")
    out["parse.self_s"] = (with_parse - src_only, "s")
    remove_tree(src)
    bench.new_session(master="local[1]")
    small = os.path.dirname(bench.path("backlog_1core", "x"))
    tripgen.write_backlog(small, bench.seed, ONE_CORE_PER_SHARD)
    dt, _dirs = _drain(bench, small, "one_core", k5=False)
    out["etl.rec_per_s_1core"] = (tripgen.SHARDS * ONE_CORE_PER_SHARD / dt, "1/s")
    return out
