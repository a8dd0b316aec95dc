"""Spans and counters for the traced run.

Spans are recorded from outside the engine: the tracer wraps the public
functions at each layer boundary (the file sink's staged write, publish
and cleanup, the Kinesis put, the batch ledger and the ``foreachBatch``
fan-out) while it is installed, and restores them on ``uninstall``.
Spans stay in memory and are written once at the end of the run.

Spark-side numbers come from Spark's own bookkeeping: the status store
(``statusStore().stageList`` / ``jobsList``, filled even with the UI
off), streaming progress, and the planner's phase tracker.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

#: stage fields summed by ``ExecStats``; name -> StageData accessor
_STAGE_FIELDS = {
    "cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class ExecStats:
    """Jobs, stages and task metrics that ran between two points,
    read as a diff over the status store's job and stage ids."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)
        self.last_job, self.last_stage = -1, -1
        self.collect()

    def collect(self) -> tuple[list, list]:
        """Jobs ``(start, end)`` and stage records newer than the
        previous ``collect``. Waits for the listener bus first, so jobs
        that already returned are in the store with final metrics."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._empty, None)
        job_rows, stage_rows = [], []
        max_job, max_stage = self.last_job, self.last_stage
        # both lists come newest first, so stop at the first id already seen
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            max_job = max(max_job, jid)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                job_rows.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            max_stage = max(max_stage, sid)
            sub = s.submissionTime()
            row = {"t": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                   "tasks": s.numCompleteTasks()}
            for name, get in _STAGE_FIELDS.items():
                row[name] = get(s)
            stage_rows.append(row)
        self.last_job, self.last_stage = max_job, max_stage
        return job_rows, stage_rows


def summarize(jobs: list, stages: list, windows: list[tuple[float, float]]) -> dict:
    """Job/stage totals for work that started inside ``windows`` (epoch
    second intervals), and the part of the windows no job covered: the
    scheduling gap."""

    def inside(t):
        return t is not None and any(lo <= t <= hi for lo, hi in windows)

    out = defaultdict(float)
    mine = [(lo, hi) for lo, hi in jobs if inside(lo)]
    out["jobs"] = len(mine)
    for s in stages:
        if inside(s["t"]):
            out["stages"] += 1
            for k, v in s.items():
                if k != "t":
                    out[k] += v
    covered = 0.0
    for wlo, whi in windows:
        cur_lo = cur_hi = None
        for lo, hi in sorted(mine):
            lo, hi = max(lo, wlo), min(hi, whi)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
    wall = sum(hi - lo for lo, hi in windows)
    out["sched_gap_ms"] = max(0.0, wall - covered) * 1e3
    return dict(out)


class Py4jCounter:
    """Counts driver -> JVM gateway commands while installed."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def install(self) -> None:
        orig = self._client.send_command

        def counted(*a, **kw):
            self.calls += 1
            return orig(*a, **kw)

        self._client.send_command = counted

    def uninstall(self) -> None:
        self._client.__dict__.pop("send_command", None)


class Tracer:
    """In-memory span recorder. ``span(name)`` is a context manager;
    parents follow the calling thread's open spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        self.enabled = True

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    class _Span:
        def __init__(self, tracer: "Tracer", name: str) -> None:
            self.t, self.name = tracer, name

        def __enter__(self):
            st = self.t._stack()
            with self.t._lock:
                self.id = len(self.t.spans)
                self.rec = {
                    "id": self.id,
                    "parent": st[-1] if st else None,
                    "name": self.name,
                    "start": time.time(),
                    "end": None,
                }
                self.t.spans.append(self.rec)
            st.append(self.id)
            return self.rec

        def __exit__(self, *exc):
            self.rec["end"] = time.time()
            self.t._stack().pop()
            return False

    class _Off:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return False

    def span(self, name: str):
        return Tracer._Span(self, name) if self.enabled else Tracer._Off()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    # -- wrapping the engine's layer boundaries ----------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install_etl(self) -> None:
        """Wrap the ETL layers: file sink stage/publish/cleanup, the K5
        put, the batch ledger and the pipeline's fan-out function."""
        import os

        from amazon_kinesis_analytics_streaming_etl_spark.plans import pipeline
        from amazon_kinesis_analytics_streaming_etl_spark.streaming import sinks

        tracer = self
        self.wrap(sinks, "write_file_sink_batch", "sink.file.stage_write")
        self.wrap(sinks, "kinesis_put_batch", "sink.kinesis.put")

        orig_publish = sinks._publish_staged_local

        def publish(staging, path):
            if tracer.enabled:
                local = staging[len("file:"):] if staging.startswith("file:") else staging
                tracer.count(
                    "sink.file.files",
                    sum(
                        1
                        for _d, _s, fs in os.walk(local)
                        for f in fs
                        if not f.startswith(("_", "."))
                    ),
                )
            with tracer.span("sink.file.publish"):
                return orig_publish(staging, path)

        sinks._publish_staged_local = publish
        self._undo.append((sinks, "_publish_staged_local", orig_publish))

        orig_idem = sinks.write_file_sink_batch_idempotent

        def idem(*a, **kw):
            with tracer.span("sink.file"):
                cleanup = orig_idem(*a, **kw)

            def traced_cleanup():
                with tracer.span("sink.file.cleanup"):
                    return cleanup()

            return traced_cleanup

        sinks.write_file_sink_batch_idempotent = idem
        self._undo.append((sinks, "write_file_sink_batch_idempotent", orig_idem))

        orig_committed = pipeline.BatchLedger.committed

        def committed(ledger, sink, batch_id):
            with tracer.span("ledger.check"):
                hit = orig_committed(ledger, sink, batch_id)
            if hit:
                tracer.count("ledger.skips")
            return hit

        pipeline.BatchLedger.committed = committed
        self._undo.append((pipeline.BatchLedger, "committed", orig_committed))
        self.wrap(pipeline.BatchLedger, "commit", "ledger.commit")

        orig_fb = pipeline.Pipeline._foreach_batch

        def foreach_batch(pipe, specs, ledger=None):
            write_all = orig_fb(pipe, specs, ledger)

            def traced(batch, batch_id):
                with tracer.span("pipeline.foreach_batch"):
                    return write_all(batch, batch_id)

            return traced

        pipeline.Pipeline._foreach_batch = foreach_batch
        self._undo.append((pipeline.Pipeline, "_foreach_batch", orig_fb))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reduction -----------------------------------------------------------

    def part(self, lo: int, hi: int, counts: dict) -> "Tracer":
        """A read-only tracer over spans ``lo:hi`` with the given counts,
        to reduce one phase of a run on its own."""
        t = Tracer()
        t.spans, t.counts = self.spans[lo:hi], counts
        return t

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Total duration of ``name`` spans minus what their direct
        children cover."""
        kids = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids[s["parent"]] += s["end"] - s["start"]
        return sum(
            (s["end"] - s["start"]) - kids[s["id"]]
            for s in self.spans
            if s["name"] == name and s["end"]
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)
