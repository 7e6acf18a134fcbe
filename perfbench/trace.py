"""Spans recorded from outside the engine, and the Spark event log folded
into them.

The engine is handed wrapper objects (subclasses of its public classes)
whose overridden public methods record a span around the call and then
delegate to the engine's own implementation. No private method is patched.

Spans are kept in memory; :meth:`Tracer.write` exports them when the run
ends. Parents and trace ids are assigned after the run by time
containment within one thread: a span's parent is the shortest span of
the same thread that encloses it, and a span without a trace id inherits
its parent's.

In a traced run Spark's event log is on (uncompressed, not rolling).
:func:`fold_event_log` attributes every job to the spans whose interval
contains the job's submission time, with its tasks, executor CPU, shuffle
bytes and spill; a span's driver-only time is its duration minus the
union of the job intervals inside it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from arcane_framework_scala_spark.backfill.graph import FileBackfillStateStore
from arcane_framework_scala_spark.sinks.maintenance import run_maintenance
from arcane_framework_scala_spark.sinks.merge_sink import DurableCatalogTarget, MergeSink
from arcane_framework_scala_spark.sources.cdm import SynapseCdmSource
from arcane_framework_scala_spark.streaming.structured import StructuredBlobStream
from arcane_framework_scala_spark.streaming.watermark import FileWatermarkStore


@dataclass
class Span:
    name: str
    start: float  # time.monotonic()
    end: float
    thread: int
    trace_id: str | None = None
    attrs: dict = field(default_factory=dict)
    parent: int | None = None
    #: folded from the event log (traced runs only)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        # event-log times are epoch milliseconds; spans use the monotonic
        # clock so the feeder process can share it
        self.epoch_offset = time.time() - time.monotonic()
        self._lock = threading.Lock()

    def add(self, name, start, end, trace_id=None, **attrs) -> Span:
        s = Span(name, start, end, threading.get_ident(), trace_id, attrs)
        with self._lock:
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name, trace_id=None, **attrs):
        start = time.monotonic()
        rec = dict(attrs)
        try:
            yield rec
        finally:
            self.add(name, start, time.monotonic(), trace_id, **rec)

    def link(self) -> None:
        """Assign parents and trace ids by same-thread containment."""
        order = sorted(range(len(self.spans)), key=lambda i: (self.spans[i].start, -self.spans[i].end))
        stacks: dict[int, list[int]] = {}
        for i in order:
            s = self.spans[i]
            stack = stacks.setdefault(s.thread, [])
            while stack and self.spans[stack[-1]].end < s.end:
                stack.pop()
            if stack:
                s.parent = stack[-1]
                if s.trace_id is None:
                    s.trace_id = self.spans[stack[-1]].trace_id
            stack.append(i)

    def write(self, path: str) -> None:
        self.link()
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent,
                    "trace_id": s.trace_id, "thread": s.thread,
                    "start": s.start + self.epoch_offset,
                    "end": s.end + self.epoch_offset,
                    "attrs": s.attrs, "spark": s.spark,
                }, default=str) + "\n")


# -- wrappers handed to the engine ------------------------------------------


class TimedCdmSource(SynapseCdmSource):
    """``current_version`` and ``read_batch`` spans; ``changes`` records a
    ``runner.batch`` span from the moment a batch is handed to the runner
    until the runner asks for the next one (or closes the iterator), which
    is the runner's whole per-batch pipeline."""

    def __init__(self, spark, container_path, entity, tracer: Tracer):
        super().__init__(spark, container_path, entity)
        self.tracer = tracer

    def current_version(self) -> dict:
        with self.tracer.span("source.poll"):
            return super().current_version()

    def read_batch(self, folder: str):
        with self.tracer.span("source.read_plan", trace_id=folder):
            return super().read_batch(folder)

    def changes(self, since):
        for batch in super().changes(since):
            start = time.monotonic()
            try:
                yield batch
            finally:
                self.tracer.add("runner.batch", start, time.monotonic(),
                                trace_id=batch.watermark["version"])


class TimedTarget(DurableCatalogTarget):
    def __init__(self, spark, path, table, tracer: Tracer, **kw):
        super().__init__(spark, path, table, **kw)
        self.tracer = tracer

    def merge(self, source, dialect) -> None:
        with self.tracer.span("target.merge"):
            super().merge(source, dialect)

    def overwrite(self, df) -> None:
        with self.tracer.span("target.overwrite"):
            super().overwrite(df)


class TimedSink(MergeSink):
    """``merge`` span around :meth:`MergeSink.apply`; with ``measure_bytes``
    it also records the bytes of the snapshot the merge committed."""

    def __init__(self, target, dialect, tracer: Tracer, measure_bytes: bool = False):
        super().__init__(target, dialect)
        self.tracer = tracer
        self.measure_bytes = measure_bytes

    def apply(self, batch_df) -> None:
        start = time.monotonic()
        try:
            super().apply(batch_df)
        finally:
            span = self.tracer.add("merge", start, time.monotonic())
        if self.measure_bytes:
            span.attrs["snapshot_bytes"] = snapshot_bytes(self.target)


class TimedWatermarkStore(FileWatermarkStore):
    def __init__(self, path, tracer: Tracer):
        super().__init__(path)
        self.tracer = tracer

    def read(self):
        with self.tracer.span("watermark.read"):
            return super().read()

    def commit(self, wm) -> None:
        with self.tracer.span("watermark.commit", version=wm.version):
            super().commit(wm)


class TimedStateStore(FileBackfillStateStore):
    """Backfill shard-state commits; the runner commits once per staged
    shard, so the gap between consecutive commits is one shard's stage."""

    def __init__(self, path, tracer: Tracer):
        super().__init__(path)
        self.tracer = tracer

    def commit(self, state) -> None:
        with self.tracer.span("backfill.state_commit",
                              staged=sum(v == "STAGED" for v in state.shard_states.values())):
            super().commit(state)


class TimedStream(StructuredBlobStream):
    """``structured.start`` span around each query launch; set ``tracer``
    after construction."""

    tracer: Tracer

    def start(self, trigger=None):
        with self.tracer.span("structured.start"):
            return super().start(trigger)


def timed_maintenance(target: DurableCatalogTarget, tracer: Tracer):
    """``maintenance_fn`` running :func:`run_maintenance` on the target's
    snapshot layout inside a ``maintenance.<op>`` span."""

    def fn(op: str):
        with tracer.span(f"maintenance.{op}") as rec:
            out = run_maintenance(target.snapshots, op)
            if op == "optimize":
                rec["files_rewritten"] = out
            return out

    return fn


def snapshot_bytes(target: DurableCatalogTarget) -> int:
    v = target.snapshots.current_version()
    d = os.path.join(target.snapshots.path, f"v={v}")
    total = 0
    for root, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- Spark event log ---------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0


def read_jobs(log_dir: str) -> list[Job]:
    """Jobs with their task metrics from every finished event log in
    ``log_dir`` (one per session)."""
    jobs: list[Job] = []
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress"):
            continue
        by_id: dict[int, Job] = {}
        by_stage: dict[int, Job] = {}
        with open(os.path.join(log_dir, name)) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Submission Time"] / 1000, ev["Submission Time"] / 1000)
                by_id[ev["Job ID"]] = j
                by_stage.update((sid, j) for sid in ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in by_id:
                by_id[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in by_stage:
                j = by_stage[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                j.tasks += 1
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
        jobs += by_id.values()
    return sorted(jobs, key=lambda j: j.submit)


def fold_event_log(tracer: Tracer, log_dir: str) -> None:
    """Fold every job into each span whose interval holds its submission
    time (spans nest, so a parent's totals include its children's)."""
    jobs = read_jobs(log_dir)
    for s in tracer.spans:
        lo, hi = s.start + tracer.epoch_offset, s.end + tracer.epoch_offset
        mine = [j for j in jobs if lo <= j.submit <= hi]
        covered = union_length([(max(j.submit, lo), min(j.end, hi)) for j in mine])
        s.spark = {
            "jobs": len(mine),
            "tasks": sum(j.tasks for j in mine),
            "executor_cpu_s": sum(j.cpu_s for j in mine),
            "shuffle_bytes": sum(j.shuffle_bytes for j in mine),
            "spill_bytes": sum(j.spill_bytes for j in mine),
            "input_records": sum(j.input_records for j in mine),
            "driver_only_s": max(0.0, (hi - lo) - covered),
        }


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
