"""The benchmark workloads. Each one prepares its inputs from the seed,
drives the engine through its public objects for about ``ctx.seconds``,
checks the result against an independent oracle and returns an
:class:`Outcome`. Target preparation and input generation happen inside
the workload and are reported beside ``setup_s``, never inside it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from arcane_framework_scala_spark.backfill.graph import BackfillOverwriteRunner, Shard
from arcane_framework_scala_spark.metrics import CollectingEmitter, DeclaredMetrics
from arcane_framework_scala_spark.queries.maintenance import MaintenanceSchedule
from arcane_framework_scala_spark.queries.merge import SYNAPSE_LINK, UPSERT_BLOB
from arcane_framework_scala_spark.streaming.runner import StreamRunner, StreamSettings

from perfbench import gen, oracle
from perfbench.trace import (
    TimedCdmSource,
    TimedSink,
    TimedStateStore,
    TimedStream,
    TimedTarget,
    TimedWatermarkStore,
    Tracer,
    timed_maintenance,
)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory of this run
    trace: bool
    #: shrink factor for the tests' tiny instances (1.0 = benchmark size)
    scale: float = 1.0
    _n: int = 0

    def path(self, name: str) -> str:
        self._n += 1
        p = os.path.join(self.work, f"{name}{self._n}")
        os.makedirs(p, exist_ok=True)
        return p

    def table(self, name: str) -> str:
        self._n += 1
        # MemCatalog tables outlive a session restart: name them per run half
        half = re.sub(r"\W", "_", os.path.basename(self.work))
        return f"bench.w.{half}_{name}{self._n}_{os.getpid()}"

    def n(self, full: int, floor: int = 1) -> int:
        return max(floor, int(full * self.scale))


@dataclass
class Outcome:
    """What one workload measured. The median of ``latencies`` is
    ``latency_p50_s``, the median of ``throughputs`` (input rows per second
    of one unit of work; the trickle's one value is its capacity) is
    ``rows_per_s``."""

    latencies: list[float] = field(default_factory=list)
    throughputs: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    prep_s: float = 0.0
    #: index of the first span of the measured phase
    first_span: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return all(ok for _, ok, _ in self.checks) and bool(self.checks)


def _cdm_target(ctx: Ctx, tracer: Tracer, name: str, **kw) -> TimedTarget:
    return TimedTarget(ctx.spark, ctx.path(name), ctx.table(name), tracer, **kw)


# -- cdm_trickle -------------------------------------------------------------

#: seconds between change sets landing; a batch takes ~1.3 s on 4 cores
TRICKLE_INTERVAL_S = 2.0
#: every 4th batch: a 4-set run ends on the one batch that carries the
#: maintenance ops and the schema drift, so its median is over clean batches
MAINTENANCE_EVERY = 4
TRICKLE_SCHEDULE = MaintenanceSchedule(
    optimize_every=MAINTENANCE_EVERY,
    expire_every=MAINTENANCE_EVERY,
    orphans_every=MAINTENANCE_EVERY,
    analyze_every=MAINTENANCE_EVERY,
)


def units_of_work(seconds: float, nominal_s: float, floor: int) -> int:
    """A run does a fixed amount of work, sized from ``--seconds`` by the
    nominal duration of one unit on the reference box. The same work on
    both sides of a comparison keeps the median at the same positions of
    the JVM's warm-up curve; a time-boxed loop would let a faster side run
    more, warmer units."""
    return max(floor, round(seconds / nominal_s))


def cdm_trickle(ctx: Ctx, tracer: Tracer) -> Outcome:
    """Open loop: a feeder process lands ~1k-row CDM change sets every
    ``TRICKLE_INTERVAL_S``; ``StreamRunner`` polls, merges into a ~10k-row
    ``DurableCatalogTarget``, runs maintenance and commits the watermark.
    Latency is freshness: from ``changelog.info`` advancing past a folder
    to the return of the first watermark commit that covers it."""
    out = Outcome()
    t0 = time.monotonic()
    spec = gen.TrickleSpec(base_rows=ctx.n(10_000, 50), set_rows=ctx.n(1_000, 20))
    root = ctx.path("cdm")
    stream = gen.CdmStream(ctx.seed)
    # base load + warm-up sets land before the runner starts
    warm = spec.warm_sets
    gen.write_cdm_folder(root, 0, stream.change_set(spec.base_rows, 1.0, 0.0, False), False)
    for i in range(1, warm + 1):
        gen.write_cdm_folder(
            root, i, stream.change_set(spec.set_rows, spec.insert_share, spec.delete_share, False), False
        )
    gen.set_in_progress(root, warm + 1)

    target = _cdm_target(ctx, tracer, "trickle")
    source = TimedCdmSource(ctx.spark, root, gen.ENTITY, tracer)
    sink = TimedSink(target, SYNAPSE_LINK, tracer, measure_bytes=ctx.trace)
    store = TimedWatermarkStore(target.watermark_store().path, tracer)
    hub = DeclaredMetrics([CollectingEmitter()])

    def runner(max_batches: int) -> StreamRunner:
        return StreamRunner(
            source, sink, store,
            StreamSettings(poll_interval_seconds=0.1, max_batches=max_batches, rng_seed=ctx.seed),
            maintenance=TRICKLE_SCHEDULE,
            maintenance_fn=timed_maintenance(target, tracer),
            declared_metrics=hub,
        )

    runner(warm + 1).run()
    out.prep_s = time.monotonic() - t0

    count = units_of_work(ctx.seconds, TRICKLE_INTERVAL_S, MAINTENANCE_EVERY)
    first = warm + 1
    # the drift lands on the first maintenance batch, so one batch carries
    # both disturbances (and a longer run re-hydrates on the batch after)
    drift_at = first + MAINTENANCE_EVERY - 1
    log_path = os.path.join(ctx.work, "feeder.jsonl")
    out.first_span = measured_from = len(tracer.spans)
    r = runner(count)
    start_at = time.monotonic() + 0.5
    deadline = start_at + count * TRICKLE_INTERVAL_S + 90
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), r.stop)
    feeder = subprocess.Popen(
        [sys.executable, "-m", "perfbench.gen", "feed", "--root", root,
         "--seed", str(ctx.seed), "--first", str(first), "--count", str(count),
         "--interval", str(TRICKLE_INTERVAL_S), "--drift-at", str(drift_at),
         "--log", log_path, "--start-at", repr(start_at)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        watchdog.start()
        r.run()
    finally:
        watchdog.cancel()
        if feeder.poll() is None:
            feeder.terminate()
        feeder.wait()
    end = time.monotonic()

    with open(log_path) as f:
        landed = [json.loads(l) for l in f]
    commits = [s for s in tracer.spans[measured_from:] if s.name == "watermark.commit"]
    for rec in landed:
        done = next(
            (c.end for c in commits if c.attrs["version"] >= rec["folder"] and c.end >= rec["visible"]),
            None,
        )
        out.attempted += 1
        if done is None:
            out.failed += 1
        else:
            out.latencies.append(done - rec["visible"])
        rec["committed"] = done
    out.extra["landed"] = landed
    # engine capacity, not the offered rate: rows merged per second the
    # runner was busy with a batch, from its read plan to its commit
    planned = {s.trace_id: s.start for s in tracer.spans[measured_from:]
               if s.name == "source.read_plan"}
    busy = [(rec["rows"], rec["committed"] - planned[rec["folder"]])
            for rec in landed if rec["committed"] is not None and rec["folder"] in planned]
    if busy:
        out.throughputs.append(sum(r for r, _ in busy) / sum(t for _, t in busy))
    out.extra["window_s"] = end - start_at
    ops = [s for s in tracer.spans[measured_from:] if s.name.startswith("maintenance.")]
    out.attempted += len(ops)
    out.extra["feeder_late_s"] = max((rec["visible"] - rec["due"] for rec in landed), default=0.0)
    out.extra["change_sets"] = len(landed)
    out.extra["freshness_p90_s"] = _quantile(out.latencies, 0.9)
    out.extra["input_bytes"] = sum(rec["bytes"] for rec in landed)

    want = oracle.cdm_expected(root, list(range(first + count)), drift_at)
    got = oracle.cdm_actual(target.read())
    out.checks.append(("cdm_trickle target", got.matches(want), f"engine {got} oracle {want}"))
    out.checks.append(("all change sets merged", r.metrics.batches_merged == count,
                       f"{r.metrics.batches_merged}/{count}"))
    out.extra["target_files"], out.extra["target_snapshots"] = _target_shape(target)
    return out


# -- blob_catchup ------------------------------------------------------------

BLOB_MAX_FILES_PER_BATCH = 3
#: one drain per this many seconds of the run (~3.5 s each on 4 cores)
BLOB_DRAIN_S = 3.5
#: one backfill per this many seconds of the run (~4.5 s each on 4 cores)
BACKFILL_S = 4.5


def blob_catchup(ctx: Ctx, tracer: Tracer) -> Outcome:
    """Closed loop: a pre-landed backlog of parquet files drains through
    ``StructuredBlobStream.run_available`` into a ``DurableCatalogTarget``
    with ``UPSERT_BLOB``; repeated with a fresh backlog, one drain per
    ``BLOB_DRAIN_S`` of the run. Latency is per backlog: from the drain's start (every file is
    already landed) to the watermark commit that covers the whole backlog."""
    out = Outcome()
    t0 = time.monotonic()
    src = ctx.path("blob")
    files: list[str] = []
    bs = gen.BlobStream(ctx.seed)
    backlog_files = 6
    file_rows = ctx.n(4_000, 20)

    def land(n: int, insert_share: float, rows: int = file_rows) -> tuple[list[str], int]:
        paths, nbytes = [], 0
        for _ in range(n):
            p = os.path.join(src, f"part-{len(files):05d}.parquet")
            nbytes += gen.write_blob_file(p, bs.file_rows(rows, insert_share))
            files.append(p)
            paths.append(p)
        return paths, nbytes

    target = _cdm_target(ctx, tracer, "catchup")
    sink = TimedSink(target, UPSERT_BLOB, tracer, measure_bytes=ctx.trace)
    store = TimedWatermarkStore(target.watermark_store().path, tracer)
    stream = TimedStream(
        spark=ctx.spark, path=src, schema=gen.BLOB_SCHEMA_DDL, primary_keys=["id"],
        sink=sink, watermark_store=store, checkpoint_dir=ctx.path("ckpt"),
        max_files_per_batch=BLOB_MAX_FILES_PER_BATCH, idle_watermark_advance=False,
    )
    stream.tracer = tracer
    # a one-file base load and two backlog files, drained untimed as one
    # batch to warm the JVM
    land(1, 1.0, rows=4 * file_rows)
    land(BLOB_MAX_FILES_PER_BATCH - 1, 0.2)
    stream.run_available()
    out.prep_s = time.monotonic() - t0

    out.first_span = len(tracer.spans)
    amplification = []
    input_bytes = 0
    for _ in range(units_of_work(ctx.seconds, BLOB_DRAIN_S, 2)):
        paths, nbytes = land(backlog_files, 0.2)
        input_bytes += nbytes
        rows = file_rows * len(paths)
        mark = len(tracer.spans)
        start = time.monotonic()
        read_rows = stream.run_available()
        took = time.monotonic() - start
        drained = tracer.spans[mark:]
        commits = [s for s in drained if s.name == "watermark.commit"]
        merges = [s for s in drained if s.name == "merge"]
        out.attempted += len(merges)
        # batches take files oldest first, BLOB_MAX_FILES_PER_BATCH at a time
        batches = -(-len(paths) // BLOB_MAX_FILES_PER_BATCH)
        if len(commits) >= batches:
            out.latencies.append(commits[batches - 1].end - start)
        else:
            out.failed += batches - len(commits)
        out.throughputs.append(rows / took)
        amplification.append(read_rows / rows)
        drain = f"drain{len(amplification)}"
        tracer.add("structured.drain", start, start + took, drain, rows=rows, read_rows=read_rows)
        for s in drained:  # spans of the stream's own thread
            s.trace_id = s.trace_id or drain
    out.extra["read_amplification"] = statistics.median(amplification)
    out.extra["input_bytes"] = input_bytes
    out.extra["drains"] = len(amplification)

    want = oracle.blob_expected(files)
    got = oracle.blob_actual(target.read())
    out.checks.append(("blob_catchup target", got.matches(want), f"engine {got} oracle {want}"))
    out.extra["target_files"], out.extra["target_snapshots"] = _target_shape(target)
    return out


# -- cdm_backfill ------------------------------------------------------------


def cdm_backfill(ctx: Ctx, tracer: Tracer) -> Outcome:
    """Closed loop: ``BackfillOverwriteRunner`` stages one shard per CDM
    folder (its ``load`` is ``SynapseCdmSource.read_batch``), deduplicates
    the history (W2) and swaps it into a ``DurableCatalogTarget`` capped at
    10 000 rows per file; repeated as fresh backfills, one per
    ``BACKFILL_S`` of the run. Latency is one backfill, from its start to the committed
    watermark."""
    out = Outcome()
    t0 = time.monotonic()
    root = ctx.path("history")
    n_folders, folder_rows = 8, ctx.n(6_000, 20)
    stream = gen.CdmStream(ctx.seed)
    nbytes = 0
    for i in range(n_folders):
        rows = stream.change_set(folder_rows, 1.0 if i == 0 else 0.25, 0.10, False)
        nbytes += gen.write_cdm_folder(root, i, rows, False)
    gen.set_in_progress(root, n_folders)
    source = TimedCdmSource(ctx.spark, root, gen.ENTITY, tracer)
    folders = source.completed_folders(None)
    total_rows = _csv_rows(root)
    target = _cdm_target(ctx, tracer, "backfill", max_rows_per_file=10_000)
    store = TimedWatermarkStore(target.watermark_store().path, tracer)

    def backfill(shards: list[str], bfid: str) -> None:
        BackfillOverwriteRunner(
            ctx.spark, target, SYNAPSE_LINK, ctx.path("staging"),
            TimedStateStore(os.path.join(ctx.path("state"), "state.json"), tracer),
            watermark_store=store,
        ).run(
            [Shard(f, (lambda f=f: source.read_batch(f))) for f in shards],
            backfill_id=bfid, start_version=shards[0], end_version=shards[-1],
        )

    # one untimed backfill of the whole history warms the JVM
    backfill(folders, "warmup")
    out.prep_s = time.monotonic() - t0

    out.first_span = len(tracer.spans)
    passes = units_of_work(ctx.seconds, BACKFILL_S, 2)
    for n in range(1, passes + 1):
        start = time.monotonic()
        with tracer.span("backfill.run", trace_id=f"bf{n}"):
            backfill(folders, f"bf{n}")
        took = time.monotonic() - start
        out.latencies.append(took)
        out.throughputs.append(total_rows / took)
        out.attempted += len(folders) + 1  # shards + the swap
    out.extra["backfills"] = passes
    out.extra["input_bytes"] = nbytes

    want = oracle.cdm_expected(root, list(range(n_folders)))
    got = oracle.cdm_actual(target.read())
    out.checks.append(("cdm_backfill target", got.matches(want), f"engine {got} oracle {want}"))
    wm = store.read()
    out.checks.append(("watermark at last folder", wm is not None and wm.version == folders[-1],
                       str(wm)))
    out.extra["target_files"], out.extra["target_snapshots"] = _target_shape(target)
    return out


# -- curation_batch ----------------------------------------------------------

#: registry queries of one curation pass: the persisted band index, the
#: persisted IVF-PQ index and two text operators (the rest of the list the
#: workload was specified with is left out for time; see NOTES.md)
CURATION_QUERIES = (
    "dedup_index_pairs",
    "sim_ivfpq_index_topk",
    "text_quality",
    "corpus_line_dedup_clean",
)
#: one pass per this many seconds of the run (the first, cold pass takes
#: ~15-20 s on 4 cores)
CURATION_PASS_S = 16.0


def curation_batch(ctx: Ctx, tracer: Tracer) -> Outcome:
    """Closed loop: the registry queries of :data:`CURATION_QUERIES` run
    in turn over a seed-generated ``documents``/``embeddings`` corpus,
    each forced by collecting its rows. The first pass runs right after
    set-up, as a curation job's only pass would: it is measured cold,
    codegen, PQ codebook fit and Python workers included. Further passes
    (one per ``CURATION_PASS_S`` of the run) are warm. Latency is one
    pass. Every pass's rows are checked against the query's
    ``oracle_sql()`` twin, which DuckDB runs after the passes."""
    import __spark_entry__ as registry

    out = Outcome()
    t0 = time.monotonic()
    corpus = ctx.path("corpus")
    # sim_ivfpq_index_topk queries vec_ids up to 123
    docs, vectors = ctx.n(150, 50), ctx.n(150, 130)
    out.extra["input_bytes"] = gen.write_corpus(corpus, ctx.seed, docs, vectors)
    queries = registry.queries()
    out.prep_s = time.monotonic() - t0

    got: list[tuple[str, str, oracle.QueryDigest]] = []
    out.first_span = len(tracer.spans)
    for n in range(1, units_of_work(ctx.seconds, CURATION_PASS_S, 1) + 1):
        start = time.monotonic()
        for q in CURATION_QUERIES:
            with tracer.span(f"curation.{q}", trace_id=f"pass{n}/{q}"):
                df = queries[q](ctx.spark, corpus)
                rows = [tuple(r) for r in df.collect()]
            got.append((f"pass{n}", q, oracle.query_digest(rows, list(df.columns))))
        took = time.monotonic() - start
        out.attempted += len(CURATION_QUERIES)
        out.latencies.append(took)
        out.throughputs.append((docs + vectors) / took)
    out.extra["passes"] = len(out.latencies)

    want = oracle.curation_expected(corpus, {q: registry.oracle_sql()[q] for q in CURATION_QUERIES})
    for label, q, digest in got:
        out.checks.append((f"{label} {q}", digest.matches(want[q]), f"engine {digest} oracle {want[q]}"))
    return out


WORKLOADS = {
    "cdm_trickle": cdm_trickle,
    "blob_catchup": blob_catchup,
    "cdm_backfill": cdm_backfill,
    "curation_batch": curation_batch,
}


# -- helpers -----------------------------------------------------------------


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return float("nan")
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _csv_rows(root: str) -> int:
    n = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".csv"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    n += sum(1 for _ in f)
    return n


def _target_shape(target) -> tuple[int, int]:
    v = target.snapshots.current_version()
    d = os.path.join(target.snapshots.path, f"v={v}")
    files = sum(
        1 for _, _, names in os.walk(d) for n in names if n.endswith(".parquet")
    )
    return files, len(target.versions())
