"""Per-layer metrics of a traced run, computed from its spans (with the
Spark event log folded in) and the workload's outcome. Every metric is
reported on every workload; a layer the workload never calls reads 0.
Only spans of the measured phase count, never those of target
preparation or warm-up.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.trace import union_length
from perfbench.workloads import CURATION_QUERIES

_BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)
MAINTENANCE_OPS = ("optimize", "expire_snapshots", "remove_orphan_files", "analyze")
#: spans whose time is not the runner's (or the structured driver's) own
_CHILDREN = {"merge", "watermark.commit", "watermark.read", "structured.start"} | {
    f"maintenance.{op}" for op in MAINTENANCE_OPS
}


def units() -> dict[str, str]:
    """Metric name -> unit, as declared in ``BENCHMARK.json``."""
    with open(_BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _covered(span, others) -> float:
    """Seconds of ``span`` covered by the union of ``others``."""
    return union_length(
        [(max(o.start, span.start), min(o.end, span.end)) for o in others if o is not span]
    )


def per_layer(tracer, out, setup: dict) -> dict[str, float]:
    spans = tracer.spans[out.first_span:]

    def named(name):
        return [s for s in spans if s.name == name]

    def spark(ss, key):
        return [s.spark.get(key, 0) for s in ss]

    children = [s for s in spans if s.name in _CHILDREN]
    m: dict[str, float] = {}
    for phase in ("session_s", "catalog_s", "warmup_s"):
        m[f"setup.{phase}"] = setup[phase]

    m["source.poll_s"] = _med(s.duration for s in named("source.poll"))
    m["source.read_plan_s"] = _med(s.duration for s in named("source.read_plan"))

    batches = named("runner.batch")
    m["runner.batch_s"] = _med(b.duration for b in batches)
    m["runner.self_s"] = _med(
        b.duration - _covered(b, [c for c in children if c.thread == b.thread]) for b in batches
    )
    m["runner.jobs_per_batch"] = _mean(spark(batches, "jobs"))

    drains = named("structured.drain")
    m["structured.start_s"] = _med(s.duration for s in named("structured.start"))
    m["structured.self_s"] = _med(d.duration - _covered(d, children) for d in drains)
    m["structured.read_amplification"] = _med(d.attrs["read_rows"] / d.attrs["rows"] for d in drains)

    merges = named("merge")
    m["merge.p50_s"] = _med(s.duration for s in merges)
    for key in ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes", "driver_only_s"):
        m[f"merge.{key}"] = _mean(spark(merges, key))
    in_bytes = out.extra.get("input_bytes", 0)
    written = sum(s.attrs.get("snapshot_bytes", 0) for s in merges)
    m["merge.write_amplification"] = written / in_bytes if merges and in_bytes else 0.0
    m["merge.retries"] = max(0, len(named("target.merge")) - len(merges))

    commits = named("watermark.commit")
    m["watermark.commit_s"] = _med(s.duration for s in commits)
    m["watermark.commits"] = len(commits)

    for op in MAINTENANCE_OPS:
        m[f"maintenance.{op}_s"] = _med(s.duration for s in named(f"maintenance.{op}"))
    m["maintenance.files_rewritten"] = sum(
        s.attrs.get("files_rewritten", 0) for s in named("maintenance.optimize")
    )
    m["target.files"] = out.extra.get("target_files", 0)
    m["target.snapshots"] = out.extra.get("target_snapshots", 0)

    runs = named("backfill.run")
    stage = []
    for r in runs:
        inside = [c for c in named("backfill.state_commit") if r.start <= c.start <= r.end]
        stage += [
            b.start - a.end
            for a, b in zip(inside, inside[1:])
            if b.attrs["staged"] > a.attrs["staged"]
        ]
    m["backfill.stage_s"] = _med(stage)
    m["backfill.swap_s"] = _med(
        s.duration for s in named("target.overwrite") if any(r.start <= s.start <= r.end for r in runs)
    )
    m["backfill.shuffle_bytes"] = _med(spark(runs, "shuffle_bytes"))
    m["backfill.executor_cpu_s"] = _med(spark(runs, "executor_cpu_s"))

    for q in CURATION_QUERIES:
        runs = named(f"curation.{q}")
        m[f"curation.{q}_s"] = _med(s.duration for s in runs)
        for key in ("jobs", "executor_cpu_s", "shuffle_bytes"):
            m[f"curation.{q}.{key}"] = _mean(spark(runs, key))

    return m
