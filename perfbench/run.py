"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdm_trickle --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer metrics, measured with Spark's
event log on, plus the tracing overhead against an untraced run of the
same seed. A run record (validity context,
oracle checks, spans) is written under ``.perfbench/runs/``. The exit code
is non-zero when an output check fails or the engine is missing.
"""

from __future__ import annotations

import argparse
import ctypes
import errno
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(ROOT, "javaext", "mem-catalog.jar")
ENGINE = os.path.join(ROOT, "arcane_framework_scala_spark")


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spark_conf(work: str, extra: dict | None = None) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        "spark.jars": JAR,
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    conf.update(extra or {})
    return conf


def setup(work: str, extra: dict | None = None):
    """One set-up: session start (jar on the classpath), MemCatalog
    registration and one warm-up query. Returns the session and the three
    phase times. The first set-up of a process is cold: its session start
    launches the JVM."""
    from arcane_framework_scala_spark.session import get_session

    t0 = time.monotonic()
    spark = get_session("perfbench", extra_conf=_spark_conf(work, extra))
    t1 = time.monotonic()
    spark.conf.set("spark.sql.catalog.bench", "arcanespark.mem.MemCatalog")
    spark.sql("SHOW TABLES IN bench.w").collect()
    t2 = time.monotonic()
    spark.range(200_000).selectExpr("sum(id * 7 % 13)").collect()
    t3 = time.monotonic()
    return spark, {"session_s": t1 - t0, "catalog_s": t2 - t1, "warmup_s": t3 - t2}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from ``/proc/stat``. Steal is
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def calibration_s(spark) -> float:
    """A fixed scan timed after set-up: context for how busy the box was."""
    t0 = time.monotonic()
    spark.range(20_000_000).selectExpr("sum(id * 31 % 97)").collect()
    return time.monotonic() - t0


def peak_rss_mb(spark) -> float:
    """Driver Python peak RSS plus the JVM's ``VmHWM``."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def memory_detail(spark) -> dict:
    """Context for ``peak_rss_mb``: its two parts and the JVM heap pools'
    peak use."""
    jvm = spark._jvm
    heap_peak = sum(
        pool.getPeakUsage().getUsed()
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    )
    return {
        "py_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "heap_peak_used_mb": heap_peak / 2**20,
    }


def e2e(setup_phases: dict, out, rss_mb: float) -> dict:
    return {
        "setup_s": sum(setup_phases.values()),
        "latency_p50_s": statistics.median(out.latencies),
        "rows_per_s": statistics.median(out.throughputs),
        "peak_rss_mb": rss_mb,
    }


#: ``prctl`` option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def adopt_descendants() -> None:
    """Make this process the reaper of every process it starts, directly or
    not (the JVM's Python workers, the trickle's feeder), so
    :func:`reap_children` can wait for all of them. A SIGTERM unwinds
    through ``finally`` like any other exit."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name in parentheses may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(name))
    return kids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every child has ended and been reaped; after
    ``grace_s`` kill those still running."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except OSError as e:
                    if e.errno != errno.ESRCH:
                        raise
            killed = True
        time.sleep(0.05)


def stop_engine() -> None:
    """Stop the Spark session, then its JVM: the gateway server exits when
    its standard input closes. Waits for the JVM and every other child to
    end, so nothing of the run outlives it."""
    from pyspark import SparkContext

    context = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    try:
        if context is not None:
            context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_children()


def untraced_run(a) -> dict:
    """The same workload and seed with ``--trace 0`` in a child process;
    its result line."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
         "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=150,
    )
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"untraced run printed no result (exit {p.returncode}): {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    if not (os.path.isdir(ENGINE) and os.path.isfile(JAR)):
        _die(f"engine not found next to the benchmark (looked for {ENGINE} and {JAR})")
    adopt_descendants()
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.trace import Tracer, event_log_conf, fold_event_log
    from perfbench.workloads import WORKLOADS, Ctx

    if a.workload not in WORKLOADS:
        _die(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    record_dir = os.path.join(ROOT, ".perfbench", "runs", run_id)
    for d in ("local", "jtmp", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(record_dir, exist_ok=True)
    # keep every scratch file of Python, Spark and the JVMs (the launcher's
    # too, and no perf-data files) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jtmp')}"
    )
    tempfile.tempdir = None

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "load_before": os.getloadavg()[0],
              "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS")}
    steal0, total0 = cpu_ticks()
    log_dir = os.path.join(work, "eventlog")
    try:
        # one cold set-up: a second one would cost another JVM launch. A
        # traced run has the event log on from here.
        spark, phases = setup(work, event_log_conf(log_dir) if a.trace else None)
        record["setup"] = phases
        record["cores"] = spark.sparkContext.defaultParallelism
        record["calibration_s"] = calibration_s(spark)

        run = WORKLOADS[a.workload]
        tracer = Tracer()
        out = run(Ctx(spark, a.seed, a.seconds, os.path.join(work, "u"), bool(a.trace)), tracer)
        metrics = e2e(phases, out, peak_rss_mb(spark))
        record["memory"] = memory_detail(spark)
        if a.trace:
            # the JVM ends before the untraced run starts its own
            stop_engine()
            fold_event_log(tracer, log_dir)
            result = layers.per_layer(tracer, out, phases)
            tracer.write(os.path.join(record_dir, "spans.jsonl"))
            # tracing overhead: this run against an untraced run of the same
            # seed in a fresh process, so both set-ups and halves are cold
            plain = untraced_run(a)
            record["plain_result"] = plain
            for k in ("setup_s", "latency_p50_s", "rows_per_s"):
                result[f"overhead.{k}"] = metrics[k] - plain["metrics"][k]["value"]
            out.checks.append(("untraced run", plain["correct"], f"{plain['failed']} failed"))
            out.attempted += plain["attempted"]
            out.failed += plain["failed"]
        else:
            result = metrics
        record.update(
            e2e=metrics, latencies=out.latencies, prep_s=out.prep_s, extra=out.extra,
            checks=out.checks, load_after=os.getloadavg()[0],
        )
        steal1, total1 = cpu_ticks()
        record["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)

    correct = out.correct
    failed = out.failed + (0 if correct else 1)
    with open(os.path.join(record_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, ok, detail in out.checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    units = layers.units()
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, out.attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
