"""Run every workload over several seeds and report, per end-to-end metric,
the median and the quartile spread ``(q3 - q1) / median`` against the
metric's bound in ``BENCHMARK.json``; optionally one traced run per
workload for the per-layer metrics and the tracing overhead.

    python3 perfbench/spread.py --runs 10 --traced --out perfbench/baseline/4core.json

Run from the root of a checkout; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return {"seed": seed, "trace": trace, "exit": p.returncode, "wall_s": wall, "result": result}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--traced", action="store_true", help="one traced run per workload")
    p.add_argument("--out")
    a = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"seconds": a.seconds, "cpus": os.environ.get("SPARK_GRAFT_CPUS"), "workloads": {}}
    ok = True
    for w in a.workloads:
        runs = [run_once(w, a.first_seed + i, a.seconds, 0) for i in range(a.runs)]
        good = [r for r in runs if r["exit"] == 0 and r["result"].get("correct")]
        entry = {"runs": runs, "metrics": {}}
        print(f"{w}: {len(good)}/{len(runs)} correct, wall "
              f"{min(r['wall_s'] for r in runs):.1f}-{max(r['wall_s'] for r in runs):.1f} s")
        ok &= len(good) == len(runs)
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in good]
            if len(vals) < 2:
                continue
            s = spread(vals)
            entry["metrics"][name] = s
            flag = "" if s["spread"] < bound / 3 else (
                "  > bound/3" if s["spread"] <= bound else "  > BOUND")
            ok &= s["spread"] <= bound
            print(f"  {name:16s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}"
                  f"  spread {s['spread']:.3f} (bound {bound}){flag}")
        if a.traced:
            t = run_once(w, a.first_seed, a.seconds, 1)
            entry["traced"] = t
            print(f"  traced run: exit {t['exit']}, wall {t['wall_s']:.1f} s")
            ok &= t["exit"] == 0
        report["workloads"][w] = entry
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
