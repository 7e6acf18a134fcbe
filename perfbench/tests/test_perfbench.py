"""Tests of the benchmark itself: seeded inputs are byte-identical, the
oracles agree with the engine on a tiny instance of every workload, every
emitted metric is declared in ``BENCHMARK.json``, and the runner refuses
to run without the engine.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, Outcome  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    spec = gen.TrickleSpec(base_rows=300, set_rows=40)
    cdm = os.path.join(root, "cdm")
    s = gen.CdmStream(seed)
    gen.write_cdm_folder(cdm, 0, s.change_set(spec.base_rows, 1.0, 0.0, False), False)
    gen.set_in_progress(cdm, 1)
    log = os.path.join(root, "feed.jsonl")
    gen.feed(cdm, seed, spec, first=1, count=3, interval=0.0, drift_at=2,
             log_path=log, start_at=time.monotonic())
    os.remove(log)  # holds wall-clock times
    b = gen.BlobStream(seed)
    for i in range(3):
        gen.write_blob_file(os.path.join(root, "blob", f"{i}.parquet"), b.file_rows(50, 0.2))
    gen.write_corpus(os.path.join(root, "corpus"), seed, 30, 30)


def test_same_seed_same_input_bytes(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert len(a) > 10
    assert a != c


def test_feeder_continues_the_inline_stream(tmp_path):
    """The feeder process regenerates the stream prefix; the folders it
    lands must equal what one generator writes in sequence."""
    spec = gen.TrickleSpec(base_rows=200, set_rows=30)
    s = gen.CdmStream(3)
    s.change_set(spec.base_rows, 1.0, 0.0, False)
    for i in (1, 2, 3, 4):
        rows = s.change_set(spec.set_rows, spec.insert_share, spec.delete_share, i >= 3)
        gen.write_cdm_folder(str(tmp_path / "inline"), i, rows, i >= 3)
    fed = str(tmp_path / "fed")
    s = gen.CdmStream(3)
    s.change_set(spec.base_rows, 1.0, 0.0, False)
    rows = s.change_set(spec.set_rows, spec.insert_share, spec.delete_share, False)
    gen.write_cdm_folder(fed, 1, rows, False)
    gen.feed(fed, 3, spec, first=2, count=3, interval=0.0, drift_at=3,
             log_path=str(tmp_path / "log.jsonl"), start_at=time.monotonic())
    shutil.rmtree(os.path.join(fed, "Changelog"))
    assert _tree_digest(fed) == _tree_digest(str(tmp_path / "inline"))


def test_change_sets_have_hot_keys_deletes_and_inserts():
    s = gen.CdmStream(1)
    s.change_set(10_000, 1.0, 0.0, False)
    rows = s.change_set(1_000, 0.10, 0.10, False)
    ids = [line.split(",")[0] for line, _ in rows]
    deletes = sum(d for _, d in rows)
    assert len(ids) - len(set(ids)) > 10  # several versions of some keys
    assert 50 < deletes < 150
    versions = [int(line.split(",")[-3]) for line, _ in rows]
    assert versions == sorted(versions) and len(set(versions)) == len(versions)


def test_blob_files_hold_one_row_per_key():
    b = gen.BlobStream(5)
    b.file_rows(500, 1.0)
    for _ in range(5):
        keys = [r[0] for r in b.file_rows(500, 0.2)]
        assert len(keys) == len(set(keys))


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_emitted_metric_names_are_declared():
    spec = _spec()
    out = Outcome(latencies=[1.0], throughputs=[10.0])
    setup = {"session_s": 1.0, "catalog_s": 0.1, "warmup_s": 0.2}
    e2e = run.e2e(setup, out, 100.0)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    per = layers.per_layer(Tracer(), out, setup)
    per.update({f"overhead.{k}": 0.0 for k in ("setup_s", "latency_p50_s", "rows_per_s")})
    assert set(per) == {m["name"] for m in spec["per_layer"]}
    assert set(layers.units()) >= set(per) | set(e2e)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdm_trickle",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    session, _ = run.setup(work)
    yield session
    run.stop_engine()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_oracle_agrees_with_engine_on_tiny_instance(spark, tmp_path, workload):
    out = WORKLOADS[workload](Ctx(spark, 3, 0.5, str(tmp_path), trace=False, scale=0.02), Tracer())
    assert out.checks and out.correct, out.checks
    assert out.failed == 0 and out.attempted > 0
    assert out.latencies and out.throughputs
