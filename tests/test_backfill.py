"""Backfill graph tests (§3.2 merge mode, §3.3 sharded overwrite mode).

Models the reference's backfill integration tests
(``tests/services/backfill/...``): stage shards, combine, dedup, swap —
plus the resume semantics the shard state machine exists for."""

import hashlib
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.backfill.graph import (
    BackfillOverwriteRunner,
    BackfillState,
    FileBackfillStateStore,
    STAGED,
    Shard,
    run_backfill_merge,
)
from arcane_framework_scala_spark.functions.merge_key import blob_merge_key
from arcane_framework_scala_spark.queries.merge import SYNAPSE_LINK, UPSERT_BLOB
from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.sources.blob import BlobParquetSource
from arcane_framework_scala_spark.sources.cdm import SynapseCdmSource
from arcane_framework_scala_spark.streaming.watermark import FileWatermarkStore


@pytest.fixture()
def lineitem_feed(spark, sf_dir, tmp_path):
    """lineitem split into 3 parquet 'blobs' under an incoming dir."""
    src = str(tmp_path / "incoming")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(3000)
    for i in range(3):
        li.filter(F.col("l_orderkey") % 3 == i).write.parquet(
            f"{src}/part{i}", mode="overwrite"
        )
    return src, li.count()


def _runner(spark, tmp_path, source):
    target = SnapshotParquetTarget(spark, str(tmp_path / "target"))
    store = FileBackfillStateStore(str(tmp_path / "state.json"))
    wm = FileWatermarkStore(path=str(tmp_path / "wm.json"))
    return (
        BackfillOverwriteRunner(
            spark,
            target,
            UPSERT_BLOB,
            staging_dir=str(tmp_path / "staging"),
            state_store=store,
            watermark_store=wm,
        ),
        target,
        store,
        wm,
    )


def test_overwrite_backfill_stages_combines_swaps(spark, tmp_path, lineitem_feed):
    src_dir, _total = lineitem_feed
    source = BlobParquetSource(
        spark=spark, path=src_dir, primary_keys=["l_orderkey", "l_linenumber"]
    )
    runner, target, store, wm = _runner(spark, tmp_path, source)
    shards = source.backfill_shards(max_shard_files=2)
    assert len(shards) >= 2  # file groups actually sharded

    result = runner.run(shards, backfill_id="bf1", start_version="0", end_version="99")
    distinct_keys = (
        spark.read.parquet(f"{src_dir}/part0", f"{src_dir}/part1", f"{src_dir}/part2")
        .select("l_orderkey", "l_linenumber")
        .distinct()
        .count()
    )
    # W2 dedup leaves one row per merge key (ties collapse to rank()=1 rows)
    assert result.select("ARCANE_MERGE_KEY").distinct().count() == distinct_keys
    assert target.read() is not None
    state = store.read()
    assert state is not None and all(v == "COMBINED" for v in state.shard_states.values())
    assert wm.read() is not None and wm.read().version == "99"


def test_overwrite_backfill_resume_skips_staged_shards(spark, tmp_path, lineitem_feed):
    src_dir, _ = lineitem_feed
    source = BlobParquetSource(
        spark=spark, path=src_dir, primary_keys=["l_orderkey", "l_linenumber"]
    )
    runner, target, store, _ = _runner(spark, tmp_path, source)
    shards = source.backfill_shards(max_shard_files=2)

    # simulate a crash after shard 0 staged: pre-commit its STAGED marker
    # with a poisoned loader — resume must not call it
    runner._stage(shards[0])
    store.commit(
        BackfillState(
            "bf1", "0", "99", shard_states={shards[0].name: STAGED}
        )
    )

    def boom():
        raise AssertionError("resume re-staged an already-STAGED shard")

    poisoned = [Shard(name=shards[0].name, load=boom)] + list(shards[1:])
    result = runner.run(poisoned, backfill_id="bf1", start_version="0", end_version="99")
    assert result.count() > 0


def test_backfill_merge_bounded_pass(spark, tmp_path, lineitem_feed):
    src_dir, _ = lineitem_feed
    source = BlobParquetSource(
        spark=spark, path=src_dir, primary_keys=["l_orderkey", "l_linenumber"]
    )
    target = SnapshotParquetTarget(spark, str(tmp_path / "target"))
    sink = MergeSink(target=target, dialect=UPSERT_BLOB)
    wm = FileWatermarkStore(path=str(tmp_path / "wm.json"))
    n = run_backfill_merge(source, sink, wm, start_version=None)
    assert n >= 1
    first = target.read().count()
    # re-running the same backfill is a no-op thanks to the version guard
    run_backfill_merge(source, sink, wm, start_version=None)
    assert target.read().count() == first


def test_overwrite_backfill_uses_reference_shard_naming(spark, tmp_path, lineitem_feed):
    """With a NameGenerator bound, shard staging directories follow the
    reference scheme backfill__{stream}__{bfid}__shard__{id} — a resumed
    run and maintenance sweeps find them by prefix."""
    import os

    from arcane_framework_scala_spark.naming import NameGenerator

    src_dir, _ = lineitem_feed
    source = BlobParquetSource(
        spark=spark, path=src_dir, primary_keys=["l_orderkey", "l_linenumber"]
    )
    target = SnapshotParquetTarget(spark, str(tmp_path / "target2"))
    store = FileBackfillStateStore(str(tmp_path / "state2.json"))
    staging = str(tmp_path / "staging2")
    runner = BackfillOverwriteRunner(
        spark,
        target,
        UPSERT_BLOB,
        staging_dir=staging,
        state_store=store,
        names=NameGenerator(
            target_table_full_name="wh.ns.lineitem",
            stream_id="li-stream",
            backfill_id="bf-9",
        ),
    )
    shards = source.backfill_shards(max_shard_files=2)
    runner.run(shards, backfill_id="bf-9", start_version="0", end_version="9")
    dirs = sorted(os.listdir(staging))
    assert dirs, "staging dir is empty"
    for d in dirs:
        assert d.startswith("backfill__li_stream__bf_9__shard__"), dirs


def _digest(df):
    """Order-independent content hash of a DataFrame."""
    rows = sorted(tuple("" if v is None else str(v) for v in r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _lineitem_shards(spark, sf_dir, n, load_hook=None):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        blob_merge_key("l_orderkey", "l_linenumber").alias("ARCANE_MERGE_KEY"),
        F.lit(1).cast("long").alias("createdon"),
        "*",
    )

    def load(i):
        def _load():
            if load_hook is not None:
                load_hook(i)
            return li.filter(F.col("l_orderkey") % n == i)

        return _load

    return [Shard(name=str(i), load=load(i)) for i in range(n)]


def test_overwrite_backfill_stages_shards_concurrently(spark, sf_dir, tmp_path):
    """Two shard loads meet at one barrier: serial staging would leave the
    first waiting alone until the barrier times out."""
    if min(spark.sparkContext.defaultParallelism, os.cpu_count() or 1) < 2:
        pytest.skip("needs at least two task slots")
    barrier = threading.Barrier(2, timeout=30)

    def meet(i):
        if i < 2:
            barrier.wait()

    runner, target, store, _ = _runner(spark, tmp_path, None)
    runner.run(
        _lineitem_shards(spark, sf_dir, 3, meet),
        backfill_id="bf1", start_version="0", end_version="1",
    )
    assert set(store.read().shard_states) == {"0", "1", "2"}
    assert target.read().count() > 0


def test_overwrite_backfill_stage_threads_inherit_and_release(spark, sf_dir, tmp_path):
    """Staging threads see the caller's local properties (a job group set to
    cancel the backfill must reach its staging jobs), and each closes its
    py4j connection when its shard is done."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    if not hasattr(client, "get_thread_connection"):
        pytest.skip("py4j connections are not per thread")
    seen, conns = {}, []

    def probe(i):
        seen[i] = sc.getLocalProperty("spark.jobGroup.id")
        conns.append(client.get_thread_connection())

    sc.setJobGroup("bf-cancel-me", "backfill under test")
    try:
        runner, _, _, _ = _runner(spark, tmp_path, None)
        runner.run(
            _lineitem_shards(spark, sf_dir, 3, probe),
            backfill_id="bf1", start_version="0", end_version="1",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {0: "bf-cancel-me", 1: "bf-cancel-me", 2: "bf-cancel-me"}
    assert len(conns) == 3 and all(c is not None for c in conns)
    assert all(c.socket is None for c in conns), "staging thread left its connection open"


def test_overwrite_backfill_failure_mid_run_resumes(spark, sf_dir, tmp_path):
    """One shard fails while others stage: the error surfaces, every shard
    recorded STAGED has its directory, no watermark is committed, and a
    rerun stages only the unrecorded shards to the same target a clean run
    produces."""
    loads = []

    def failing(i):
        if i == 2:
            raise RuntimeError("shard 2 source unavailable")

    runner, target, store, wm = _runner(spark, tmp_path / "resumed", None)
    with pytest.raises(RuntimeError, match="shard 2 source unavailable"):
        runner.run(
            _lineitem_shards(spark, sf_dir, 6, failing),
            backfill_id="bf1", start_version="0", end_version="9",
        )
    staged = {n for n, s in store.read().shard_states.items() if s == STAGED}
    assert "2" not in staged
    for name in staged:
        assert os.path.exists(os.path.join(runner._shard_path(name), "_SUCCESS")), name
    assert wm.read() is None  # watermark only after the swap

    runner.run(
        _lineitem_shards(spark, sf_dir, 6, loads.append),
        backfill_id="bf1", start_version="0", end_version="9",
    )
    assert sorted(loads) == sorted(i for i in range(6) if str(i) not in staged)
    assert wm.read().version == "9"

    clean, clean_target, _, _ = _runner(spark, tmp_path / "clean", None)
    clean.run(
        _lineitem_shards(spark, sf_dir, 6),
        backfill_id="bf1", start_version="0", end_version="9",
    )
    assert _digest(target.read()) == _digest(clean_target.read())


def _cdm_folder(root, folder, rows):
    """One Synapse Link change folder; ``rows=None`` writes the manifest
    but no entity directory (the entity did not change in that batch)."""
    d = root / folder
    d.mkdir(parents=True)
    (d / "model.json").write_text(json.dumps({"name": "cdm", "entities": [{
        "name": "account",
        "attributes": [
            {"name": "Id", "dataType": "guid"},
            {"name": "name", "dataType": "string"},
            {"name": "versionnumber", "dataType": "int64"},
            {"name": "IsDelete", "dataType": "boolean"},
        ],
    }]}))
    if rows is not None:
        (d / "account").mkdir()
        (d / "account" / "1.csv").write_text("\n".join(rows))


def test_overwrite_backfill_skips_empty_cdm_shard(spark, tmp_path):
    """A CDM folder without the entity is an empty shard: it stages nothing,
    is recorded STAGED, and the target equals a backfill of the others."""
    root = tmp_path / "cdm"
    _cdm_folder(root, "2025-09-01T00.00.00Z", ["a1,first,1,False", "a2,second,2,False"])
    _cdm_folder(root, "2025-09-01T01.00.00Z", None)
    _cdm_folder(root, "2025-09-01T02.00.00Z", ["a1,renamed,3,False", "a3,third,4,False"])
    source = SynapseCdmSource(spark=spark, container_path=str(root), entity="account")
    folders = source.completed_folders(None)

    def backfill(sub, names):
        target = SnapshotParquetTarget(spark, str(tmp_path / sub / "target"))
        store = FileBackfillStateStore(str(tmp_path / sub / "state.json"))
        BackfillOverwriteRunner(
            spark, target, SYNAPSE_LINK, staging_dir=str(tmp_path / sub / "staging"),
            state_store=store,
        ).run(
            [Shard(f, (lambda f=f: source.read_batch(f))) for f in names],
            backfill_id="bf1", start_version=names[0], end_version=names[-1],
        )
        return target, store.read()

    target, state = backfill("all", folders)
    assert state.empty_shards == {"2025-09-01T01.00.00Z"}
    assert all(v == "COMBINED" for v in state.shard_states.values())
    expected, _ = backfill("nonempty", [folders[0], folders[2]])
    assert _digest(target.read()) == _digest(expected.read())
    assert {r["Id"]: r["name"] for r in target.read().collect()} == {
        "a1": "renamed", "a2": "second", "a3": "third",
    }


def test_overwrite_backfill_all_empty_raises(spark, tmp_path):
    """With no rows in any shard there is nothing to swap in: the run says
    so instead of failing on an empty combine, and no watermark moves. The
    shards record concurrently under a short switch interval, through a
    store whose first shard commit stalls between snapshotting the state
    and writing it: an unserialized commit would persist that stale
    snapshot last."""

    class SlowStore(FileBackfillStateStore):
        def commit(self, state):
            snapshot = BackfillState.from_json(state.to_json())
            if len(snapshot.shard_states) == 1:
                time.sleep(0.2)
            super().commit(snapshot)

    runner, _, _, wm = _runner(spark, tmp_path, None)
    store = runner.state_store = SlowStore(str(tmp_path / "slow_state.json"))
    names = {str(i) for i in range(32)}
    shards = [Shard(name=n, load=lambda: None) for n in sorted(names)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(ValueError, match="every shard is empty"):
            runner.run(shards, backfill_id="bf1", start_version="0", end_version="1")
    finally:
        sys.setswitchinterval(interval)
    state = store.read()
    assert state.empty_shards == names
    assert state.shard_states == {n: STAGED for n in names}
    assert wm.read() is None


def test_state_store_concurrent_commits(tmp_path):
    """Committers never share a temp file: every commit lands whole and no
    temp file is left behind."""
    store = FileBackfillStateStore(str(tmp_path / "state" / "state.json"))

    def commit(i):
        for j in range(20):
            store.commit(BackfillState("bf", "0", "9", {f"{i}-{j}": STAGED}))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(commit, i) for i in range(8)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert store.read() is not None
    assert os.listdir(tmp_path / "state") == ["state.json"]
