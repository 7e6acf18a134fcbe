"""Backfill graphs (§3.2 merge mode, §3.3 sharded overwrite mode).

Reference shapes:

- **Backfill-Merge** (``services/backfill/DefaultBackfillMergeStreamData
  Provider.scala:15-24`` + ``DefaultBackfillMergeGraphBuilder.scala:29-37``):
  compute ``startFrom``/``endAt`` watermarks, then run one bounded pass of
  the normal pipeline (field filter → merge) without maintenance/dispose.
- **Backfill-Overwrite** (``DefaultBackfillOverwriteGraphBuilder.scala:
  36-119``): discover shards for the [start, end] range, stage each shard
  (idempotent resume off a persisted shard state machine ``STAGED →
  COMBINING → COMBINED``, ``DefaultBackfillStateManager.scala:26-112``),
  combine, dedup (W2), and atomically swap the target
  (``BackfillCompletionProcessor.scala:25-43``).

Spark-first restatement (SURVEY §3.3 mapping): a shard is a *unit of
restartable staging work* — a file group (blob sources, ≤10 GiB / ≤10 000
files per shard, ``BlobListingStreamingSource.scala:74-96``) or a JDBC
predicate (MSSQL ``ABS(CHECKSUM(pk)) % N = i``, ``QueryProvider.scala:
119-193``). Staging a shard is one distributed parquet write. Pending shards
stage concurrently, as the reference's ``flatMapPar(cores/2, cores)`` does
(``DefaultBackfillOverwriteGraphBuilder.scala:26,46``): a small shard's
write is a small job whose driver-side planning and commit dominate its
cost, so overlapping them fills the slots a lone shard leaves idle (measured
gains, and the shard sizes they were measured on: ``docs/SCALE.md``
§Backfill). The pool is as wide as the session's task slots
(``defaultParallelism``), capped by the driver's CPUs and the number of
pending shards. The combine step is a single ``spark.read`` over all staged
shard directories (no row-level INSERT loop), the dedup window shuffles
once on the merge key, and the swap is a snapshot/``replaceTable`` commit.
The reference's 700-LoC server-side shard state machine collapses to a JSON
state file whose only job is skipping already-STAGED shards after a driver
restart — a shard is recorded STAGED only once its own write has returned,
so a crash or a failed shard loses at most the shards still in flight.
Executor failures inside a shard are covered by Spark task retry.
"""

from __future__ import annotations

import json
import os
import posixpath
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from typing import Callable, Iterator

from py4j.clientserver import ClientServer
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from arcane_framework_scala_spark.operators.dedup_window import backfill_commit_dedup
from arcane_framework_scala_spark.operators.field_filter import (
    FieldSelectionRule,
    apply_field_selection,
)
from arcane_framework_scala_spark.queries.merge import MergeDialect
from arcane_framework_scala_spark.schema.schema import MERGE_KEY_COLUMN
from arcane_framework_scala_spark.streaming.watermark import Watermark, WatermarkStore

STAGED = "STAGED"
COMBINED = "COMBINED"


# ---------------------------------------------------------------------------
# §3.2 Backfill-Merge: one bounded pass through the streaming pipeline
# ---------------------------------------------------------------------------

def run_backfill_merge(
    source,
    sink,
    watermark_store: WatermarkStore,
    start_version: str | None = None,
    field_rule: FieldSelectionRule | None = None,
) -> int:
    """Bounded re-merge of the [start, current] range; returns batches
    applied. The version-guarded MERGE makes overlap with already-applied
    data a no-op (T9), so ``start_version=None`` re-merges from origin."""
    since = {"version": start_version} if start_version is not None else None
    end = source.current_version()
    n = 0
    for batch in source.changes(since):
        df = batch.df
        if field_rule is not None:
            df = apply_field_selection(df, field_rule)
        sink.apply(df)
        n += 1
    watermark_store.commit(Watermark.now(version=str(end.get("version", ""))))
    return n


# ---------------------------------------------------------------------------
# §3.3 Backfill-Overwrite: sharded, resumable, atomic swap
# ---------------------------------------------------------------------------

def _pool_target(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` wrapped to run on a worker thread for the calling one. In py4j's
    pinned-thread mode (PySpark's default) every Python thread talks to the
    JVM over its own connection and JVM thread, so the wrapper copies the
    caller's local properties (job group, description, scheduler pool) and
    tags into it, and closes the thread's connection once ``fn`` returns,
    which PySpark leaves to the garbage collector. A later call on the same
    thread opens a new one."""
    gateway = spark.sparkContext._gateway
    if not isinstance(gateway, ClientServer):
        return fn  # one shared connection pool: nothing is per thread
    target = inheritable_thread_target(spark)(fn)
    client = gateway._gateway_client

    def run(*args):
        try:
            return target(*args)
        finally:
            conn = client.get_thread_connection()
            if conn is not None:
                try:
                    client.deque.remove(conn)
                except ValueError:
                    pass
                conn.close()

    return run


@dataclass
class BackfillState:
    """Persisted descriptor (reference ``models/backfill/SourceBackfill.
    scala:8-21``): identity + range + per-shard progress."""

    backfill_id: str
    start_version: str
    end_version: str
    shard_states: dict[str, str] = field(default_factory=dict)
    #: STAGED shards whose source had no rows (e.g. a CDM folder the entity
    #: did not change in): nothing was written, so the combine skips them
    empty_shards: set[str] = field(default_factory=set)

    def to_json(self) -> str:
        return json.dumps(
            {
                "backfill_id": self.backfill_id,
                "start_version": self.start_version,
                "end_version": self.end_version,
                "shard_states": self.shard_states,
                "empty_shards": sorted(self.empty_shards),
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "BackfillState":
        d = json.loads(s)
        return BackfillState(
            backfill_id=d["backfill_id"],
            start_version=d["start_version"],
            end_version=d["end_version"],
            shard_states=dict(d.get("shard_states", {})),
            empty_shards=set(d.get("empty_shards", [])),
        )


class FileBackfillStateStore:
    """Reference stores the descriptor as a table property on the combined
    table; locally a JSON file with atomic rename-commit is equivalent."""

    def __init__(self, path: str):
        self.path = path

    def read(self) -> BackfillState | None:
        try:
            with open(self.path) as f:
                return BackfillState.from_json(f.read())
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None

    def commit(self, state: BackfillState) -> None:
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".backfill-")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(state.to_json())
            os.replace(tmp, self.path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def clear(self) -> None:
        try:
            os.remove(self.path)
        except FileNotFoundError:
            pass


@dataclass(frozen=True)
class Shard:
    """One restartable unit of staging work. ``load`` builds the shard's
    DataFrame lazily (a file-group read or a predicated JDBC read) — rows
    never touch the driver — or returns ``None`` when the shard has no
    rows. Shards of one run may load and stage concurrently."""

    name: str
    load: Callable[[], DataFrame | None]


class BackfillOverwriteRunner:
    """Stage shards → combine → W2 dedup → swap target, resumable.

    ``target`` needs ``overwrite(df)`` (SnapshotParquetTarget or
    CatalogTarget — the swap is the storage layer's atomic commit);
    ``staging_dir`` holds one parquet directory per shard."""

    def __init__(
        self,
        spark: SparkSession,
        target,
        dialect: MergeDialect,
        staging_dir: str,
        state_store: FileBackfillStateStore,
        watermark_store: WatermarkStore | None = None,
        merge_key: str = MERGE_KEY_COLUMN,
        field_rule: FieldSelectionRule | None = None,
        names=None,
    ):
        self.spark = spark
        self.target = target
        self.dialect = dialect
        self.staging_dir = staging_dir
        self.state_store = state_store
        self.watermark_store = watermark_store
        self.merge_key = merge_key
        self.field_rule = field_rule
        #: optional naming.NameGenerator: shard directories then follow the
        #: reference scheme backfill__{stream}__{bfid}__shard__{id} so a
        #: resumed run (and maintenance sweeps) can find them by prefix
        self.names = names

    def _shard_path(self, shard_name: str) -> str:
        if self.names is not None:
            return posixpath.join(
                self.staging_dir, self.names.shard_table_name(shard_name)
            )
        return posixpath.join(self.staging_dir, f"shard={shard_name}")

    def _stage(self, shard: Shard) -> bool:
        """Write one shard's rows; False when the shard has none."""
        df = shard.load()
        if df is None:
            return False
        if self.field_rule is not None:
            df = apply_field_selection(df, self.field_rule)
        # one distributed write per shard; task failures retried by Spark,
        # overwrite mode makes a re-run after driver crash idempotent
        df.write.mode("overwrite").parquet(self._shard_path(shard.name))
        return True

    def _stage_pending(self, pending: list[Shard], state: BackfillState) -> None:
        """Stage ``pending`` on a thread pool, recording each shard STAGED
        as soon as its own write returns. On the first failure the shards
        not yet started are cancelled, the in-flight ones finish (and are
        recorded), then that failure is raised; a rerun stages the rest."""
        if not pending:
            return
        lock = threading.Lock()

        def stage(shard: Shard) -> None:
            wrote = self._stage(shard)
            with lock:
                state.shard_states[shard.name] = STAGED
                if not wrote:
                    state.empty_shards.add(shard.name)
                self.state_store.commit(state)

        width = min(
            len(pending),
            self.spark.sparkContext.defaultParallelism,
            os.cpu_count() or 1,
        )
        stage = _pool_target(self.spark, stage)
        with ThreadPoolExecutor(width, thread_name_prefix="backfill-stage") as pool:
            futures = [pool.submit(stage, shard) for shard in pending]
            try:
                for done in as_completed(futures):
                    done.result()
            except BaseException:
                for f in futures:
                    f.cancel()
                raise

    def run(
        self,
        shards: Iterator[Shard] | list[Shard],
        backfill_id: str,
        start_version: str,
        end_version: str,
        deduplicate: bool = True,
    ) -> DataFrame:
        """Execute (or resume) the backfill; returns the swapped-in result."""
        shards = list(shards)
        state = self.state_store.read()
        if state is None or state.backfill_id != backfill_id:
            # reference cleanupOutdatedBackfill: a stale descriptor (different
            # id) invalidates any leftover staging data
            state = BackfillState(backfill_id, start_version, end_version)
            self.state_store.commit(state)

        # idempotent resume (DefaultBackfillOverwriteGraphBuilder:49)
        self._stage_pending(
            [s for s in shards if state.shard_states.get(s.name) != STAGED], state
        )

        # combine: one read over every staged shard directory — Spark unions
        # file groups at the scan, no per-shard INSERT pass
        paths = [
            self._shard_path(s.name) for s in shards if s.name not in state.empty_shards
        ]
        if not paths:
            raise ValueError(f"backfill {backfill_id!r}: every shard is empty")
        combined = self.spark.read.parquet(*paths)
        result = (
            backfill_commit_dedup(
                combined,
                self.dialect.version_column,
                self.merge_key,
                drop_synapse_deletes=self.dialect.name == "synapse_link",
            )
            if deduplicate
            else combined
        )
        self.target.overwrite(result)
        for shard in shards:
            state.shard_states[shard.name] = COMBINED
        self.state_store.commit(state)
        if self.watermark_store is not None:
            # watermark commits only after the swap (reference ordering)
            self.watermark_store.commit(Watermark.now(version=end_version))
        return self.target.read()
