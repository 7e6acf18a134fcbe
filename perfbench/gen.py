"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine only ever sees the files written here.

- CDM change sets (``cdm_trickle``, ``cdm_backfill``): Synapse-Link folders
  with ``model.json``, numbered ``N.csv`` files and a
  ``Changelog/changelog.info`` that names the folder still in progress.
- Blob parquet files (``blob_catchup``): one row per key per file, Zipf
  updates over existing keys plus fresh inserts.
- A curation corpus (``curation_batch``): ``documents.parquet`` and
  ``embeddings.parquet`` shaped like the registry's tables, with
  near-duplicate documents and vectors for the dedup queries to find.

Run as ``python -m perfbench.gen feed <args>`` this module is the trickle
feeder: a separate process that lands change sets on a fixed schedule and
logs when each one became visible.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

ENTITY = "account"
#: columns of the CDM entity before the mid-stream schema drift
CDM_COLUMNS = [
    ("Id", "guid"),
    ("name", "string"),
    ("balance", "decimal"),
    ("qty", "int64"),
    ("versionnumber", "int64"),
    ("IsDelete", "boolean"),
    ("SinkModifiedOn", "dateTime"),
]
#: the column a mid-stream ``model.json`` adds (T8 schema migration)
DRIFT_COLUMN = ("region", "string")

_WORDS = (
    "alpha beta gamma delta omega north south east west ridge harbor "
    "valley summit river cedar maple granite copper silver amber"
).split()
_REGIONS = ["emea", "apac", "amer", "latam", "anz"]
_EPOCH = datetime(2025, 9, 1, tzinfo=timezone.utc)


def folder_name(index: int) -> str:
    """Synapse folder names are UTC timestamps; one second per change set
    keeps lexicographic order equal to landing order."""
    return (_EPOCH + timedelta(seconds=index)).strftime("%Y-%m-%dT%H.%M.%SZ")


def _guid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _system_ts(epoch_s: int) -> str:
    """``SinkModifiedOn`` wire format: ``M/d/yyyy h:mm:ss a``."""
    d = datetime.fromtimestamp(epoch_s, tz=timezone.utc)
    hour = d.hour % 12 or 12
    ampm = "AM" if d.hour < 12 else "PM"
    return f"{d.month}/{d.day}/{d.year} {hour}:{d.minute:02d}:{d.second:02d} {ampm}"


def _name(rng: random.Random) -> str:
    a, b = rng.choice(_WORDS), rng.choice(_WORDS)
    # a tenth of the names carry a quoted comma, exercising the CSV quoting
    return f'"{a}, {b}"' if rng.random() < 0.1 else f"{a} {b}"


class _Zipf:
    """Zipf(s) sampler over a growing list of live keys (rank 0 hottest)."""

    def __init__(self, n: int, s: float = 1.1):
        self._cum = []
        acc = 0.0
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            self._cum.append(acc)

    def rank(self, rng: random.Random, n: int) -> int:
        hi = self._cum[min(n, len(self._cum)) - 1]
        return bisect.bisect_left(self._cum, rng.random() * hi)


@dataclass
class CdmStream:
    """Generator state for one CDM change stream: the live key set and the
    strictly increasing ``versionnumber``."""

    seed: int
    live: list[str] = field(default_factory=list)
    version: int = 0

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self.zipf = _Zipf(1 << 17)

    def _row(self, key: str, delete: bool, drift: bool) -> str:
        self.version += 1
        rng = self.rng
        cells = [
            key,
            _name(rng),
            f"{rng.randrange(0, 10_000_000) / 100:.2f}",
            str(rng.randrange(0, 1000)),
            str(self.version),
            "True" if delete else rng.choice(["False", ""]),
            _system_ts(1_756_684_800 + self.version),
        ]
        if drift:
            cells.append(rng.choice(_REGIONS))
        return ",".join(cells)

    def change_set(
        self, rows: int, insert_share: float, delete_share: float, drift: bool
    ) -> list[tuple[str, bool]]:
        """One change set as ``(csv_line, is_delete)``. Updates hit live keys
        Zipf-hot, so a set holds several versions of some keys; a deleted
        key's delete is its last version in the set and it leaves the live
        set; inserts mint new keys."""
        rng = self.rng
        out: list[tuple[str, bool]] = []
        deleted: set[str] = set()
        for _ in range(rows):
            u = rng.random()
            if u < insert_share or len(self.live) < 2:
                key = _guid(rng)
                self.live.append(key)
                out.append((self._row(key, False, drift), False))
                continue
            idx = self.zipf.rank(rng, len(self.live))
            key = self.live[-1 - idx]
            if key in deleted:
                continue
            delete = u < insert_share + delete_share
            out.append((self._row(key, delete, drift), delete))
            if delete:
                deleted.add(key)
        if deleted:
            self.live = [k for k in self.live if k not in deleted]
        return out


def model_json(drift: bool) -> str:
    cols = CDM_COLUMNS + ([DRIFT_COLUMN] if drift else [])
    return json.dumps(
        {
            "name": "cdm",
            "version": "1.0",
            "entities": [
                {
                    "name": ENTITY,
                    "attributes": [{"name": n, "dataType": t} for n, t in cols],
                }
            ],
        },
        indent=1,
        sort_keys=True,
    )


def write_cdm_folder(
    root: str,
    index: int,
    rows: list[tuple[str, bool]],
    drift: bool,
    n_files: int = 4,
) -> int:
    """Write one change-set folder; returns the bytes written. Deletes go to
    ``1.csv`` (the reference applies the lowest-numbered file last), the
    rest round-robin over ``2.csv .. N.csv``."""
    folder = os.path.join(root, folder_name(index))
    ent = os.path.join(folder, ENTITY)
    os.makedirs(ent, exist_ok=True)
    files: list[list[str]] = [[] for _ in range(n_files)]
    for i, (line, delete) in enumerate(rows):
        files[0 if delete else 1 + i % (n_files - 1)].append(line)
    total = 0
    for n, lines in enumerate(files, start=1):
        data = "".join(l + "\n" for l in lines).encode()
        with open(os.path.join(ent, f"{n}.csv"), "wb") as f:
            f.write(data)
        total += len(data)
    model = model_json(drift).encode()
    with open(os.path.join(folder, "model.json"), "wb") as f:
        f.write(model)
    return total + len(model)


def set_in_progress(root: str, index: int) -> None:
    """Point ``Changelog/changelog.info`` at folder ``index``: every folder
    before it becomes visible to the source. Atomic rename, so a poll never
    reads half a pointer."""
    d = os.path.join(root, "Changelog")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, ".changelog.tmp")
    with open(tmp, "w") as f:
        f.write(f"blobs/{folder_name(index)}")
    os.replace(tmp, os.path.join(d, "changelog.info"))


@dataclass(frozen=True)
class TrickleSpec:
    base_rows: int = 10_000
    #: change sets merged before measuring, after the base load. Base plus
    #: warm sets stay under one maintenance period: the batch after a
    #: maintenance batch re-reads the compacted target and runs extra jobs,
    #: which the first measured batch must not inherit
    warm_sets: int = 2
    set_rows: int = 1_000
    insert_share: float = 0.10
    delete_share: float = 0.10


def feed(root: str, seed: int, spec: TrickleSpec, first: int, count: int,
         interval: float, drift_at: int, log_path: str, start_at: float) -> None:
    """Open-loop feeder. Change set ``first + i`` is due at
    ``start_at + i * interval`` (``time.monotonic`` clock, shared by every
    process on the host). Each folder is written while it is still the
    in-progress folder, then ``changelog.info`` advances past it at its due
    time (or as soon as possible when the feeder runs late). One JSON line
    per set records when it became visible."""
    s = CdmStream(seed)
    s.change_set(spec.base_rows, 1.0, 0.0, False)
    for i in range(1, first):
        s.change_set(spec.set_rows, spec.insert_share, spec.delete_share, i >= drift_at)
    with open(log_path, "a") as log:
        for k in range(count):
            index = first + k
            rows = s.change_set(
                spec.set_rows, spec.insert_share, spec.delete_share, index >= drift_at
            )
            nbytes = write_cdm_folder(root, index, rows, index >= drift_at)
            due = start_at + k * interval
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            set_in_progress(root, index + 1)
            visible = time.monotonic()
            log.write(json.dumps({
                "index": index, "folder": folder_name(index), "rows": len(rows),
                "bytes": nbytes, "due": due, "visible": visible,
            }) + "\n")
            log.flush()


# -- blob parquet backlog ----------------------------------------------------

BLOB_SCHEMA_DDL = "id BIGINT, name STRING, amount DOUBLE, qty BIGINT"


@dataclass
class BlobStream:
    """Keys are dense integers; updates draw Zipf ranks over existing keys
    (hot keys are the oldest), inserts extend the key range."""

    seed: int
    n_keys: int = 0

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self.zipf = _Zipf(1 << 19)

    def file_rows(self, rows: int, insert_share: float) -> list[tuple]:
        """One file's rows: one row per key (a file holding two rows for a
        key fails the merge with MERGE_CARDINALITY_VIOLATION, as in the
        reference)."""
        rng = self.rng
        seen: set[int] = set()
        out = []
        while len(out) < rows:
            if rng.random() < insert_share or self.n_keys == 0:
                key = self.n_keys
                self.n_keys += 1
            else:
                key = self.zipf.rank(rng, self.n_keys)
                if key in seen:
                    continue
            seen.add(key)
            out.append(
                (key, f"{rng.choice(_WORDS)}-{rng.randrange(1000)}",
                 rng.randrange(0, 10_000_000) / 100, rng.randrange(0, 1000))
            )
        return out


def write_blob_file(path: str, rows: list[tuple]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "id": pa.array(cols[0], pa.int64()),
            "name": pa.array(cols[1], pa.string()),
            "amount": pa.array(cols[2], pa.float64()),
            "qty": pa.array(cols[3], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# -- curation corpus ---------------------------------------------------------

_DOC_WORDS = (
    "a the data row column table key value part hash merge batch stream "
    "window join sort scan filter agg group order line query spark fast "
    "slow big small customer vector"
).split()
_LANGS = ["en"] * 9 + ["es"] * 3 + ["zh"] * 3 + ["de"] * 3 + ["fr"] * 3
EMBEDDING_DIM = 64
N_LABELS = 10


def _unit(v: list[float]) -> list[float]:
    norm = sum(x * x for x in v) ** 0.5 or 1.0
    return [x / norm for x in v]


def write_corpus(root: str, seed: int, docs: int, vectors: int) -> int:
    """``documents`` (doc_id, text, lang, source, n_chars) and
    ``embeddings`` (vec_id, 64-dim unit ``embedding``, label) under
    ``root``. About a tenth of the documents copy an earlier one with a
    few words changed and a twentieth of the vectors sit next to an
    earlier one, so the dedup queries have pairs to find. Returns the
    bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(docs):
        if texts and rng.random() < 0.1:
            words = rng.choice(texts).split()
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(rng.randrange(8, 90))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(_LANGS) for _ in range(docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = [[rng.gauss(0, 1) for _ in range(EMBEDDING_DIM)] for _ in range(N_LABELS)]
    vecs: list[list[float]] = []
    labels: list[int] = []
    for _ in range(vectors):
        if vecs and rng.random() < 0.05:
            j = rng.randrange(len(vecs))
            base, label, noise = vecs[j], labels[j], 0.01
        else:
            label = rng.randrange(N_LABELS)
            base, noise = centroids[label], 1.5
        vecs.append(_unit([x + rng.gauss(0, noise) for x in base]))
        labels.append(label)
    embeddings = pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in (("documents", documents), ("embeddings", embeddings)):
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


def _main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m perfbench.gen")
    sub = p.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("feed", help="land CDM change sets on a schedule")
    f.add_argument("--root", required=True)
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--first", type=int, required=True)
    f.add_argument("--count", type=int, required=True)
    f.add_argument("--interval", type=float, required=True)
    f.add_argument("--drift-at", type=int, required=True)
    f.add_argument("--log", required=True)
    f.add_argument("--start-at", type=float, required=True)
    a = p.parse_args(argv)
    feed(a.root, a.seed, TrickleSpec(), a.first, a.count, a.interval,
         a.drift_at, a.log, a.start_at)
    return 0


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1:]))
