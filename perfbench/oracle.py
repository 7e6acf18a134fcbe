"""Independent oracles: the expected target recomputed straight from the
generated files with DuckDB, and the comparison every run makes.

A CDC target is checked on row count, an order-independent hash of its
rows and the absence of duplicate ``ARCANE_MERGE_KEY`` values. A curation
query's result is checked against its registry ``oracle_sql()`` twin on
column names, row count and an order-independent hash.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal

from perfbench.gen import CDM_COLUMNS, DRIFT_COLUMN, ENTITY, folder_name

#: target columns compared for the CDM workloads, in order
CDM_CHECK_COLUMNS = [
    "ARCANE_MERGE_KEY", "Id", "name", "balance", "qty", "versionnumber",
    "SinkModifiedOn", "region",
]
#: target columns compared for the blob workload, in order
BLOB_CHECK_COLUMNS = ["ARCANE_MERGE_KEY", "id", "name", "amount", "qty"]


def _cell(v) -> str:
    """Canonical text of one cell: the compared columns are strings,
    integers and doubles, both sides as Python values."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


@dataclass(frozen=True)
class Digest:
    rows: int
    hash: str
    duplicate_keys: int

    def matches(self, other: "Digest") -> bool:
        return (self.rows, self.hash) == (other.rows, other.hash) and (
            self.duplicate_keys == other.duplicate_keys == 0
        )


def digest(rows, key_index: int = 0) -> Digest:
    """Row count, order-independent hash (sum of per-row md5 prefixes mod
    2^64) and number of key values seen more than once."""
    acc = 0
    keys: set = set()
    dups = 0
    n = 0
    for r in rows:
        n += 1
        line = "|".join(_cell(v) for v in r)
        acc = (acc + int(hashlib.md5(line.encode()).hexdigest()[:16], 16)) % (1 << 64)
        k = r[key_index]
        if k in keys:
            dups += 1
        keys.add(k)
    return Digest(n, f"{acc:016x}", dups)


def _csv_columns(drift: bool) -> dict:
    cols = CDM_COLUMNS + ([DRIFT_COLUMN] if drift else [])
    return {n: "VARCHAR" for n, _ in cols}


def cdm_expected(root: str, indices: list[int], drift_at: int | None = None) -> Digest:
    """Latest version per ``Id`` over the given change-set folders, delete
    tombstones removed, the drift column NULL where the latest version
    predates it. ``drift_at`` is the first folder index whose model carries
    the drift column (None: no drift)."""
    import duckdb

    con = duckdb.connect()
    parts = []
    for drift in (False, True):
        files = [
            os.path.join(root, folder_name(i), ENTITY, "*.csv")
            for i in indices
            if (drift_at is not None and i >= drift_at) == drift
        ]
        if not files:
            continue
        region = "region" if drift else "CAST(NULL AS VARCHAR) AS region"
        cols = ", ".join(f"'{k}': '{v}'" for k, v in _csv_columns(drift).items())
        parts.append(
            f"SELECT Id, name, balance, qty, versionnumber, IsDelete, "
            f"SinkModifiedOn, {region} FROM read_csv({files!r}, header=false, "
            f"quote='\"', escape='\"', auto_detect=false, columns={{{cols}}})"
        )
    sql = f"""
        WITH raw AS ({' UNION ALL '.join(parts)}),
        latest AS (
            SELECT *, row_number() OVER (
                PARTITION BY Id ORDER BY CAST(versionnumber AS BIGINT) DESC) AS rn
            FROM raw)
        SELECT Id AS ARCANE_MERGE_KEY, Id, name, CAST(balance AS DOUBLE),
               CAST(qty AS BIGINT), CAST(versionnumber AS BIGINT),
               CAST(epoch(strptime(SinkModifiedOn, '%-m/%-d/%Y %-I:%M:%S %p')) AS BIGINT),
               region
        FROM latest
        WHERE rn = 1 AND coalesce(IsDelete, 'False') <> 'True'
    """
    try:
        return digest(con.execute(sql).fetchall())
    finally:
        con.close()


def cdm_actual(df) -> Digest:
    """Digest of an engine target in :data:`CDM_CHECK_COLUMNS` order."""
    import pyspark.sql.functions as F

    cols = []
    for c in CDM_CHECK_COLUMNS:
        if c == "SinkModifiedOn":
            cols.append(F.unix_timestamp(c).alias(c))
        elif c not in df.columns:
            cols.append(F.lit(None).cast("string").alias(c))
        else:
            cols.append(F.col(c))
    return digest(tuple(r) for r in df.select(*cols).toLocalIterator())


def blob_expected(files: list[str]) -> Digest:
    """Latest row per ``id`` over parquet files given in landing order (one
    row per key per file, so the last file holding a key wins); the merge
    key recomputed as base64(sha256(lower(id)))."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TEMP TABLE landed (path VARCHAR, ord INTEGER)")
        con.executemany("INSERT INTO landed VALUES (?, ?)", [(f, i) for i, f in enumerate(files)])
        sql = f"""
            WITH raw AS (
                SELECT r.*, l.ord FROM read_parquet({files!r}, filename=true) r
                JOIN landed l ON r.filename = l.path),
            latest AS (
                SELECT *, row_number() OVER (PARTITION BY id ORDER BY ord DESC) AS rn
                FROM raw)
            SELECT to_base64(from_hex(sha256(lower(CAST(id AS VARCHAR))))),
                   id, name, amount, qty
            FROM latest WHERE rn = 1
        """
        return digest(con.execute(sql).fetchall())
    finally:
        con.close()


def blob_actual(df) -> Digest:
    return digest(tuple(r) for r in df.select(*BLOB_CHECK_COLUMNS).toLocalIterator())


# -- curation queries --------------------------------------------------------


def _canon(v) -> str:
    """Canonical text of one query-result cell, the way the registry's
    parity gate canonicalizes it (numpy scalars and arrays first become
    Python values)."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


@dataclass(frozen=True)
class QueryDigest:
    columns: tuple[str, ...]
    rows: int
    hash: str

    def matches(self, other: "QueryDigest") -> bool:
        return self == other


def query_digest(rows, columns: list[str]) -> QueryDigest:
    """Sorted column names, row count and an order-independent hash of
    the rows with their cells in sorted-column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for r in rows:
        n += 1
        line = "|".join(_canon(r[i]) for i in order)
        acc = (acc + int(hashlib.md5(line.encode()).hexdigest()[:16], 16)) % (1 << 64)
    return QueryDigest(tuple(sorted(columns)), n, f"{acc:016x}")


def curation_expected(corpus: str, sql: dict[str, str]) -> dict[str, QueryDigest]:
    """Each query's ``oracle_sql()`` twin run by DuckDB over the generated
    ``documents`` and ``embeddings``, fetched through pandas as the
    registry's parity gate fetches it."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        out = {}
        for name, q in sql.items():
            df = con.execute(q).df()
            out[name] = query_digest(df.itertuples(index=False, name=None), list(df.columns))
        return out
    finally:
        con.close()
