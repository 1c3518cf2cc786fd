"""lakehouse table format — from-scratch snapshot-based parquet tables.

No Iceberg/Delta jars exist in this environment, so the lake layer the
north rule needs (atomic snapshots, MERGE INTO, schema evolution,
idempotent commits) is built from first principles on parquet + JSON
metadata — the same shape as the reference's storage engine:

- snapshot JSON  ≅ Tenzir catalog + partition synopses
  (libtenzir/src/catalog.cpp:71-86) ≅ Iceberg metadata/manifests
- data file entry with per-column min/max stats ≅ partition_synopsis
  (libtenzir/src/partition_synopsis.cpp) — used for scan-time pruning
- bucket-partitioned copy-on-write MERGE ≅ the importer's per-schema
  active partitions (libtenzir/src/index.cpp:650-670), with bucketing by
  key so an upsert rewrites only touched buckets
- optimistic O_EXCL snapshot commit ≅ Iceberg's atomic metadata swap;
  the embedded epoch ledger makes replays idempotent (exactly-once).

Layout::

    <root>/
      _meta/v00000001.json      # immutable snapshot files; latest = max N
      data/b=<bucket>/<uuid>.parquet

Scale notes: bucket count is fixed at table creation (tests use 8-16; a
100 TB table would use 4096+). All data paths stay in the JVM — Python
only manipulates metadata (file lists), which is O(files), not O(rows).
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_DIR = "_meta"
DATA_DIR = "data"


class CommitConflict(Exception):
    """Another writer committed the same snapshot version first."""


class ConcurrentMergeConflict(CommitConflict):
    """The buckets this commit replaces changed since the merge was
    computed — the merge result is stale and must be recomputed against
    the refreshed table (Iceberg-style conflict validation)."""


@dataclass
class DataFile:
    path: str  # relative to table root
    bucket: int
    rows: int
    schema_epoch: int  # index into schema_log at write time
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)  # col -> {min,max,nulls}
    kind: str = "base"  # "base" | "delta" (merge-on-read change file)

    def to_json(self) -> dict:
        return {"path": self.path, "bucket": self.bucket, "rows": self.rows,
                "schema_epoch": self.schema_epoch, "stats": self.stats,
                "kind": self.kind}

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["bucket"], d["rows"], d["schema_epoch"],
                        d.get("stats", {}), d.get("kind", "base"))


@dataclass
class Snapshot:
    version: int
    schema_json: dict  # Spark StructType json of the CURRENT schema
    schema_log: list[dict]  # ordered evolution ops: {op: add|rename|widen, ...}
    files: list[DataFile]
    num_buckets: int
    key_col: str
    ledger: dict[str, dict]  # str(epoch) -> {rows_applied, lsn_watermark, committed_at}
    properties: dict[str, str] = field(default_factory=dict)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "schema": self.schema_json,
            "schema_log": self.schema_log,
            "files": [f.to_json() for f in self.files],
            "num_buckets": self.num_buckets,
            "key_col": self.key_col,
            "ledger": self.ledger,
            "properties": self.properties,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            version=d["version"],
            schema_json=d["schema"],
            schema_log=d.get("schema_log", []),
            files=[DataFile.from_json(f) for f in d["files"]],
            num_buckets=d["num_buckets"],
            key_col=d["key_col"],
            ledger=d.get("ledger", {}),
            properties=d.get("properties", {}),
        )


def _meta_path(root: str, version: int, io: "LocalFileIO | None" = None) -> str:
    return (io or DEFAULT_IO).join(root, META_DIR, f"v{version:08d}.json")


class LocalFileIO:
    """Filesystem seam for the lake's METADATA operations: list, read,
    atomic conditional put. All bulk data moves through Spark (which
    already speaks s3a/gs/hdfs) — only this O(files) metadata layer needs
    a per-store backend, exactly like Iceberg's FileIO abstraction.

    Backend contract for ``put_if_absent``: publish-or-fail atomically.
    - local fs: fsynced temp + hard link (EEXIST -> conflict)
    - S3: PUT with If-None-Match:* (or a DynamoDB/catalog CAS)
    - HDFS: create() with overwrite=false
    """

    def join(self, *parts: str) -> str:
        """Path composition through the seam — an object-store backend
        joins with '/' regardless of host OS."""
        return os.path.join(*parts)

    def relpath(self, path: str, start: str) -> str:
        """Inverse of join: path relative to a root. Object-store
        backends strip the '<start>/' prefix."""
        return os.path.relpath(path, start)

    def normpath(self, path: str) -> str:
        """Canonical form for path identity comparisons (GC's
        referenced-file set). Object-store keys are already canonical —
        a backend may return the path unchanged."""
        return os.path.normpath(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    def open_read(self, path: str):
        """Binary file-like for footer reads (pyarrow accepts it)."""
        return open(path, "rb")

    def put_if_absent(self, path: str, data: bytes) -> None:
        """Atomically create ``path`` with ``data``; CommitConflict if it
        already exists. The temp file is fully written and fsynced before
        the link, so a reader can never observe a partial file."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(f"{path} already exists")
        finally:
            os.unlink(tmp)

    def put(self, path: str, data: bytes) -> None:
        with open(path, "wb") as fh:
            fh.write(data)

    def put_atomic(self, path: str, data: bytes) -> None:
        """Publish ``path`` atomically, overwriting any previous content —
        a reader sees either the old or the new complete file, never a
        torn one (checkpoint files; S3: plain PUT is already atomic)."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def open_write(self, path: str):
        """Streaming binary writer for driver-side single-file assembly
        (the copyMerge shape used by the one-stream format printers).
        Object-store backends return a multipart-upload stream."""
        return open(path, "wb")

    def delete_dir(self, path: str) -> None:
        """Recursive delete of a temporary part-file directory."""
        import shutil
        shutil.rmtree(path, ignore_errors=True)

    def mtime(self, path: str) -> float:
        """Last-modified epoch seconds (object stores: the object's
        LastModified). Used by GC's orphan-file grace window."""
        return os.path.getmtime(path)

    def size(self, path: str) -> int:
        """File size in bytes (object stores: ContentLength). Used by
        the disk-budget purge's footprint accounting."""
        return os.path.getsize(path)

    def walk_files(self, path: str) -> list[str]:
        out = []
        for dirpath, _dirs, names in os.walk(path):
            out.extend(os.path.join(dirpath, n) for n in names)
        return sorted(out)


DEFAULT_IO = LocalFileIO()


def write_snapshot_atomic(root: str, snap: Snapshot, io: LocalFileIO | None = None) -> None:
    """Atomic, conflict-detecting snapshot publish — optimistic
    concurrency exactly like Iceberg's metadata swap, through the FileIO
    seam (put_if_absent)."""
    io = io or DEFAULT_IO
    path = _meta_path(root, snap.version, io)
    try:
        io.put_if_absent(path, json.dumps(snap.to_json()).encode("utf-8"))
    except CommitConflict:
        raise CommitConflict(f"snapshot v{snap.version} already committed")


def snapshot_at(root: str, version: int, io: LocalFileIO | None = None) -> Snapshot:
    """Load an EXACT snapshot version — time travel (Iceberg
    snapshot-id reads; the reference keeps no history, this is a lake
    capability). Snapshots are immutable once published, so any
    committed version stays readable until a GC policy removes it."""
    io = io or DEFAULT_IO
    return Snapshot.from_json(json.loads(io.read_bytes(_meta_path(root, version, io))))


def latest_snapshot(root: str, io: LocalFileIO | None = None) -> Snapshot | None:
    io = io or DEFAULT_IO
    meta = io.join(root, META_DIR)
    if not io.is_dir(meta):
        return None
    versions = sorted(
        int(n[1:9]) for n in io.list(meta)
        if n.startswith("v") and n.endswith(".json")
    )
    if not versions:
        return None
    # defensively skip unparsable snapshot files (e.g. external tooling
    # damage) — commits publish atomically, so a valid one always exists
    for v in reversed(versions):
        try:
            return Snapshot.from_json(json.loads(io.read_bytes(_meta_path(root, v, io))))
        except (json.JSONDecodeError, KeyError):
            continue
    return None


def bucket_expr(key_col: str, num_buckets: int):
    """Deterministic bucket id for a key — xxhash64 like Iceberg's
    bucket transform. Used identically at write and merge time so changed
    keys route to the same bucket. ``string_bucket`` is its driver-side
    twin for string keys; the two must agree."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int — what Spark's
    ``xxhash64`` returns for one string column (its bytes, seed 42)."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64
        v3, v4 = seed & _M64, (seed - _P1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def string_bucket(key: str, num_buckets: int) -> int:
    """The bucket ``bucket_expr`` assigns to the string ``key``, computed
    on the driver without a Spark job. The two must agree: point reads
    prune files by this value, so a mismatch silently drops rows. Only
    valid for a plain ``StringType`` key column (Spark hashes its UTF-8
    bytes); other types hash their physical representation."""
    return xxhash64(key.encode("utf-8")) % num_buckets


def collect_stats(df: DataFrame, stat_cols: list[str]) -> DataFrame:
    """Per-bucket min/max/null stats in one aggregate pass (JVM-side)."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    return df.groupBy("__bucket").agg(*aggs)
