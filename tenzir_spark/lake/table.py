"""LakeTable — bucketed copy-on-write table with MERGE, schema evolution,
and an exactly-once epoch ledger. See format.py for the on-disk layout.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake.format import (
    DATA_DIR,
    DEFAULT_IO,
    CommitConflict,
    ConcurrentMergeConflict,
    DataFile,
    LocalFileIO,
    Snapshot,
    bucket_expr,
    latest_snapshot,
    string_bucket,
    write_snapshot_atomic,
)

try:
    import pyarrow.parquet as pq
except ImportError:  # pragma: no cover
    pq = None

CHECKPOINT_DIR = "_checkpoints"

_WIDEN_OK = {
    ("int", "bigint"), ("int", "double"), ("bigint", "double"),
    ("float", "double"), ("int", "decimal(20,0)"), ("bigint", "decimal(20,0)"),
    ("string", "string"),
}


def _distribute_by_bucket(df: DataFrame, nb: int) -> DataFrame:
    """Hash-distribute rows by their __b bucket column ahead of the
    partitionBy write. TENZIR_SPARK_WRITE_FANOUT picks the strategy:
    0 (default) forces EXACTLY nb partitions — an explicit count, which
    AQE respects, so the write (and any post-dedup Python UDF fused into
    this stage) spreads over ~nb tasks instead of the single task AQE's
    advisory-size coalescing collapses a small survivor set into (the
    round-5 stage profile measured that collapse as a flat 2.5 s
    single-task tail at EVERY width — a pure Amdahl term that alone cost
    ~0.05 N->4N scaling efficiency). File count stays <=nb (partitionBy
    splits by __b inside each task). N>0 forces nb*N partitions — more
    write parallelism per bucket at the cost of N files/bucket (the
    earlier A/B measured nb*8 per-epoch as strictly worse: 86 s vs 25 s
    per 16M-event apply — tiny-file explosion); -1 restores pure-AQE
    coalescing."""
    fanout = int(os.environ.get("TENZIR_SPARK_WRITE_FANOUT", "0"))
    if fanout > 0:
        return df.repartition(nb * fanout, F.col("__b"))
    if fanout < 0:
        return df.repartition(F.col("__b"))
    return df.repartition(nb, F.col("__b"))


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, snapshot: Snapshot,
                 io: LocalFileIO | None = None):
        self.spark = spark
        self.root = root
        self.snapshot = snapshot
        # FileIO seam: all O(files) metadata I/O (snapshot list/read/
        # conditional-put, data-file listing, checkpoint writes) goes
        # through this object so an object-store backend is a swap here,
        # not a rewrite — Iceberg's FileIO shape. Bulk data always moves
        # through Spark, which speaks s3a/gs natively.
        self.io = io or DEFAULT_IO

    # ------------------------------------------------------------------ ctor

    @classmethod
    def create(cls, spark: SparkSession, root: str, schema: T.StructType,
               key_col: str, num_buckets: int = 16,
               write_mode: str = "cow", io: LocalFileIO | None = None) -> "LakeTable":
        """``write_mode``:

        - ``cow`` (copy-on-write): merge rewrites touched buckets; reads
          are plain scans. Best for read-heavy tables / low change rates.
        - ``mor`` (merge-on-read): merge appends per-bucket DELTA files
          (no target read, no join — pure bucketed append), readers
          resolve max-lsn per key at scan time, compaction folds deltas
          into base files. The correct mode for high-rate CDC at 10^10
          events — write amplification drops from O(table) to O(batch)
          per epoch (Iceberg MoR / LSM semantics).
        """
        if write_mode not in ("cow", "mor"):
            raise ValueError("write_mode must be 'cow' or 'mor'")
        io = io or DEFAULT_IO
        io.makedirs(io.join(root, "_meta"))
        io.makedirs(io.join(root, DATA_DIR))
        if key_col not in schema.fieldNames():
            raise ValueError(f"key column {key_col!r} not in schema")
        snap = Snapshot(
            version=1, schema_json=schema.jsonValue(), schema_log=[],
            files=[], num_buckets=num_buckets, key_col=key_col, ledger={},
            properties={"created_at": str(time.time()), "write_mode": write_mode},
        )
        write_snapshot_atomic(root, snap, io)
        return cls(spark, root, snap, io)

    @property
    def mode(self) -> str:
        return self.snapshot.properties.get("write_mode", "cow")

    @classmethod
    def load(cls, spark: SparkSession, root: str,
             io: LocalFileIO | None = None,
             version: int | None = None) -> "LakeTable":
        """Open the table at the latest snapshot, or time-travel to an
        exact ``version`` (snapshots are immutable; Iceberg
        snapshot-id-read semantics)."""
        io = io or DEFAULT_IO
        if version is not None:
            from tenzir_spark.lake.format import snapshot_at
            return cls(spark, root, snapshot_at(root, version, io), io)
        snap = latest_snapshot(root, io)
        if snap is None:
            raise FileNotFoundError(f"no lake table at {root}")
        return cls(spark, root, snap, io)

    def refresh(self) -> "LakeTable":
        self.snapshot = latest_snapshot(self.root, self.io)
        return self

    # ------------------------------------------------------------------ read

    def _align(self, df: DataFrame, schema_epoch: int) -> DataFrame:
        """Bring a file written at ``schema_epoch`` up to the current
        schema: replay renames recorded after it, add missing columns as
        typed nulls, cast widened columns.

        This is the reference's record-cast lattice (new fields -> null,
        widening casts; libtenzir/include/tenzir/cast.hpp:387-499) applied
        lazily at read time — the Iceberg read-with-current-schema model.
        """
        for op in self.snapshot.schema_log[schema_epoch:]:
            if op["op"] == "rename" and op["from"] in df.columns:
                df = df.withColumnRenamed(op["from"], op["to"])
        cur = self.snapshot.schema
        cols = []
        for fld in cur.fields:
            if fld.name in df.columns:
                cols.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
            else:
                cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
        if self.mode == "mor":
            # MoR internals (resolution metadata)
            cols.append((F.col("__lsn") if "__lsn" in df.columns
                         else F.lit(-1).cast("long")).alias("__lsn"))
            cols.append((F.col("__op") if "__op" in df.columns
                         else F.lit("upsert")).alias("__op"))
        return df.select(*cols)

    def read(self, buckets: list[int] | None = None,
             key_range: tuple | None = None, resolve: bool = True) -> DataFrame:
        """Scan the table at the current snapshot.

        ``buckets`` restricts to the given bucket ids (metadata-only file
        pruning, zero I/O for the rest — the catalog-synopsis behavior of
        export.cpp:56-107). ``key_range=(lo,hi)`` additionally prunes by
        per-file key min/max stats. A point lookup (``lo == hi``) on a
        plain string key also keeps only the key's bucket, since the
        bucket is an exact synopsis of the key; range lookups and other
        key types prune by min/max only, because hash buckets scatter a
        range and a non-string key hashes by its physical written type.

        Construction submits no schema-inference job: each schema epoch's
        files are read with the Spark schema recorded in the first file's
        footer. (Spark still lists more than 32 paths of one epoch with a
        parallel-listing job.)

        In MoR mode, base + delta files are combined and resolved to one
        row per key (max __lsn wins, deletes drop) unless ``resolve=False``
        (internal/compaction use — returns raw rows incl. __lsn/__op).
        """
        files, kc, cur = self.snapshot.files, self.snapshot.key_col, self.snapshot.schema
        bset = None if buckets is None else set(buckets)
        if (key_range is not None and key_range[0] == key_range[1]
                and isinstance(key_range[0], str) and kc in cur.fieldNames()
                and cur[kc].dataType == T.StringType()):
            point = string_bucket(key_range[0], self.snapshot.num_buckets)
            bset = {point} if bset is None else bset & {point}
        if bset is not None:
            files = [f for f in files if f.bucket in bset]
        if key_range is not None:
            lo, hi = key_range
            kept = []
            for f in files:
                st = f.stats.get(kc)
                if st is None or st.get("min") is None:
                    kept.append(f)
                elif not (hi < st["min"] or lo > st["max"]):
                    kept.append(f)
            files = kept
        if not files:
            # typed empty relation without the slow createDataFrame path
            cols = [F.lit(None).cast(f.dataType).alias(f.name) for f in cur.fields]
            if self.mode == "mor" and not resolve:
                cols += [F.lit(-1).cast("long").alias("__lsn"), F.lit("upsert").alias("__op")]
            return self.spark.range(0).select(*cols)
        by_epoch: dict[int, list[str]] = {}
        for f in files:
            by_epoch.setdefault(f.schema_epoch, []).append(self.io.join(self.root, f.path))
        parts = []
        for epoch, paths in sorted(by_epoch.items()):
            schema = _footer_schema(paths[0], self.io)
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            parts.append(self._align(reader.parquet(*paths), epoch))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if self.mode == "mor" and resolve:
            if any(f.kind == "delta" for f in files):
                out = self._resolve(out)
            else:
                # fully compacted: base files hold one live row per key
                out = out.filter(F.col("__op") != "delete").drop("__lsn", "__op")
        return out

    def _resolve(self, raw: DataFrame) -> DataFrame:
        """MoR read-time resolution: one row per key (max __lsn), deletes
        dropped. Hash aggregate with partial (map-side) aggregation — the
        skew-safe shape (see operators.deduplicate)."""
        key = self.snapshot.key_col
        others = [c for c in raw.columns if c != key]
        row = F.max_by(F.struct(*[F.col(c) for c in others]), F.col("__lsn"))
        out = raw.groupBy(key).agg(row.alias("__r"))
        out = out.select(key, *[F.col(f"__r.{c}").alias(c) for c in others])
        return out.filter(F.col("__op") != "delete").drop("__lsn", "__op")

    def row_count(self) -> int:
        return sum(f.rows for f in self.snapshot.files)

    # --------------------------------------------------------- schema change

    def alter(self, ops: list[dict]) -> None:
        """Transactional schema evolution: add / rename / widen.

        ops like ``{"op":"add","name":"tags","type":"string"}``,
        ``{"op":"rename","from":"lang","to":"language"}``,
        ``{"op":"widen","name":"n","type":"bigint"}``. Metadata-only —
        existing files are re-interpreted at read time via _align().

        Concurrent commits are handled by refresh-and-retry: the ops are
        idempotent against an already-evolved schema (re-adds and
        completed renames skip), so replaying them on the refreshed
        snapshot converges — the north rule's "schema evolution racing
        concurrent commits" case (SURVEY §7 hard part 5).
        """
        for _ in range(20):
            try:
                return self._alter_once(ops)
            except CommitConflict:
                self.refresh()
        raise CommitConflict("exhausted alter retries")

    def _alter_once(self, ops: list[dict]) -> None:
        snap = self.snapshot
        fields = {f.name: f for f in snap.schema.fields}
        new_fields = list(snap.schema.fields)
        applied = []
        for op in ops:
            if op["op"] == "add":
                if op["name"] in fields:
                    continue  # idempotent re-apply
                dt = _parse_type(op["type"])
                new_fields.append(T.StructField(op["name"], dt, True))
                fields[op["name"]] = new_fields[-1]
            elif op["op"] == "rename":
                if op["from"] not in fields:
                    if op["to"] in fields:
                        continue  # already applied
                    raise ValueError(f"rename: unknown column {op['from']!r}")
                new_fields = [
                    T.StructField(op["to"], f.dataType, f.nullable)
                    if f.name == op["from"] else f for f in new_fields
                ]
                fields = {f.name: f for f in new_fields}
            elif op["op"] == "widen":
                old = fields[op["name"]].dataType.simpleString()
                new = op["type"]
                if old != new and (old, new) not in _WIDEN_OK:
                    raise ValueError(f"illegal widen {old} -> {new} for {op['name']}")
                dt = _parse_type(new)
                new_fields = [
                    T.StructField(f.name, dt, f.nullable)
                    if f.name == op["name"] else f for f in new_fields
                ]
                fields = {f.name: f for f in new_fields}
            else:
                raise ValueError(f"unknown schema op {op!r}")
            applied.append(op)
        if not applied:
            return
        new_snap = Snapshot(
            version=snap.version + 1,
            schema_json=T.StructType(new_fields).jsonValue(),
            schema_log=snap.schema_log + applied,
            files=snap.files, num_buckets=snap.num_buckets,
            key_col=snap.key_col, ledger=snap.ledger,
            properties=snap.properties,
        )
        write_snapshot_atomic(self.root, new_snap, self.io)
        self.snapshot = new_snap

    # ------------------------------------------------------------------ write

    def append(self, df: DataFrame) -> None:
        """Bulk load (initial snapshot population)."""
        if self.mode == "mor":
            df = df.withColumn("__lsn", F.lit(-1).cast("long")) \
                   .withColumn("__op", F.lit("upsert"))
        self._commit_files(self._write_bucketed(df), replace_buckets=None, epoch=None,
                           epoch_stats=None)

    def merge(self, changes: DataFrame, epoch: int | str,
              op_col: str = "op", lsn_col: str = "lsn",
              pre_deduplicated: bool = True,
              post_dedup=None) -> dict:
        """MERGE INTO under the exactly-once protocol.

        ``changes`` must hold one row per key (pre-deduplicated, e.g. by
        operators.deduplicate max-lsn) with columns: key, ``op_col`` in
        insert|update|delete|upsert, ``lsn_col``, plus the current table
        payload columns. Copy-on-write at bucket granularity: only buckets
        containing changed keys are rewritten; files of untouched buckets
        carry over by reference.

        Returns the ledger entry. If ``epoch`` is already in the ledger the
        call is a no-op (idempotent replay — the north rule's
        (checkpoint_epoch, partition_id) convergence quarantee comes from
        the ledger plus the atomic snapshot swap).
        """
        key = self.snapshot.key_col
        ek = str(epoch)
        if ek in self.snapshot.ledger:
            return {**self.snapshot.ledger[ek], "skipped": True}

        if self.mode == "mor":
            return self._merge_mor(changes, ek, op_col, lsn_col,
                                   pre_deduplicated, post_dedup)
        if not pre_deduplicated:
            from tenzir_spark.operators.limit import deduplicate as _dedup
            changes = _dedup(changes, self.snapshot.key_col, lsn_col)
        if post_dedup is not None:
            changes = post_dedup(changes)

        nb = self.snapshot.num_buckets
        changes = changes.withColumn("__bucket", bucket_expr(key, nb))
        # cache: the change set feeds (a) the stats collect and (b) the
        # merge join — without this the dedup + UDF lineage runs twice
        changes = changes.persist()
        # one try owns the persist: the stats collect, the empty-epoch
        # early return, and the merge loop all release it on every path
        # (an exception in the collect or a `return` must not leak blocks)
        try:
            # small collect: epoch-level apply stats + touched bucket ids
            agg = changes.groupBy().agg(
                F.collect_set("__bucket").alias("buckets"),
                F.count(F.lit(1)).alias("rows"),
                F.max(lsn_col).alias("watermark"),
            ).collect()[0]
            touched = sorted(agg["buckets"] or [])
            if not touched:
                entry = {"rows_applied": 0, "lsn_watermark": None,
                         "committed_at": time.time()}
                self._commit_files([], replace_buckets=[], epoch=ek,
                                   epoch_stats=entry)
                return entry

            payload_cols = [f.name for f in self.snapshot.schema.fields]
            ch = changes.select(
                F.col(key).alias("__k"),
                F.col(op_col).alias("__op"),
                *[F.col(c).alias(f"__c_{c}") for c in payload_cols if c != key],
            )
            entry = {"rows_applied": int(agg["rows"]),
                     "lsn_watermark": int(agg["watermark"]) if agg["watermark"] is not None else None,
                     "committed_at": time.time()}
            for _ in range(5):
                # the merge is computed against base's file set; commit
                # validates those buckets are unchanged and we recompute
                # against the refreshed table otherwise — no concurrent
                # writer's files are ever silently dropped
                base = self.snapshot
                target = self.read(buckets=touched)
                joined = target.join(ch, target[key] == ch["__k"], "full_outer")
                is_change = F.col("__k").isNotNull()
                is_delete = is_change & (F.col("__op") == "delete")
                merged = joined.filter(~F.coalesce(is_delete, F.lit(False))).select(
                    F.when(is_change, F.col("__k")).otherwise(F.col(key)).alias(key),
                    *[
                        F.when(is_change, F.col(f"__c_{c}")).otherwise(F.col(c)).alias(c)
                        for c in payload_cols if c != key
                    ],
                )
                new_files = self._write_bucketed(merged, only_buckets=touched)
                try:
                    self._commit_files(new_files, replace_buckets=touched, epoch=ek,
                                       epoch_stats=entry, base_files=base.files)
                    break
                except ConcurrentMergeConflict:
                    self.refresh()
                    if ek in self.snapshot.ledger:
                        return {**self.snapshot.ledger[ek], "skipped": True}
            else:
                raise ConcurrentMergeConflict(
                    "exhausted merge recompute retries for epoch " + ek)
        finally:
            changes.unpersist()
        self._write_checkpoints(ek, new_files, entry)
        return entry

    def _merge_mor(self, changes: DataFrame, ek: str, op_col: str, lsn_col: str,
                   pre_deduplicated: bool = True, post_dedup=None) -> dict:
        new_files, entry = self._prepare_mor(changes, op_col, lsn_col,
                                             pre_deduplicated, post_dedup)
        return self.merge_commit(ek, new_files, entry)

    def merge_commit(self, ek: str, new_files: list[DataFile], entry: dict) -> dict:
        """Publish a prepared MoR delta: ledger entry + snapshot swap +
        lineage checkpoint. Split from _prepare_mor so a pipelined tail
        (CdcEngine.run) can PREPARE several epochs concurrently while
        committing strictly in epoch order — the per-epoch serial driver
        work (job scheduling, footer stats) overlaps with the next
        epoch's scan instead of serializing the whole apply
        (BASELINE.md's Amdahl term)."""
        return self.merge_commit_batch([ek], new_files, entry)[ek]

    def merge_commit_batch(self, eks: list[str], new_files: list[DataFile],
                           entry: dict) -> dict[str, dict]:
        """Publish ONE prepared MoR delta that covers a contiguous run of
        epochs (CdcEngine's backlog coalescing): every epoch key lands in
        the ledger in the SAME atomic snapshot swap, so exactly-once
        resume sees all-or-nothing — a replay of any constituent epoch
        short-circuits. Non-final epochs carry zero rows_applied and a
        ``coalesced_into`` pointer to the epoch whose entry owns the
        batch stats (the union's survivors aren't attributable per epoch
        after cross-epoch max-lsn dedup, and inventing a split would be
        fake lineage). The shared lsn_watermark is truthful: the batch
        commits atomically, so table state reflects the full range."""
        ts = entry.get("committed_at", time.time())
        entries: dict[str, dict] = {}
        for ek in eks[:-1]:
            entries[ek] = {"rows_applied": 0,
                           "lsn_watermark": entry.get("lsn_watermark"),
                           "committed_at": ts,
                           "coalesced_into": eks[-1]}
        last = dict(entry)
        if len(eks) > 1:
            last["coalesced"] = len(eks)
        entries[eks[-1]] = last
        self._commit_files(new_files, replace_buckets=None, epoch=None,
                           epoch_stats=None, ledger_entries=entries)
        self._write_checkpoints(eks[-1], new_files, last)
        return entries

    def _prepare_mor(self, changes: DataFrame, op_col: str, lsn_col: str,
                     pre_deduplicated: bool = True, post_dedup=None,
                     schema_fields: list | None = None,
                     schema_epoch: int | None = None,
                     key_est: int | None = None,
                     rows_est: int | None = None) -> tuple[list[DataFile], dict]:
        """Merge-on-read apply: the epoch's heavy shuffle carries only
        per-partition dedup SURVIVORS, never raw duplicates.

        ``schema_fields``/``schema_epoch`` freeze the schema view the
        delta is shaped against — under a pipelined tail a LATER epoch's
        ALTER may already be live on the table while this epoch's job
        runs, and files must be tagged with the schema they actually
        contain so _align replays exactly the right rename/add suffix.

        With ``pre_deduplicated=False`` the max-lsn dedup picks one of
        two plans by the batch's (estimated) distinct-key count:

        * **broadcast two-pass** (attempted when the batch's footer row
          count ``rows_est`` is bounded — default <=512M rows, env
          TENZIR_SPARK_CDC_EXACT_MAX_ROWS — or an HLL ``key_est`` says
          the key set is small, default <=1M keys / ~64 MB): pass 1
          aggregates max(lsn) per key — a FIXED-WIDTH agg buffer that
          updates in place, ~4x cheaper per row than copying a payload
          struct — capped at max_bcast+1 rows and EAGERLY
          localCheckpointed, so the exact key count is read off the
          materialized frame (r6: replaces the per-run HLL estimate
          job) and the broadcast build never recomputes the aggregate.
          Pass 2 re-scans the batch with a broadcast left-semi join on
          (key, lsn), keeping survivors with their payload pipelined
          straight into the bucket repartition. Before the join, rows
          with ``lsn < min over keys of max(lsn)`` are dropped — an
          always-correct superset filter (every survivor's lsn is its
          key's max, hence >= the smallest such max) that reaches the
          parquet scan as a pushed predicate: on an lsn-ordered log
          (any WAL) it prunes whole row groups — 94.7% of the bench
          log's rows never decode (64M -> 3.4M). No payload-carrying
          shuffle AT ALL: the only exchange is the tiny pass-1 agg.
          Requires lsn to be unique per key within the batch (a WAL
          position — the log contract).
        * **struct max_by fallback** (no bound at all, or the
          checkpointed pass 1 overflows max_bcast — the 10^10-scale
          regime where a batch touches hundreds of millions of urls):
          groupBy(__bucket, key) with a map-side partial aggregate, so
          hot keys (Zipf domains) collapse to one row per input
          partition BEFORE the exchange — the north rule's skew defense
          for free — and only survivors shuffle.

        Both paths end with an EXPLICIT nb-partition repartition (see
        _distribute_by_bucket) so the post-dedup text UDF and the
        parquet write spread over ~nb tasks.

        No target read, no join against the table; rows_applied and the
        lsn watermark come from the parquet footers of the files just
        written."""
        if schema_fields is None:
            schema_fields = list(self.snapshot.schema.fields)
        key = self.snapshot.key_col
        nb = self.snapshot.num_buckets
        payload = [f.name for f in schema_fields]
        in_cols = [c for c in payload if c != key and c in changes.columns]
        delta = changes.select(
            F.col(key),
            *[F.col(c) for c in in_cols],
            F.col(lsn_col).cast("long").alias("__lsn"),
            F.col(op_col).alias("__op"),
        )
        clustered = False
        if not pre_deduplicated:
            max_bcast = int(os.environ.get("TENZIR_SPARK_DEDUP_BCAST_KEYS",
                                           "1000000"))
            exact_rows = int(os.environ.get(
                "TENZIR_SPARK_CDC_EXACT_MAX_ROWS", str(512_000_000)))
            mx = None
            if ((rows_est is not None and 0 < rows_est <= exact_rows)
                    or (key_est is not None and 0 < key_est <= max_bcast)):
                mx = (delta.groupBy(key)
                      .agg(F.max("__lsn").alias("__mx"))
                      .limit(max_bcast + 1)
                      .localCheckpoint(eager=True))
                stats = mx.agg(F.count(F.lit(1)).alias("n"),
                               F.min("__mx").alias("m")).collect()[0]
                if stats["n"] > max_bcast:
                    mx = None  # key set too large: at-scale fallback
            if mx is not None:
                lo = stats["m"]
                if lo is not None:
                    delta = delta.filter(F.col("__lsn") >= F.lit(lo))
                delta = delta.join(
                    F.broadcast(mx.select(F.col(key).alias("__mxk"),
                                          "__mx")),
                    (F.col(key) == F.col("__mxk"))
                    & (F.col("__lsn") == F.col("__mx")),
                    "leftsemi")
                delta = delta.withColumn("__b", bucket_expr(key, nb))
            else:
                delta = delta.withColumn("__b", bucket_expr(key, nb))
                others = [c for c in delta.columns if c not in (key, "__b")]
                row = F.max_by(F.struct(*[F.col(c) for c in others]),
                               F.col("__lsn"))
                delta = (delta.groupBy("__b", key).agg(row.alias("__r"))
                         .select("__b", key,
                                 *[F.col(f"__r.{c}").alias(c) for c in others]))
            delta = _distribute_by_bucket(delta, nb)
            clustered = True
        if post_dedup is not None:
            delta = post_dedup(delta)
        # typed nulls for schema columns the stream didn't carry
        for f in schema_fields:
            if f.name not in delta.columns:
                delta = delta.withColumn(f.name, F.lit(None).cast(f.dataType))
        new_files = self._write_bucketed(delta, kind="delta", clustered=clustered,
                                         schema_epoch=schema_epoch)
        watermark = None
        for f in new_files:
            st = f.stats.get("__lsn")
            if st and st.get("max") is not None:
                watermark = st["max"] if watermark is None else max(watermark, st["max"])
        entry = {"rows_applied": int(sum(f.rows for f in new_files)),
                 "lsn_watermark": int(watermark) if watermark is not None else None,
                 "committed_at": time.time()}
        return new_files, entry

    # ------------------------------------------------------------- internals

    def _write_bucketed(self, df: DataFrame, only_buckets: list[int] | None = None,
                        kind: str = "base", clustered: bool = False,
                        schema_epoch: int | None = None) -> list[DataFile]:
        """Write rows as one parquet file per bucket under a fresh commit
        dir; returns DataFile entries with footer-accurate stats.
        ``clustered=True`` promises df already carries a __b bucket column
        and is hash-distributed by it — no extra shuffle is added.
        ``schema_epoch`` overrides the live snapshot's schema-log length
        for pipelined writers whose df was shaped against an older view."""
        key = self.snapshot.key_col
        nb = self.snapshot.num_buckets
        stat_cols = [key] + (["__lsn"] if "__lsn" in df.columns else [])
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        out_dir = self.io.join(self.root, DATA_DIR, commit)
        if not clustered:
            df = df.withColumn("__b", bucket_expr(key, nb))
            if only_buckets is not None:
                df = df.filter(F.col("__b").isin([int(b) for b in only_buckets]))
            df = _distribute_by_bucket(df, nb)
        (df.write.mode("overwrite").partitionBy("__b").parquet(out_dir))
        files: list[DataFile] = []
        if schema_epoch is None:
            schema_epoch = len(self.snapshot.schema_log)
        targets: list[tuple[int, str, str]] = []
        for bdir in self.io.list(out_dir):
            if not bdir.startswith("__b="):
                continue
            bucket = int(bdir.split("=")[1])
            for name in self.io.list(self.io.join(out_dir, bdir)):
                if not name.endswith(".parquet"):
                    continue
                fpath = self.io.join(out_dir, bdir, name)
                targets.append((bucket, fpath,
                                self.io.relpath(fpath, self.root)))
        # footer reads are independent driver-side I/O on the epoch's
        # SERIAL path (Amdahl's s in BASELINE.md) — a thread pool turns
        # O(buckets) sequential opens into one round trip; object-store
        # backends benefit even more (per-request latency dominates)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(16, max(len(targets), 1))) as ex:
            stats_list = list(ex.map(
                lambda t: _footer_stats(t[1], stat_cols, self.io), targets))
        for (bucket, _fp, rel), (rows, stats) in zip(targets, stats_list):
            files.append(DataFile(rel, bucket, rows, schema_epoch, stats, kind))
        return files

    def _commit_files(self, new_files: list[DataFile], replace_buckets: list[int] | None,
                      epoch: str | None, epoch_stats: dict | None,
                      base_files: list[DataFile] | None = None,
                      max_retries: int = 20,
                      ledger_entries: dict[str, dict] | None = None) -> None:
        """Commit new files atomically. For bucket-replacing commits
        (merge/compact) ``base_files`` must be the file list the result
        was computed from: if the replaced buckets changed since, the
        result is stale and we raise ConcurrentMergeConflict instead of
        silently dropping the other writer's files (Iceberg-style
        conflict validation — callers recompute and retry)."""
        rb = set(replace_buckets) if replace_buckets is not None else None
        base_paths = (
            {f.path for f in base_files if f.bucket in rb}
            if rb is not None and base_files is not None else None
        )
        for _ in range(max_retries):
            snap = latest_snapshot(self.root, self.io)
            if epoch is not None and epoch in snap.ledger:
                self.snapshot = snap
                return  # someone else applied this epoch — converged
            if ledger_entries and all(k in snap.ledger for k in ledger_entries):
                self.snapshot = snap
                return  # whole batch already applied — converged
            if rb is not None and base_paths is not None:
                cur_paths = {f.path for f in snap.files if f.bucket in rb}
                if cur_paths != base_paths:
                    raise ConcurrentMergeConflict(
                        f"buckets {sorted(rb)} changed since the merge was computed")
            if rb is None:
                files = snap.files + new_files
            else:
                files = [f for f in snap.files if f.bucket not in rb] + new_files
            ledger = dict(snap.ledger)
            if epoch is not None:
                ledger[epoch] = epoch_stats
            if ledger_entries:
                for k, v in ledger_entries.items():
                    # never overwrite another writer's entry (a racing
                    # tail with different batching applied a prefix)
                    ledger.setdefault(k, v)
            new_snap = Snapshot(
                version=snap.version + 1, schema_json=snap.schema_json,
                schema_log=snap.schema_log, files=files,
                num_buckets=snap.num_buckets, key_col=snap.key_col,
                ledger=ledger, properties=snap.properties,
            )
            try:
                write_snapshot_atomic(self.root, new_snap, self.io)
                self.snapshot = new_snap
                return
            except CommitConflict:
                continue
        raise CommitConflict("exhausted snapshot commit retries")

    def expire_snapshots(self, keep_last: int = 2,
                         grace_seconds: float = 3600.0) -> dict:
        """Retention GC — the reference's disk-monitor eviction
        (libtenzir/src/disk_monitor.cpp) ≅ Iceberg expire_snapshots:
        drop all but the newest ``keep_last`` snapshot files and delete
        data files no kept snapshot references (CoW-replaced and
        compacted-away files are reclaimed here, never at commit time —
        readers of retained snapshots stay consistent).

        ``grace_seconds`` is the orphan-file grace window (Iceberg
        remove_orphan_files semantics): an unreferenced data file younger
        than this is SKIPPED, because a concurrent merge writes its files
        BEFORE publishing the snapshot that references them — deleting in
        that window would leave the subsequent commit pointing at missing
        files (the round-2 verdict's GC/writer race). Files a writer
        abandons (crash between write and commit) are reclaimed once they
        age past the window. Set to 0 only when no writer can be active.

        Time travel to an expired version stops working — that is the
        retention contract. Run only when no reader holds a snapshot
        older than the kept window.
        """
        from tenzir_spark.lake.format import META_DIR, snapshot_at

        keep_last = max(1, int(keep_last))
        meta_dir = self.io.join(self.root, META_DIR)
        versions = sorted(
            int(n[1:9]) for n in self.io.list(meta_dir)
            if n.startswith("v") and n.endswith(".json"))
        kept, expired = versions[-keep_last:], versions[:-keep_last]
        referenced: set[str] = set()
        for v in kept:
            for f in snapshot_at(self.root, v, self.io).files:
                referenced.add(self.io.normpath(self.io.join(self.root, f.path)))
        now = time.time()
        removed_files = 0
        data_root = self.io.join(self.root, DATA_DIR)
        for path in self.io.walk_files(data_root):
            if self.io.normpath(path) in referenced or not path.endswith(".parquet"):
                continue
            try:
                if now - self.io.mtime(path) < grace_seconds:
                    continue  # possibly an in-flight commit's file
                self.io.delete(path)
                removed_files += 1
            except FileNotFoundError:
                continue  # another GC or writer cleanup got there first
        for v in expired:
            self.io.delete(self.io.join(meta_dir, f"v{v:08d}.json"))
        self.refresh()
        return {"snapshots_removed": len(expired), "files_removed": removed_files}

    def verify(self, repair: bool = False) -> dict:
        """Audit the snapshot's file inventory against the parquet
        footers — the lake analog of the reference's partition
        self-repair (tests.yaml 'Self Repair': on-disk state that
        disagrees with its recorded metadata is rebuilt on the next
        touch instead of trusted). For every listed file the rows and
        per-column min/max are re-derived from the footer:

        - a missing/unreadable file is reported under ``missing`` (data
          loss is not repairable from metadata alone);
        - drifted rows/stats are reported under ``mismatched``, and with
          ``repair=True`` a corrected snapshot commits atomically
          (refresh-and-retry under concurrent commits). Drifted stats
          are not cosmetic: ``read(key_range=...)`` prunes on the
          recorded min/max, so bad bounds silently drop rows.

        Footer probes are metadata-only reads through the FileIO seam,
        threaded like the write path's stats collection — O(files)
        small reads on the driver, never a data scan; at very large
        inventories audit bucket ranges incrementally."""
        from concurrent.futures import ThreadPoolExecutor
        if pq is None:  # pragma: no cover - pyarrow is baked in
            return {"checked": 0, "missing": [], "mismatched": [],
                    "repaired": False}
        for _ in range(20):
            snap = self.snapshot

            def probe(f: DataFile):
                cols = list(f.stats.keys()) or [snap.key_col]
                try:
                    return _footer_stats(
                        self.io.join(self.root, f.path), cols, self.io)
                except Exception as exc:
                    return exc

            with ThreadPoolExecutor(
                    max_workers=min(16, max(len(snap.files), 1))) as ex:
                probes = list(ex.map(probe, snap.files))
            missing, mismatched, fixed = [], [], []
            changed = False
            for f, pr in zip(snap.files, probes):
                if isinstance(pr, Exception):
                    missing.append({"path": f.path, "error": str(pr)})
                    fixed.append(f)
                    continue
                rows, stats = pr
                if rows != f.rows or (f.stats and stats != f.stats):
                    mismatched.append({
                        "path": f.path, "recorded_rows": f.rows,
                        "actual_rows": rows})
                    fixed.append(DataFile(f.path, f.bucket, rows,
                                          f.schema_epoch, stats, f.kind))
                    changed = True
                else:
                    fixed.append(f)
            out = {"checked": len(snap.files), "missing": missing,
                   "mismatched": mismatched, "repaired": False}
            if not (repair and changed):
                return out
            new_snap = Snapshot(
                version=snap.version + 1, schema_json=snap.schema_json,
                schema_log=snap.schema_log, files=fixed,
                num_buckets=snap.num_buckets, key_col=snap.key_col,
                ledger=snap.ledger, properties=snap.properties)
            try:
                write_snapshot_atomic(self.root, new_snap, self.io)
            except CommitConflict:
                self.refresh()
                continue
            self.snapshot = new_snap
            out["repaired"] = True
            return out
        raise CommitConflict("exhausted verify retries")

    def purge_to_budget(self, high_bytes: int, low_bytes: int,
                        step: int = 1) -> dict:
        """Disk-monitor eviction (libtenzir/src/disk_monitor.cpp:170-250,
        config validation :64): when the live data footprint exceeds
        ``high_bytes``, drop the OLDEST data files from the table —
        ``step`` files per round, re-measuring after each round — until
        the footprint is <= ``low_bytes`` (the reference's high/low
        water-mark hysteresis; its partitions are this lake's data
        files). Age order is on-disk mtime, exactly as the reference
        sorts `partition_diskstate` — NOT commit order, so a compacted
        bucket (fresh file, old rows) correctly counts as young.

        Eviction is lossy retention BY DESIGN (the reference erases
        whole partitions from the index regardless of query overlap);
        it is published as a normal snapshot commit, so concurrent
        readers of the pre-purge snapshot stay consistent and the
        evicted files' bytes are reclaimed later by expire_snapshots(),
        never here. For MoR tables, a delta file is never evicted
        before its bucket's older base files (mtime order guarantees
        base-before-delta within a bucket only when the base is older;
        if a delta IS oldest it just loses those changes — the same
        oldest-first contract the reference applies).

        Returns {"evicted": n_files, "bytes_before": b0, "bytes_after": b1}.
        """
        if step < 1:
            raise ValueError("step size must be greater than zero")
        if high_bytes < low_bytes:
            raise ValueError("low water mark must be smaller than high "
                             "water mark")

        def _live() -> list[tuple[DataFile, int, float]]:
            out = []
            for f in self.snapshot.files:
                p = self.io.join(self.root, f.path)
                try:
                    out.append((f, self.io.size(p), self.io.mtime(p)))
                except FileNotFoundError:
                    out.append((f, 0, 0.0))
            return out

        live = _live()
        bytes_before = sum(sz for _, sz, _ in live)
        size = bytes_before
        evicted = 0
        if size <= high_bytes:  # under the high water mark: no-op round
            return {"evicted": 0, "bytes_before": bytes_before,
                    "bytes_after": size}
        while size > low_bytes and live:
            live.sort(key=lambda t: t[2])
            drop = {id(t[0]) for t in live[:step]}
            drop_paths = {t[0].path for t in live[:step]}
            # snapshot-commit the eviction with the standard retry loop
            for _ in range(20):
                snap = latest_snapshot(self.root, self.io) or self.snapshot
                files = [f for f in snap.files if f.path not in drop_paths]
                new_snap = Snapshot(
                    version=snap.version + 1, schema_json=snap.schema_json,
                    schema_log=snap.schema_log, files=files,
                    num_buckets=snap.num_buckets, key_col=snap.key_col,
                    ledger=snap.ledger, properties=snap.properties,
                )
                try:
                    write_snapshot_atomic(self.root, new_snap, self.io)
                    self.snapshot = new_snap
                    break
                except CommitConflict:
                    continue
            else:
                raise CommitConflict("exhausted purge commit retries")
            evicted += len(drop_paths)
            live = [t for t in live if id(t[0]) not in drop]
            size = sum(sz for _, sz, _ in live)
        return {"evicted": evicted, "bytes_before": bytes_before,
                "bytes_after": size}

    def _write_checkpoints(self, epoch: str, files: list[DataFile], entry: dict) -> None:
        """Per-partition lineage/metrics rows (north rule A3 table).

        Written with pyarrow on the driver — it is O(buckets) metadata, so
        spinning up a Spark job for it would be pure overhead."""
        import pyarrow as pa

        e = int(epoch) if epoch.isdigit() else -1
        rows = [(e, f.bucket, f.rows, entry.get("lsn_watermark"),
                 float(entry["committed_at"])) for f in files] \
            or [(e, -1, 0, entry.get("lsn_watermark"), float(entry["committed_at"]))]
        tbl = pa.table({
            "checkpoint_epoch": pa.array([r[0] for r in rows], pa.int64()),
            "partition_id": pa.array([r[1] for r in rows], pa.int32()),
            "rows_applied": pa.array([r[2] for r in rows], pa.int64()),
            "lsn_watermark": pa.array([r[3] for r in rows], pa.int64()),
            "commit_epoch": pa.array([r[4] for r in rows], pa.float64()),
        })
        cp_dir = self.io.join(self.root, CHECKPOINT_DIR)
        self.io.makedirs(cp_dir)
        if pq is not None:
            # atomic publish through the FileIO seam: serialize to a
            # buffer, put_atomic writes-complete-then-swaps — a crash
            # never leaves a truncated parquet for checkpoints() to
            # choke on, and an object-store backend is just a PUT
            sink = pa.BufferOutputStream()
            pq.write_table(tbl, sink)
            name = f"cp-{epoch}-{uuid.uuid4().hex[:8]}.parquet"
            self.io.put_atomic(self.io.join(cp_dir, name),
                               sink.getvalue().to_pybytes())

    def checkpoints(self) -> DataFrame:
        path = self.io.join(self.root, CHECKPOINT_DIR)
        if not self.io.is_dir(path):
            return self.spark.createDataFrame(
                [], "checkpoint_epoch long, partition_id int, rows_applied long,"
                    " lsn_watermark long, commit_epoch double")
        return self.spark.read.parquet(path)

    def compact(self, target_rows: int = 4_194_304, max_deltas: int = 0,
                purge_deletes_below_lsn: int | None = None) -> None:
        """Fold small / delta files back into one base file per bucket —
        the reference's ``rebuild`` (rebuild.cpp:45-47 merges partitions
        under 0.8x max size; Iceberg rewrite_data_files).

        CoW: merges buckets with multiple undersized files.
        MoR: resolves buckets whose delta-file count exceeds
        ``max_deltas`` down to a single base file. Delete rows are KEPT as
        tombstones (with their resolved max __lsn) so a later out-of-order
        upsert with a lower lsn can never resurrect a deleted row; readers
        filter them (read() does). ``purge_deletes_below_lsn`` physically
        drops tombstones older than the given watermark — safe once every
        writer's lsn floor is past it (Iceberg's expire-snapshots analog).

        Concurrent merges to the same buckets are detected at commit
        (ConcurrentMergeConflict) and the compaction recomputes."""
        for _ in range(5):
            try:
                return self._compact_once(target_rows, max_deltas,
                                          purge_deletes_below_lsn)
            except ConcurrentMergeConflict:
                self.refresh()
        raise ConcurrentMergeConflict("exhausted compact recompute retries")

    def _compact_once(self, target_rows: int, max_deltas: int,
                      purge_deletes_below_lsn: int | None) -> None:
        base = self.snapshot
        by_bucket: dict[int, list[DataFile]] = {}
        for f in base.files:
            by_bucket.setdefault(f.bucket, []).append(f)
        if self.mode == "mor":
            need = [b for b, fs in by_bucket.items()
                    if sum(1 for x in fs if x.kind == "delta") > max_deltas]
            if not need:
                return
            if purge_deletes_below_lsn is None:
                # METADATA-ONLY promotion for single-file buckets: a
                # lone delta is already per-key resolved (every merge
                # batch dedups to one row per key — the merge()
                # contract / _prepare_mor's dedup), so "compacting" it
                # is a kind re-tag, not a data rewrite — the Iceberg
                # rewrite_data_files min-input-files analog. Safe under
                # the commit/GC protocol: the path stays referenced
                # (expire_snapshots GC is path-based over kept
                # snapshots), content is unchanged so a concurrent
                # merge computed from it stays valid, and older
                # snapshots still resolve the file as a delta to the
                # identical result. Tombstone purging always takes the
                # rewrite path.
                retag = [b for b in need if len(by_bucket[b]) == 1]
                if retag:
                    from dataclasses import replace as _dc_replace
                    promoted = [_dc_replace(by_bucket[b][0], kind="base")
                                for b in retag]
                    self._commit_files(promoted, replace_buckets=retag,
                                       epoch=None, epoch_stats=None,
                                       base_files=base.files)
                    need = [b for b in need if len(by_bucket[b]) > 1]
                    if not need:
                        return
                    base = self.snapshot
            raw = self.read(buckets=need, resolve=False)
            key = self.snapshot.key_col
            others = [c for c in raw.columns if c != key]
            row = F.max_by(F.struct(*[F.col(c) for c in others]), F.col("__lsn"))
            resolved = (raw.groupBy(key).agg(row.alias("__r"))
                        .select(key, *[F.col(f"__r.{c}").alias(c) for c in others]))
            if purge_deletes_below_lsn is not None:
                resolved = resolved.filter(
                    (F.col("__op") != "delete")
                    | (F.col("__lsn") >= F.lit(int(purge_deletes_below_lsn))))
            new_files = self._write_bucketed(resolved, only_buckets=need, kind="base")
            self._commit_files(new_files, replace_buckets=need, epoch=None,
                               epoch_stats=None, base_files=base.files)
            return
        need = [b for b, fs in by_bucket.items()
                if len(fs) > 1 and sum(x.rows for x in fs) < int(0.8 * target_rows)]
        if not need:
            return
        df = self.read(buckets=need)
        new_files = self._write_bucketed(df, only_buckets=need)
        self._commit_files(new_files, replace_buckets=need, epoch=None,
                           epoch_stats=None, base_files=base.files)


def _footer_stats(path: str, stat_cols: list[str],
                  io: LocalFileIO | None = None) -> tuple[int, dict]:
    """Exact per-file stats from the parquet footer (no data read) —
    opened through the FileIO seam (pyarrow accepts any file-like)."""
    if pq is None:
        return 0, {}
    md = pq.ParquetFile((io or DEFAULT_IO).open_read(path)).metadata
    rows = md.num_rows
    stats: dict[str, dict] = {}
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    for c in stat_cols:
        idx = name_to_idx.get(c)
        if idx is None:
            continue
        mn, mx, nulls = None, None, 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                mn = mx = None
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
            nulls += st.null_count or 0
        if mn is not None:
            stats[c] = {"min": _plain(mn), "max": _plain(mx), "nulls": nulls}
    return rows, stats


def _footer_schema(path: str, io: LocalFileIO) -> T.StructType | None:
    """The Spark schema a Spark-written parquet file records in its footer
    (``org.apache.spark.sql.parquet.row.metadata``) — the entry Spark's
    own schema inference reads, without the inference job. None when the
    entry is absent or the footer unreadable: the caller then falls back
    to inference, which also reports a missing file the usual way."""
    if pq is None:
        return None
    try:
        with io.open_read(path) as fh:
            kv = pq.ParquetFile(fh).metadata.metadata or {}
        raw = kv.get(b"org.apache.spark.sql.parquet.row.metadata")
        return None if raw is None else T.StructType.fromJson(json.loads(raw))
    except (OSError, ValueError):
        return None


def _plain(v):
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _parse_type(s: str) -> T.DataType:
    return T._parse_datatype_string(s)
