"""CDC apply engine: ordered epoch tail -> schema evolution -> max-lsn
dedup -> upsert -> exactly-once commit + lineage.

There is one apply path, ``CdcEngine.run``'s batch loop: ``apply_epoch``,
``run_stream`` and ``streaming.stream_cdc_apply`` all delegate to it, and
both write modes share one max-lsn dedup (``LakeTable._dedup``) with two
plans, picked by the engine's WAL contract and the exact pass-1 key
count. No env knob tunes the engine.

This is the north rule's pipeline, the Spark reinterpretation of the
reference's import path (libtenzir/builtins/operators/import.cpp:70 ->
importer.cpp:43-76 -> index.cpp:650-670 active partitions): where Tenzir
stamps import_time and routes slices to per-schema partitions, we stamp
lineage and MERGE keyed batches into per-bucket files under an idempotent
epoch ledger.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tenzir_spark.cdc.extract import extract_text_udf
from tenzir_spark.lake.table import LakeTable


def _epochs_from_paths(change_log: DataFrame) -> list[int] | None:
    """The epochs of an epoch-partitioned file-backed log, read off its
    ``epoch=N`` file paths — a driver-side listing that submits no job
    and opens no file. Returns None when the frame is not the bare file
    relation (streaming micro-batch frames, filtered views) or its paths
    carry no epoch partition; run() then discovers by scan."""
    try:
        # bare-scan check: inputFiles() ignores row filters, so a
        # filtered view could "discover" epochs whose surviving row set
        # is empty and wrongly ledger them as applied — only trust the
        # paths when the frame is the unmodified file relation
        plan = change_log._jdf.queryExecution().analyzed().toString()
        if not plan.lstrip().startswith("Relation"):
            return None
        files = change_log.inputFiles()
        if not files or any("epoch=" not in f for f in files):
            return None
        return sorted({int(f.split("epoch=")[1].split("/")[0]) for f in files})
    except Exception:
        return None


def _descriptors(change_log: DataFrame) -> dict[int, list[str]]:
    """epoch -> its schema-change directives, in one narrow scan."""
    desc: dict[int, list[str]] = {}
    for r in (change_log.filter(F.col("op") == "schema")
              .select("epoch", "schema_descriptor").collect()):
        desc.setdefault(r[0], []).append(r[1])
    return desc


def descriptor_to_alter(desc: str) -> dict:
    """Avro-style JSON change-stream descriptor -> lake ALTER op.

    Supported directives (north rule: add / rename / widen — the
    reference's cast.hpp:387-499 record-cast lattice):
      {"type":"add","name":...,"spark_type":...}
      {"type":"rename","from":...,"to":...}
      {"type":"widen","name":...,"spark_type":...}
    """
    d = json.loads(desc)
    t = d["type"]
    if t == "add":
        return {"op": "add", "name": d["name"], "type": d["spark_type"]}
    if t == "rename":
        return {"op": "rename", "from": d["from"], "to": d["to"]}
    if t == "widen":
        return {"op": "widen", "name": d["name"], "type": d["spark_type"]}
    raise ValueError(f"unknown schema descriptor {desc!r}")


class CdcEngine:
    """Applies an ordered (lsn, op, payload) change log to a LakeTable
    epoch by epoch, exactly once. The log's lsn is a WAL position, unique
    per key: the contract that lets the dedup take its broadcast two-pass
    plan.

    ``n_salts`` is accepted for compatibility and has no effect: the
    dedup's map-side partial aggregate already collapses hot keys before
    the exchange, which is what a salt would buy."""

    def __init__(self, spark: SparkSession, table: LakeTable, n_salts: int = 16):
        self.spark = spark
        self.table = table

    def apply_epoch(self, change_log: DataFrame, epoch: int) -> dict:
        """Apply one epoch of ``change_log``; returns its ledger entry."""
        return self.run(change_log, epochs=[epoch])[0]

    def _shape(self, batch: DataFrame, schema_fields: list,
               added_gate: dict[str, int] | None = None):
        """Project a raw change batch onto a FROZEN schema view (list of
        StructFields): key + op + lsn + payload columns, missing payload
        columns as typed nulls. Text extraction is deferred until AFTER
        dedup (returned as ``post``) so the Arrow UDF only ever runs on
        rows that survive the max-lsn race — at high update rates that
        is a large constant-factor saving.

        ``added_gate`` (column -> epoch it was ADDed in) keeps a
        coalesced multi-epoch batch faithful to sequential semantics:
        a value some event carried BEFORE the column's add-epoch would
        have been dropped by the per-epoch shape (the column wasn't in
        the table schema yet), so the coalesced shape nulls it out the
        same way instead of resurrecting it."""
        key = self.table.snapshot.key_col
        types = {f.name: f.dataType for f in schema_fields}
        payload_cols = list(types)
        derive_text = "html" in batch.columns and "text" in payload_cols
        data = batch.filter(F.col("op") != "schema")
        cols = [F.col(key), F.col("op"), F.col("lsn")]
        for c in payload_cols:
            if c == key or (c == "text" and derive_text):
                continue
            if c in data.columns:
                expr = F.col(c)
                if added_gate and c in added_gate:
                    expr = F.when(F.col("epoch") >= F.lit(added_gate[c]),
                                  expr)
                cols.append(expr.alias(c))
            else:
                cols.append(F.lit(None).cast(types[c]).alias(c))
        post = (lambda df: df.withColumn("text", extract_text_udf(F.col("html")))) \
            if derive_text else None
        return data.select(*cols), post

    def run(self, change_log: DataFrame, epochs: list[int] | None = None,
            max_inflight: int = 2, max_coalesce: int = 8) -> list[dict]:
        """Tail the log in epoch order (resumable: already-applied epochs
        short-circuit via the ledger); returns one ledger entry per epoch.

        Discovery: when the log is the bare relation of an
        epoch-partitioned file log, the epoch list comes from its file
        paths and the only scan is the op=='schema' descriptor filter,
        pruned to three narrow columns. Any other frame (an in-memory
        log, a streaming micro-batch) is discovered by ONE scan that
        collects the epoch list and every epoch's directives together
        (collect_list skips the nulls of non-schema rows). Given
        ``epochs``, only the descriptor scan runs, limited to them.

        Every batch then takes the same steps: its alters, in epoch
        order; the shape against the evolved schema; the max-lsn dedup,
        whose plan the table picks from the engine's WAL contract and the
        exact pass-1 key count (LakeTable._dedup; the ledger entry records
        it as ``plan``); the write; the commit.

        MoR mode COALESCES a backlog: runs of up to ``max_coalesce``
        consecutive pending epochs with no RENAME between them apply as
        ONE job — union the epochs, max-lsn dedup across the whole
        range, one delta write, one atomic commit that ledgers every
        constituent epoch (merge_commit_batch). This is semantically
        transparent: lsn is globally monotone, so the per-key max-lsn
        survivor of the union is exactly the row sequential application
        would leave visible, and the MoR read path merges deltas by max
        lsn anyway. What it buys is amortization of the per-epoch fixed
        cost that dominates small epochs — the Spark job itself
        (scheduling, python workers, parquet opens/closes), against
        commit+checkpoint at ~5 ms. A LIVE tail (epoch-by-epoch arrival)
        degenerates to batches of 1 — coalescing engages exactly when
        there's a backlog to catch up on, the same adaptive batching a
        Structured Streaming microbatch trigger does.

        MoR also PIPELINES batches: up to ``max_inflight`` batch PREPARE
        jobs (scan -> dedup -> delta write) run concurrently — a delta
        never reads the target, so only the ledger COMMIT must stay
        ordered. Measured (round 5, local[32], 16M events): break-even on
        a saturated single host, where the prepare job already uses
        every core; the overlap pays on a cluster where the driver's
        per-batch serial work and stragglers leave executors idle
        between jobs. Each batch's files carry the schema_epoch tag of
        the view they were shaped against, so _align's rename/add replay
        stays exact even when a later batch's ALTER is already live. On
        a prepare failure nothing from that batch onward commits —
        already-prepared later files are orphans reclaimed by
        expire_snapshots' grace window, and a rerun resumes from the
        ledger.

        CoW applies one epoch per batch, one batch in flight: epoch N+1's
        merge reads the state epoch N wrote.
        """
        if epochs is not None:
            desc = _descriptors(change_log.filter(F.col("epoch").isin(epochs)))
        elif (epochs := _epochs_from_paths(change_log)) is not None:
            desc = _descriptors(change_log)
        else:
            rows = (change_log.groupBy("epoch").agg(
                F.collect_list(F.when(F.col("op") == "schema",
                                      F.col("schema_descriptor"))).alias("ds"))
                .collect())
            epochs = sorted(r["epoch"] for r in rows)
            desc = {r["epoch"]: [d for d in r["ds"] if d] for r in rows}
        return self._run_batched(change_log, epochs, desc,
                                 max_inflight, max_coalesce)

    def _batches(self, epochs: list[int], desc: dict,
                 max_coalesce: int) -> list[list[int]]:
        """Split pending epochs into coalescible runs, capped at
        ``max_coalesce``. Only consecutive epochs coalesce — a gap (an
        already-applied epoch in the middle, from a crashed earlier run)
        splits the run so each batch stays a contiguous, prunable epoch
        range. Schema-change epochs coalesce INTO a batch when every
        alter in them is an ADD or WIDEN (adds are epoch-gated in
        _shape; widens are lossless by definition, and the log's parquet
        column type is uniform across the whole file anyway); a RENAME
        still starts a fresh batch — the log's column identity changes
        mid-span, so pre-rename epochs must be shaped under the old
        name."""
        def must_split(e: int) -> bool:
            for d in desc.get(e, []) or []:
                if d and json.loads(d).get("type") == "rename":
                    return True
            return False

        out: list[list[int]] = []
        cur: list[int] = []
        for e in epochs:
            if cur and (must_split(e) or len(cur) >= max_coalesce
                        or e != cur[-1] + 1):
                out.append(cur)
                cur = []
            cur.append(e)
        if cur:
            out.append(cur)
        return out

    def _run_batched(self, change_log: DataFrame, epochs: list[int],
                     desc: dict, max_inflight: int,
                     max_coalesce: int) -> list[dict]:
        from concurrent.futures import ThreadPoolExecutor

        cow = self.table.mode != "mor"
        if cow:
            max_inflight = max_coalesce = 1
        max_inflight, max_coalesce = max(max_inflight, 1), max(max_coalesce, 1)
        self.table.refresh()
        results: dict[int, dict] = {}
        pending: list[int] = []
        for e in epochs:
            ek = str(e)
            if ek in self.table.snapshot.ledger:
                results[e] = {**self.table.snapshot.ledger[ek],
                              "skipped": True}
            else:
                pending.append(e)
        submitted: list[tuple[list[int], object]] = []
        with ThreadPoolExecutor(max_workers=max_inflight) as ex:
            try:
                for batch in self._batches(pending, desc, max_coalesce):
                    # ALL the batch's alters serially, in epoch order,
                    # BEFORE shaping — metadata-only, so running them
                    # ahead of earlier data commits is safe (_align
                    # replays renames/adds from each file's schema_epoch
                    # tag); adds record their epoch so _shape can gate
                    # per-row exactly like sequential application would
                    alters: list[dict] = []
                    added: dict[str, int] = {}
                    for e in batch:
                        for d in desc.get(e, []):
                            if not d:
                                continue
                            a = descriptor_to_alter(d)
                            alters.append(a)
                            if a["op"] == "add":
                                added[a["name"]] = e
                    if alters:
                        self.table.alter(alters)
                    fields = list(self.table.snapshot.schema.fields)
                    sepoch = len(self.table.snapshot.schema_log)
                    # contiguous range -> BETWEEN prunes the epoch=
                    # partition dirs of the log at the source
                    shaped, post = self._shape(
                        change_log.filter(
                            F.col("epoch").between(batch[0], batch[-1])),
                        fields, added_gate=added)
                    if cow:
                        # merged and committed in place: the next batch's
                        # merge reads what this one wrote
                        results[batch[0]] = self.table._merge_cow(
                            shaped, str(batch[0]), "op", "lsn", False, post,
                            unique_lsn=True)
                        continue
                    submitted.append((batch, ex.submit(
                        self.table._prepare_mor, shaped, "op", "lsn",
                        False, post, fields, sepoch, True)))
                for batch, fut in submitted:
                    new_files, entry = fut.result()
                    got = self.table.merge_commit_batch(
                        [str(e) for e in batch], new_files, entry)
                    for e in batch:
                        results[e] = got[str(e)]
            finally:
                for _, fut in submitted:
                    fut.cancel()
        return [results[e] for e in epochs]

    # ---------------------------------------------------------- streaming

    def run_stream(self, log_dir: str, checkpoint_dir: str,
                   trigger: dict | None = None,
                   max_inflight: int = 2, max_coalesce: int = 8):
        """LIVE tail: Structured Streaming file source over the growing
        epoch-partitioned change log, applied per micro-batch through
        the same run() path (coalescing + ledger).

        Sibling: ``streaming.stream_cdc_apply`` tails an EPOCH-LESS
        stream and ledgers by Spark micro-batch id; this method is for
        logs that carry their own epoch column — the ledger keys stay
        the log's epochs, so a resume (or a plain batch run()) remains
        interchangeable with the stream.

        Exactly-once composes from two layers: Spark's streaming
        checkpoint makes foreachBatch at-least-once over file arrivals,
        and the lake's epoch ledger makes re-delivered epochs no-ops —
        the classic idempotent-sink recipe, and the streaming analog of
        the reference's importer/active-partition path (import.cpp:70).

        Contract (the same one every file-based tail assumes): the
        producer publishes an epoch's files ATOMICALLY (write to a temp
        dir, rename into ``epoch=N/``) before the trigger that picks
        them up — a half-written epoch directory would commit a partial
        epoch whose remainder the ledger would then skip. Kafka-style
        sources don't have this constraint; for file logs it is the
        standard atomic-publish discipline.

        ``trigger`` maps straight to DataStreamWriter.trigger (e.g.
        ``{"availableNow": True}`` to drain the backlog and stop, or
        ``{"processingTime": "10 seconds"}`` for a continuous tail).
        Returns the StreamingQuery; results land in the table + ledger.
        """
        spark = self.spark
        schema = spark.read.parquet(log_dir).schema
        stream = spark.readStream.schema(schema).parquet(log_dir)

        def apply_batch(batch_df, batch_id):
            if not batch_df.head(1):
                return
            self.run(batch_df, max_inflight=max_inflight,
                     max_coalesce=max_coalesce)

        writer = (stream.writeStream
                  .foreachBatch(apply_batch)
                  .option("checkpointLocation", checkpoint_dir))
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        return writer.start()
