"""The three perfbench workloads.

Each workload is a function ``(ctx) -> Result``. It generates its inputs
from the seed, warms up, measures for ``ctx.seconds`` and then checks
its outputs off the clock. Only public entry points are driven:
``CdcEngine.run``; ``LakeTable.create/load/read/compact/verify``; and
``__spark_entry__.queries()``.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

from harness import Gate, Tracer, cpu_timer, median

# ---------------------------------------------------------------- sizes

CATCHUP = dict(events=1_000_000, epochs=8, domains=200, pages=500,
               zipf=3.0, schema_every=3, buckets=32, reads_per_apply=4)
TAIL = dict(epoch_events=1_250, domains=200, pages=20_000, zipf=1.0,
            schema_every=8, buckets=8, rate_per_s=1.0, trigger_s=8.0,
            point_reads=4, scans=1, compact_every=1, max_pending_s=12.0)
MIX = dict(sf=0.01)
# bench.py's HEADLINE list minus `decapsulate` and `netflow`, whose
# fixture paths are absolute and so do not resolve in a fresh checkout
QUERIES = [
    "where_select", "summarize", "summarize_resolution", "sort", "top",
    "dedup_max_lsn", "join_agg", "tpch_q6", "exact_dedup", "text_stats",
    "fingerprint", "minhash_near_dups", "simhash", "ngram_jaccard",
    "near_dup_composed", "summarize_res_nokey", "cosine_topk", "ann_lsh",
    "where_arith", "tql_pipeline", "ivf_topk",
]
# module that does a query's work, for the per-module roll-ups
QUERY_MODULE = {
    "exact_dedup": "functions.dedup", "minhash_near_dups": "functions.dedup",
    "simhash": "functions.dedup", "ngram_jaccard": "functions.dedup",
    "near_dup_composed": "functions.dedup",
    "cosine_topk": "functions.similarity", "ann_lsh": "functions.similarity",
    "ivf_topk": "functions.similarity",
    "text_stats": "functions.text", "fingerprint": "functions.text",
    "tql_pipeline": "plans.tql",
}
SETUP_REPS = 3
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")  # gen_sf (inputs), check_oracle (comparison)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    run_dir: str
    tracer: Tracer
    gate: Gate = field(default_factory=Gate)
    scale: float = 1.0  # input-size multiplier; 1.0 in every measured run
    rng: random.Random = field(init=False)

    def __post_init__(self):
        self.rng = random.Random(self.seed)


@dataclass
class Result:
    gen_s: list[float]
    warm_s: float
    window: tuple[float, float]
    op_s: list[float]          # the workload's unit of work
    read_s: list[float]        # single read requests
    throughput: float          # events (CDC) or queries (mix) per second of op wall
    op_span: set[str]          # span names that make up one op
    read_span: set[str]
    op_cpu: list[float]        # CPU seconds of the process tree per op
    read_cpu: list[float]      # CPU seconds per read
    named: dict = field(default_factory=dict)   # (value, unit) by report name
    layers: dict = field(default_factory=dict)  # counts for per_layer
    info: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.startswith("_"))


def _live_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.root, f.path))
               for f in table.snapshot.files)


# ------------------------------------------------------------ CDC shared


def _write_log(spark, path: str, n: int, per_epoch: int, p: dict, seed: int):
    from tenzir_spark.cdc import gen_change_log
    (gen_change_log(spark, n, n_domains=p["domains"],
                    pages_per_domain=p["pages"], events_per_epoch=per_epoch,
                    zipf_alpha=p["zipf"], schema_change_every=p["schema_every"],
                    seed=seed, first_op_insert=False)
     .write.mode("overwrite").partitionBy("epoch").parquet(path))


def _generate(ctx: Ctx, make) -> tuple[str, list[float]]:
    """Generate the inputs SETUP_REPS times from the same seed (the
    median is set-up's input-generation cost); keeps the last copy."""
    times, path = [], None
    for i in range(SETUP_REPS):
        if path:
            shutil.rmtree(path, ignore_errors=True)
        path = os.path.join(ctx.run_dir, f"input{i}")
        t = time.perf_counter()
        with ctx.tracer.span("setup.generate"):
            make(path)
        times.append(time.perf_counter() - t)
    return path, times


def _sample_urls(spark, log_path: str, rng: random.Random, n_rows: int,
                 k: int) -> list[str]:
    from pyspark.sql import functions as F
    lsns = rng.sample(range(n_rows), k)
    return sorted({r[0] for r in spark.read.parquet(log_path)
                   .filter(F.col("lsn").isin(lsns) & F.col("url").isNotNull())
                   .select("url").collect()})


def _row_dict(row) -> dict:
    return {k: (bytes(v) if isinstance(v, (bytes, bytearray)) else v)
            for k, v in row.asDict().items()}


def _history(log_df, urls: list[str]) -> list[dict]:
    """Every log row of ``urls``, plus the schema directives."""
    from pyspark.sql import functions as F
    return [_row_dict(r) for r in
            log_df.filter(F.col("url").isin(urls) | (F.col("op") == "schema")).collect()]


def _replay_rows(history: list[dict], max_epoch: int | None = None) -> dict:
    """Pure-Python replay (cdc/replay.py) of ``history``, optionally cut
    at ``max_epoch`` (a committed prefix)."""
    from tenzir_spark.cdc import replay
    if max_epoch is not None:
        history = [r for r in history if r["epoch"] <= max_epoch]
    return replay(history)[0]


def check_table(ctx: Ctx, table_df, log_df, urls: list[str], what: str) -> None:
    """Off-clock gates on a resolved CDC table.

    1. Count and an order-insensitive checksum of every live row against
       an independent Spark max-lsn-per-url computation on the log.
    2. Every column (``text`` and the added ones too) of a seeded url
       sample against the pure-Python replay of their full history."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tenzir_spark.cdc.extract import extract_text

    @F.pandas_udf(T.StringType())
    def text_of(html):
        return html.map(extract_text)

    cols = ["url", "warc_ts", "html", "lang"]
    data = log_df.filter(F.col("op") != "schema")
    latest = (data.groupBy("url")
              .agg(F.max_by(F.struct("op", *cols[1:]), F.col("lsn")).alias("r"))
              .select("url", *[F.col(f"r.{c}").alias(c) for c in ["op", *cols[1:]]])
              .filter(F.col("op") != "delete")
              .withColumn("text", text_of(F.col("html"))))

    def digest(df):
        h = F.xxhash64(*[F.col(c) for c in cols], F.col("text")).cast("decimal(38,0)")
        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
        return int(r["n"]), r["h"]

    exp, got = digest(latest), digest(table_df)
    ctx.gate.check(f"{what}.count_checksum", exp == got,
                   f"expected {exp}, table has {got}")

    want = _replay_rows(_history(log_df, urls))
    have = {r["url"]: _row_dict(r)
            for r in table_df.filter(F.col("url").isin(urls)).collect()}
    bad = [u for u in urls if want.get(u) != have.get(u)]
    ctx.gate.check(f"{what}.replay_sample", not bad,
                   f"{len(bad)}/{len(urls)} sampled urls differ, e.g. {bad[:2]}")


def _check_lake(ctx: Ctx, table, epochs: set[int], what: str) -> None:
    rep = table.verify()
    ctx.gate.check(f"{what}.verify", not rep["missing"] and not rep["mismatched"],
                   f"missing={rep['missing'][:2]} mismatched={rep['mismatched'][:2]}")
    ledger = {int(e) for e in table.snapshot.ledger}
    ctx.gate.check(f"{what}.ledger", epochs <= ledger,
                   f"epochs not ledgered: {sorted(epochs - ledger)[:5]}")


def _point_read(ctx: Ctx, root: str, url: str):
    """``LakeTable.load(root).read(key_range=(u, u))`` filtered to ``u``;
    returns (latency, rows, files scanned or None, CPU seconds)."""
    from pyspark.sql import functions as F
    from tenzir_spark.lake import LakeTable
    took = []
    with cpu_timer(took):
        with ctx.tracer.span("lake.load"):
            table = LakeTable.load(ctx.spark, root)
        with ctx.tracer.span("lake.read_point"):
            df = table.read(key_range=(url, url)).filter(F.col("url") == url)
            rows = df.collect()
    files = len(df.inputFiles()) if ctx.tracer.spark is not None else None
    return took[0][0], rows, files, took[0][1]


# ----------------------------------------------------------- cdc_catchup


def cdc_catchup(ctx: Ctx) -> Result:
    """Closed loop, one client: the same backlog applied again and again,
    each time by one ``CdcEngine.run`` into a fresh MoR table, followed
    by point reads of seeded urls."""
    from tenzir_spark.cdc import CdcEngine, pages_schema
    from tenzir_spark.lake import LakeTable

    p, spark, tr = CATCHUP, ctx.spark, ctx.tracer
    n = max(int(p["events"] * ctx.scale), p["epochs"])
    log_path, gen_s = _generate(
        ctx, lambda path: _write_log(spark, path, n, n // p["epochs"], p, ctx.seed))
    with tr.span("setup.sample"):
        log_rows = spark.read.parquet(log_path).count()
        urls = _sample_urls(spark, log_path, ctx.rng, n, min(64, n))

    def apply(name: str):
        root = os.path.join(ctx.run_dir, name)
        with tr.span("lake.create"):
            table = LakeTable.create(spark, root, pages_schema(), "url",
                                     num_buckets=p["buckets"], write_mode="mor")
        took = []
        with cpu_timer(took):
            with tr.span("cdc.construct"):
                log_df = spark.read.parquet(log_path)
            with tr.span("cdc.run"):
                res = ctx.gate.run("cdc.run", CdcEngine(spark, table).run, log_df)
        return root, table, res, took[0]

    t = time.perf_counter()
    with tr.span("setup.warmup"):
        warm_root, *_ = apply("warm")
        _point_read(ctx, warm_root, urls[0])
        shutil.rmtree(warm_root, ignore_errors=True)
    warm_s = time.perf_counter() - t

    op_s, read_s, files_scanned, applied, batches = [], [], [], [], []
    op_cpu, read_cpu = [], []
    root = table = None
    t0 = time.time()
    while time.time() - t0 < ctx.seconds:
        if root:
            with tr.span("bench.cleanup"):
                shutil.rmtree(root, ignore_errors=True)
        root, table, res, (dt, cpu) = apply(f"t{len(op_s)}")
        op_s.append(dt)
        op_cpu.append(cpu)
        if res is not None:
            applied.append(sum(r.get("rows_applied", 0) for r in res))
            batches.append(sum(1 for r in res if "coalesced_into" not in r))
        for u in ctx.rng.sample(urls, p["reads_per_apply"]):
            got = ctx.gate.run("lake.read_point", _point_read, ctx, root, u)
            if got:
                read_s.append(got[0])
                read_cpu.append(got[3])
                if got[2] is not None:
                    files_scanned.append(got[2])
    window = (t0, time.time())

    with tr.span("check"):
        log_df = spark.read.parquet(log_path)
        check_table(ctx, LakeTable.load(spark, root).read(), log_df,
                    ctx.rng.sample(urls, 16), "cdc_catchup")
        _check_lake(ctx, table, set(range(p["epochs"])), "cdc_catchup")
        log_bytes = _dir_bytes(log_path)
        live = _live_bytes(table)

    runs = median(op_s)
    return Result(
        gen_s=gen_s, warm_s=warm_s, window=window, op_s=op_s, read_s=read_s,
        throughput=n / runs, op_span={"cdc.construct", "cdc.run"},
        read_span={"lake.load", "lake.read_point"}, op_cpu=op_cpu, read_cpu=read_cpu,
        named={"catchup_events_per_s": (n / runs, "events/s"),
               "lake_bytes_per_log_byte": (live / log_bytes, "bytes/byte")},
        layers={"rows_offered": log_rows * len(op_s),
                "cdc.run.survivor_ratio": median(applied) / n if applied else 0.0,
                "cdc.run.batches": median(batches) if batches else 0,
                "lake.files": len(table.snapshot.files),
                "lake.snapshots": table.snapshot.version,
                "lake.delta_files": sum(f.kind == "delta" for f in table.snapshot.files),
                "lake.read_point.files_scanned":
                    median(files_scanned) if files_scanned else 0,
                "lake.live_bytes": live,
                "lake.bytes_per_log_byte": live / log_bytes},
        info={"events": n, "log_rows": log_rows, "log_bytes": log_bytes,
              "applies": len(op_s), "key_space": p["domains"] * p["pages"],
              **{k: v for k, v in p.items() if k != "events"}})


# -------------------------------------------------------------- cdc_tail


class Publisher:
    """Open-loop producer: moves staged epoch directories into the log by
    atomic rename, epoch ``i`` due at ``t0 + i / rate``."""

    def __init__(self, staging: str, log_dir: str, n_epochs: int, rate: float):
        self.staging, self.log_dir = staging, log_dir
        self.n_epochs, self.rate = n_epochs, rate
        self.due: dict[int, float] = {}
        self.late: list[float] = []
        self.published = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> float:
        self.t0 = time.time()
        self._thread.start()
        return self.t0

    def _loop(self):
        for i in range(self.n_epochs):
            due = self.t0 + i / self.rate
            if self._stop.wait(max(0.0, due - time.time())):
                return
            os.rename(os.path.join(self.staging, f"epoch={i}"),
                      os.path.join(self.log_dir, f"epoch={i}"))
            self.due[i] = due
            self.late.append(time.time() - due)
            self.published = i + 1

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=30)


def cdc_tail(ctx: Ctx) -> Result:
    """Open loop: a timer publishes epochs at a fixed rate; one client,
    woken by a fixed-interval trigger, tails them with ``CdcEngine.run``
    on the re-read log, then serves point reads and a bucket scan, and
    compacts."""
    from pyspark.sql import functions as F
    from tenzir_spark.cdc import CdcEngine, pages_schema
    from tenzir_spark.lake import LakeTable

    p, spark, tr = TAIL, ctx.spark, ctx.tracer
    per_epoch = max(int(p["epoch_events"] * ctx.scale), 100)
    # fixed work per run: the window publishes rate x seconds epochs,
    # rounded up to whole trigger intervals, and ends when the last of them
    # is ledgered. The table grows as the tail runs, so passes slow down;
    # equal work keeps runs comparable.
    per_pass = int(round(p["rate_per_s"] * p["trigger_s"]))
    n_publish = per_pass * max(int(math.ceil(p["rate_per_s"] * ctx.seconds / per_pass)), 1)
    n_epochs = max(n_publish, 9)  # the warm-up copies the first 9
    # a backlog of more than this many seconds of arrivals means the rate
    # is above what the tail drains
    max_pending = int(p["max_pending_s"] * p["rate_per_s"])
    staging, gen_s = _generate(ctx, lambda path: _write_log(
        spark, path, per_epoch * n_epochs, per_epoch, p, ctx.seed))
    urls_by_epoch: dict[int, list[str]] = {}
    with tr.span("setup.sample"):
        every = max(per_epoch // 20, 1)
        for r in (spark.read.parquet(staging)
                  .filter(F.col("url").isNotNull() & (F.pmod(F.col("lsn"), every) == 0))
                  .select("epoch", "url").collect()):
            urls_by_epoch.setdefault(r[0], []).append(r[1])

    def new_table(name: str):
        return LakeTable.create(spark, os.path.join(ctx.run_dir, name), pages_schema(),
                                "url", num_buckets=p["buckets"], write_mode="mor")

    def tail_pass(table, log_dir: str):
        before = set(table.snapshot.ledger)
        took = []
        with cpu_timer(took):
            with tr.span("tail.construct"):
                log_df = spark.read.parquet(log_dir)
            with tr.span("cdc.run"):
                res = ctx.gate.run("cdc.run", CdcEngine(spark, table).run, log_df)
        done = time.time()
        new = sorted(int(e) for e in set(table.snapshot.ledger) - before)
        return new, res or [], done, took[0][1]

    def reads(table, committed: int, checks: list | None):
        lats, scans, files, cpus = [], [], [], []
        for _ in range(p["point_reads"]):
            e = ctx.rng.randint(0, committed)
            u = ctx.rng.choice(urls_by_epoch[e])
            got = ctx.gate.run("lake.read_point", _point_read, ctx, table.root, u)
            if got:
                lats.append(got[0])
                cpus.append(got[3])
                if got[2] is not None:
                    files.append(got[2])
                if checks is not None:
                    checks.append((u, committed, got[1]))
        for _ in range(p["scans"]):
            b = ctx.rng.randrange(p["buckets"])

            def scan():
                t = time.perf_counter()
                with tr.span("lake.load"):
                    tb = LakeTable.load(spark, table.root)
                with tr.span("lake.read_scan"):
                    _noop(tb.read(buckets=[b]))
                return time.perf_counter() - t
            dt = ctx.gate.run("lake.read_scan", scan)
            if dt is not None:
                scans.append(dt)
        return lats, scans, files, cpus

    def compact(table):
        old = {f.path for f in table.snapshot.files}
        t = time.perf_counter()
        with tr.span("lake.compact"):
            ctx.gate.run("lake.compact", table.compact)
        dt = time.perf_counter() - t
        rewritten = sum(os.path.getsize(os.path.join(table.root, f.path))
                        for f in table.snapshot.files if f.path not in old)
        return dt, rewritten

    # warm-up on a throwaway table fed copies of the first staged epochs;
    # it also measures how fast a pass drains one epoch and a backlog of 8
    warm_log = os.path.join(ctx.run_dir, "warm_log")
    os.makedirs(warm_log)
    t = time.perf_counter()
    with tr.span("setup.warmup"):
        wt = new_table("warm")
        cap = {}
        for k, upto in (("one", 1), ("backlog", 9)):
            for e in range(upto):
                dst = os.path.join(warm_log, f"epoch={e}")
                if not os.path.exists(dst):
                    shutil.copytree(os.path.join(staging, f"epoch={e}"), dst)
            t1 = time.perf_counter()
            tail_pass(wt, warm_log)
            reads(wt, upto - 1, None)
            cap[k] = time.perf_counter() - t1
        compact(wt)
    warm_s = time.perf_counter() - t
    capacity = {"one_epoch_per_pass_epochs_per_s": 1.0 / cap["one"],
                "backlog8_epochs_per_s": 8.0 / cap["backlog"]}
    shutil.rmtree(warm_log, ignore_errors=True)
    shutil.rmtree(wt.root, ignore_errors=True)

    log_dir = os.path.join(ctx.run_dir, "log")
    os.makedirs(log_dir)
    table = new_table("tail")
    pub = Publisher(staging, log_dir, n_publish, p["rate_per_s"])
    lag, point_s, scan_s, compact_s, rewritten, files = [], [], [], [], [], []
    per_run, pending_max, pending_trace, applied, checks = [], 0, [], 0, []
    run_cpu, read_cpu = [], []
    ledgered, since_compact, passes, batches = -1, 0, 0, []
    t0 = pub.start()
    deadline = t0 + 3 * ctx.seconds + 30
    try:
        while ledgered + 1 < n_publish and time.time() < deadline:
            # fixed-interval trigger, half an arrival after the last epoch
            # of the interval is due: each pass finds rate x interval new
            # epochs, and the number of passes does not depend on how fast
            # the host runs them (an overrunning pass makes the next start
            # at once)
            due = t0 + (passes + 1) * p["trigger_s"] - 0.5 / p["rate_per_s"]
            if time.time() < due:
                with tr.span("tail.wait"):
                    time.sleep(max(0.0, due - time.time()))
            if pub.published <= ledgered + 1:
                with tr.span("tail.wait"):
                    while pub.published <= ledgered + 1:
                        time.sleep(0.01)
            pending = pub.published - (ledgered + 1)
            pending_max = max(pending_max, pending)
            pending_trace.append((round(time.time() - t0, 3), pending))
            new, res, done, cpu = tail_pass(table, log_dir)
            passes += 1
            if new:
                run_cpu.append(cpu)
                ledgered = new[-1]
                lag.extend(done - pub.due[e] for e in new)
                per_run.append(len(new))
                since_compact += len(new)
            applied += sum(r.get("rows_applied", 0) for r in res if not r.get("skipped"))
            batches.append(sum(1 for r in res
                               if not r.get("skipped") and "coalesced_into" not in r))
            if ledgered < 0:
                continue
            lats, scans, fs, cpus = reads(table, ledgered, checks)
            point_s += lats
            read_cpu += cpus
            scan_s += scans
            files += fs
            if since_compact >= p["compact_every"]:
                dt, rw = compact(table)
                compact_s.append(dt)
                rewritten.append(rw)
                since_compact = 0
    finally:
        pub.stop()
    window = (t0, time.time())

    with tr.span("check"):
        log_df = spark.read.parquet(log_dir).filter(F.col("epoch") <= ledgered)
        table = LakeTable.load(spark, table.root)
        sample = sorted({u for e in range(ledgered + 1) for u in urls_by_epoch[e]})
        check_table(ctx, table.read(), log_df,
                    ctx.rng.sample(sample, min(16, len(sample))), "cdc_tail")
        _check_lake(ctx, table, set(range(ledgered + 1)), "cdc_tail")
        history = _history(log_df, sorted({u for u, _, _ in checks}))
        for u, committed, rows in checks:
            want = _replay_rows([r for r in history if r["url"] in (u, None)],
                                committed).get(u)
            have = _row_dict(rows[0]) if len(rows) == 1 else (None if not rows else rows)
            ctx.gate.check("cdc_tail.point_read", want == have,
                           f"{u} at epoch {committed}: read {have!r:.120}")
        ctx.gate.check("cdc_tail.drained", ledgered + 1 == n_publish,
                       f"{ledgered + 1} of {n_publish} published epochs ledgered "
                       "before the deadline")
        log_bytes = _dir_bytes(log_dir)
        live = _live_bytes(table)
        log_rows = log_df.count()

    return Result(
        gen_s=gen_s, warm_s=warm_s, window=window, op_s=lag, read_s=point_s,
        throughput=per_epoch * sum(per_run) / max(sum(tr.durations("cdc.run", t0)), 1e-9),
        op_span={"tail.construct", "cdc.run"},
        read_span={"lake.load", "lake.read_point"},
        # CPU per epoch applied and per point read, over the whole window:
        # the passes, their epochs and their reads are the same in every
        # run, however fast the host. Reads alternate between tables of
        # one and two files per bucket, so their median would fall in
        # the gap between the two clusters.
        op_cpu=[sum(run_cpu) / max(sum(per_run), 1)],
        read_cpu=[sum(read_cpu) / len(read_cpu)] if read_cpu else [],
        named={"read_scan_p50_s": (median(scan_s) if scan_s else float("nan"), "s"),
               "compact_p50_s": (median(compact_s) if compact_s else float("nan"), "s"),
               "lake_bytes_per_log_byte": (live / log_bytes, "bytes/byte")},
        layers={"rows_offered": per_epoch * sum(per_run),
                "cdc.run.survivor_ratio": applied / max(log_rows, 1),
                "cdc.run.batches": median(batches) if batches else 0,
                "lake.files": len(table.snapshot.files),
                "lake.snapshots": table.snapshot.version,
                "lake.delta_files": sum(f.kind == "delta" for f in table.snapshot.files),
                "lake.read_point.files_scanned": median(files) if files else 0,
                "lake.live_bytes": live,
                "lake.bytes_per_log_byte": live / log_bytes,
                "lake.compact.bytes_rewritten": sum(rewritten),
                "tail.pending_epochs_max": pending_max,
                "tail.epochs_per_run": median(per_run) if per_run else 0},
        info={"epoch_events": per_epoch, "staged_epochs": n_epochs,
              "published_target": n_publish,
              "published": pub.published, "ledgered": ledgered + 1,
              "passes": passes, "compactions": len(compact_s),
              "capacity": capacity, "scans_done": len(scan_s),
              "publish_late_s_max": max(pub.late) if pub.late else 0.0,
              "publish_late_s_p50": median(pub.late) if pub.late else 0.0,
              "pending_trace": pending_trace,
              "valid_lag": pending_max <= max_pending,
              "run_cpu_s": run_cpu, "epochs_per_pass": per_run,
              "read_cpu_s": read_cpu, "read_s": point_s,
              "key_space": p["domains"] * p["pages"], "log_rows": log_rows,
              **p},
    )


# ------------------------------------------------------------- query_mix


def query_mix(ctx: Ctx) -> Result:
    """Closed loop, one client: passes over the query library in a seeded
    order; each query is construction (``queries()[name](...)``) plus
    execution (noop write)."""
    import sys
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    import __spark_entry__ as entry
    import gen_sf

    spark, tr = ctx.spark, ctx.tracer
    sf = MIX["sf"] * ctx.scale

    def make(path):
        import contextlib
        import io
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf.gen(path, sf, seed=ctx.seed)
    sf_dir, gen_s = _generate(ctx, make)
    qs = entry.queries()

    def run_query(name: str) -> tuple[float, float]:
        took = []
        with cpu_timer(took):
            with tr.span("query.construct", query=name):
                df = qs[name](spark, sf_dir)
            with tr.span("query.exec", query=name):
                _noop(df)
        return took[0]

    # the warm-up pass collects every output for the off-clock oracle check
    def collect(name: str):
        df = qs[name](spark, sf_dir)
        return df.columns, df.collect()

    t = time.perf_counter()
    with tr.span("setup.warmup"):
        outputs = {name: ctx.gate.run(f"query.{name}", collect, name) for name in QUERIES}
    warm_s = time.perf_counter() - t

    # whole passes only, so every query has as many samples as the others:
    # the first pass always runs, a later one only if it should end inside
    # the window (a pass takes about as long as the one before it)
    op_s, read_s, per_query = [], [], {q: [] for q in QUERIES}
    op_cpu = []
    t0 = time.time()
    while not op_s or time.time() - t0 + op_s[-1] <= ctx.seconds:
        order = QUERIES[:]
        ctx.rng.shuffle(order)
        t, cpu = time.perf_counter(), 0.0
        for name in order:
            got = ctx.gate.run(f"query.{name}", run_query, name)
            if got is not None:
                read_s.append(got[0])
                per_query[name].append(got[0])
                cpu += got[1]
        op_s.append(time.perf_counter() - t)
        op_cpu.append(cpu)
    window = (t0, time.time())

    with tr.span("check"):
        recall = check_queries(ctx, entry, outputs, sf_dir)
    mix_s = median(op_s)
    # one query: the median of the per-query medians, so that each query
    # weighs the same however many passes the window held
    query_s = [median(v) for v in per_query.values() if v]

    return Result(
        gen_s=gen_s, warm_s=warm_s, window=window, op_s=op_s, read_s=query_s,
        throughput=len(QUERIES) / mix_s, op_span={"query.construct", "query.exec"},
        read_span={"query.construct", "query.exec"}, op_cpu=op_cpu,
        # the mean query of a pass: a median over 21 unlike queries would
        # pick whichever query happens to sit in the middle
        read_cpu=[c / len(QUERIES) for c in op_cpu],
        named={"query_mix_s": (mix_s, "s")},
        layers={},
        info={"sf": sf, "queries": QUERIES, "pass_s": op_s, "ann_lsh_recall": recall,
              "query_runs": len(read_s),
              "per_query_p50_s": {q: median(v) for q, v in per_query.items() if v}})


# revenue is round(sum of doubles, 2): the summation order can move the
# last cent, so this one compares within a cent
ORACLE_ABS_TOL = {"join_agg": 0.011}
# the oracle is the exact top-k, which equals LSH's answer only at full
# recall; the gate checks each returned cosine against the exact one and
# the order, and recall is reported
EXACT_COSINES = """
    SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(q.embedding AS DOUBLE[])), 4) AS cosine
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
"""


def check_queries(ctx: Ctx, entry, outputs: dict, sf_dir: str) -> float | None:
    """Each query's collected output (``outputs[name] = (columns, rows)``)
    against its DuckDB ``oracle_sql()``, compared the way
    tools/check_oracle.py compares them. Returns ann_lsh's recall@k
    against the exact top-k, when it ran."""
    import sys
    import duckdb
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    from check_oracle import TABLES, norm

    def rowset(rows):
        return sorted(rows, key=repr)

    def same(a, b, tol):
        return len(a) == len(b) and all(
            (abs(x - y) <= tol if isinstance(x, float) and isinstance(y, float) else x == y)
            for ra, rb in zip(a, b) for x, y in zip(ra, rb))

    oracles = entry.oracle_sql()
    recall = None
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in QUERIES:
            if outputs.get(name) is None:
                continue  # the query itself failed, already counted

            def compare():
                nonlocal recall
                cols, srows = outputs[name]
                scols = sorted(cols)
                ddf = con.sql(oracles[name]).df()
                if scols != sorted(ddf.columns):
                    raise ValueError(f"columns {scols} != {sorted(ddf.columns)}")
                sset = [tuple(norm(r[c]) for c in scols) for r in srows]
                dset = [tuple(norm(v) for v in row) for row in
                        ddf[scols].itertuples(index=False, name=None)]
                if name == "ann_lsh":
                    exact = {int(i): norm(c) for i, c in con.sql(EXACT_COSINES).fetchall()}
                    got = [(r["vec_id"], norm(r["cosine"])) for r in srows]
                    recall = len({i for i, _ in got} & {r["vec_id"] for _, r in
                                                         ddf.iterrows()}) / max(len(ddf), 1)
                    ok = (len(got) == len(dset) and all(exact.get(i) == c for i, c in got)
                          and all(a[1] >= b[1] for a, b in zip(got, got[1:])))
                elif not same(rowset(sset), rowset(dset), ORACLE_ABS_TOL.get(name, 0.0)):
                    ok = False
                else:
                    ok = True
                if not ok:
                    raise ValueError(f"{len(sset)} rows vs oracle {len(dset)}: values differ")
            ctx.gate.run(f"oracle.{name}", compare)
    finally:
        con.close()
    return recall


WORKLOADS = {"cdc_catchup": cdc_catchup, "cdc_tail": cdc_tail, "query_mix": query_mix}
