"""Phase profile of the EXACT bench apply path (CdcEngine.run with
coalescing) at one parallelism width — used to attribute the N->4N
scaling gap (BASELINE.md) to specific phases.

Usage: SPARK_GRAFT_CPUS=32 python tools/cdc_phase_profile.py [n_events] [n_epochs]
Requires BENCH_LOG_DIR pointing at a pre-generated epoch-partitioned log
(or generates one under /dev/shm).

Prints one JSON line: {"cores": C, "total": s, "discovery": s,
"prepare_jobs": [s...], "footer_wall": s, "commit": s, "alter": s}
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tenzir_spark.session import get_spark
from tenzir_spark.cdc import CdcEngine, gen_change_log, pages_schema
from tenzir_spark.cdc.engine import _descriptors, _epochs_from_paths
from tenzir_spark.lake import LakeTable
from tenzir_spark.lake import table as table_mod


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 64_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="cdc_phase_", dir=tmp_base)
    os.environ.setdefault("TENZIR_SPARK_LOCAL_DIR", os.path.join(root, "scratch"))
    spark = get_spark("cdc_phase", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 4))

    log_dir = os.environ.get("BENCH_LOG_DIR") or os.path.join(root, "changelog")
    if not os.path.isdir(os.path.join(log_dir, "epoch=0")):
        gen_change_log(
            spark, n_events, n_domains=200, pages_per_domain=500,
            events_per_epoch=max(n_events // n_epochs, 1),
            schema_change_every=3, first_op_insert=False,
        ).write.mode("overwrite").partitionBy("epoch").parquet(log_dir)
    log = spark.read.parquet(log_dir)

    # warmup identical to bench.py
    @F.pandas_udf("long")
    def _warm(x):
        return x
    (spark.range(cpus * 4).repartition(cpus)
     .select(_warm("id").alias("v")).groupBy().sum("v")
     .write.format("noop").mode("overwrite").save())
    wt = LakeTable.create(spark, os.path.join(root, "warm"), pages_schema(),
                          "url", num_buckets=4, write_mode="mor")
    CdcEngine(spark, wt).apply_epoch(
        gen_change_log(spark, 2000, events_per_epoch=2000), 0)

    phases = {"footer_wall": 0.0, "commit": 0.0, "alter": 0.0,
              "checkpoint": 0.0, "write_jobs": []}

    orig_footer = table_mod._footer_stats
    orig_commitf = LakeTable._commit_files
    orig_alter = LakeTable.alter
    orig_cp = LakeTable._write_checkpoints
    orig_wb = LakeTable._write_bucketed

    import threading
    flock = threading.Lock()

    def timed_footer(*a, **kw):
        t0 = time.perf_counter()
        out = orig_footer(*a, **kw)
        with flock:
            phases["footer_wall"] += time.perf_counter() - t0
        return out

    def timed_commitf(self, *a, **kw):
        t0 = time.perf_counter()
        out = orig_commitf(self, *a, **kw)
        phases["commit"] += time.perf_counter() - t0
        return out

    def timed_alter(self, *a, **kw):
        t0 = time.perf_counter()
        out = orig_alter(self, *a, **kw)
        phases["alter"] += time.perf_counter() - t0
        return out

    def timed_cp(self, *a, **kw):
        t0 = time.perf_counter()
        out = orig_cp(self, *a, **kw)
        phases["checkpoint"] += time.perf_counter() - t0
        return out

    def timed_wb(self, df, **kw):
        t0 = time.perf_counter()
        out = orig_wb(self, df, **kw)
        phases["write_jobs"].append(round(time.perf_counter() - t0, 3))
        return out

    table_mod._footer_stats = timed_footer
    LakeTable._commit_files = timed_commitf
    LakeTable.alter = timed_alter
    LakeTable._write_checkpoints = timed_cp
    LakeTable._write_bucketed = timed_wb

    table = LakeTable.create(spark, os.path.join(root, "pages"), pages_schema(),
                             "url", num_buckets=int(os.environ.get("BENCH_BUCKETS", "32")),
                             write_mode="mor")
    eng = CdcEngine(spark, table)

    t_all = time.perf_counter()
    # ---- replicate run()'s discovery with a timer ----
    t0 = time.perf_counter()
    epochs = _epochs_from_paths(log)
    desc = _descriptors(log)
    phases["discovery"] = time.perf_counter() - t0

    eng._run_batched(log, epochs, desc, max_inflight=2, max_coalesce=8)
    total = time.perf_counter() - t_all

    table_mod._footer_stats = orig_footer
    LakeTable._commit_files = orig_commitf
    LakeTable.alter = orig_alter
    LakeTable._write_checkpoints = orig_cp
    LakeTable._write_bucketed = orig_wb

    out = {"cores": cpus, "events": n_events, "total": round(total, 3),
           "discovery": round(phases["discovery"], 3),
           "write_jobs": phases["write_jobs"],
           "footer_wall": round(phases["footer_wall"], 3),
           "alter": round(phases["alter"], 3),
           "commit": round(phases["commit"], 3),
           "checkpoint": round(phases["checkpoint"], 3),
           "throughput": round(n_events / total, 1)}
    print(json.dumps(out))
    import shutil
    if not os.environ.get("BENCH_LOG_DIR"):
        shutil.rmtree(root, ignore_errors=True)
    else:
        shutil.rmtree(os.path.join(root, "pages"), ignore_errors=True)


if __name__ == "__main__":
    main()
