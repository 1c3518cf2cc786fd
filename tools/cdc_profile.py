"""Per-phase profile of one CDC apply: where does an epoch's wall go?

Usage: python tools/cdc_profile.py [n_events] [n_epochs]
Prints per-epoch phase timings (scan+dedup+write vs footer-stats vs
commit vs checkpoint) by monkey-timing LakeTable internals.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tenzir_spark.session import get_spark
from tenzir_spark.cdc import CdcEngine, gen_change_log, pages_schema
from tenzir_spark.lake import LakeTable
from tenzir_spark.lake import table as table_mod


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="cdc_prof_", dir=tmp_base)
    os.environ.setdefault("TENZIR_SPARK_LOCAL_DIR", os.path.join(root, "scratch"))
    spark = get_spark("cdc_profile", master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 4))

    log_dir = os.path.join(root, "changelog")
    gen_change_log(
        spark, n_events, n_domains=200, pages_per_domain=500,
        events_per_epoch=max(n_events // n_epochs, 1),
        schema_change_every=3, first_op_insert=False,
    ).write.mode("overwrite").partitionBy("epoch").parquet(log_dir)
    log = spark.read.parquet(log_dir)

    # warmup
    wt = LakeTable.create(spark, os.path.join(root, "warm"), pages_schema(),
                          "url", num_buckets=4, write_mode="mor")
    CdcEngine(spark, wt).apply_epoch(gen_change_log(spark, 2000, events_per_epoch=2000), 0)

    # instrument: wrap the phase boundaries
    timings: list[dict] = []
    orig_write = LakeTable._write_bucketed
    orig_commit = LakeTable._commit_files
    orig_cp = LakeTable._write_checkpoints
    orig_footer = table_mod._footer_stats

    footer_wall = {"t": 0.0}

    def timed_write(self, df, **kw):
        t0 = time.perf_counter()
        out = orig_write(self, df, **kw)
        timings[-1]["write_total"] = time.perf_counter() - t0
        return out

    def timed_commit(self, *a, **kw):
        t0 = time.perf_counter()
        out = orig_commit(self, *a, **kw)
        timings[-1]["commit"] = timings[-1].get("commit", 0) + time.perf_counter() - t0
        return out

    def timed_cp(self, *a, **kw):
        t0 = time.perf_counter()
        out = orig_cp(self, *a, **kw)
        timings[-1]["checkpoint"] = time.perf_counter() - t0
        return out

    LakeTable._write_bucketed = timed_write
    LakeTable._commit_files = timed_commit
    LakeTable._write_checkpoints = timed_cp

    table = LakeTable.create(spark, os.path.join(root, "pages"), pages_schema(),
                             "url", num_buckets=32, write_mode="mor")
    eng = CdcEngine(spark, table)

    epochs = sorted(r[0] for r in log.select("epoch").distinct().collect())

    t_all = time.perf_counter()
    for e in epochs:
        timings.append({"epoch": e})
        t0 = time.perf_counter()
        eng.apply_epoch(log, e)
        timings[-1]["epoch_total"] = time.perf_counter() - t0
    total = time.perf_counter() - t_all

    LakeTable._write_bucketed = orig_write
    LakeTable._commit_files = orig_commit
    LakeTable._write_checkpoints = orig_cp

    print(f"\ntotal apply: {total:.2f}s for {n_events} events "
          f"({n_events/total:,.0f} ev/s)")
    for t in timings:
        other = t["epoch_total"] - t.get("write_total", 0) - t.get("commit", 0) - t.get("checkpoint", 0)
        print(f"  epoch {t['epoch']}: total={t['epoch_total']:.2f}s "
              f"write(job+footers)={t.get('write_total', 0):.2f}s "
              f"commit={t.get('commit', 0):.3f}s cp={t.get('checkpoint', 0):.3f}s "
              f"other(refresh/shape/plan)={other:.3f}s")

    import shutil
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
