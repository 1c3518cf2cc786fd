"""Tests of the benchmark's own code.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
The smoke runs start one Spark process per workload (about a minute
each); the other tests share one in-process session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harness  # noqa: E402
import run  # noqa: E402


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize("n,p,used", [
    (100, 90, 90.0),          # exactly ten samples above p90
    (30, 90, 100 * (1 - 10 / 30)),  # p90 has 3 above; lowered to p66.7
    (12, 90, 50.0),           # below 20 samples only the median is reported
    (1000, 99, 99.0),
    (40, 50, 50.0),
])
def test_pct_reports_highest_percentile_with_ten_samples_beyond(n, p, used):
    values = [float(i) for i in range(n)]
    value, got, count = harness.pct(values, p)
    assert count == n
    assert got == pytest.approx(used)
    if used > 50:
        assert sum(v > value for v in values) >= 10


def test_pct_interpolates_and_handles_empty():
    assert harness.pct([3.0, 1.0, 2.0], 50) == (2.0, 50, 3)
    v, used, n = harness.pct([], 90)
    assert n == 0 and v != v


def test_span_accounting_reconciles_driver_self_time():
    spans = [{"id": "a", "name": "cdc.run", "start": 0.0, "end": 10.0, "parent": None},
             {"id": "b", "name": "lake.read_point", "start": 10.0, "end": 12.0,
              "parent": None}]
    jobs = {1: {"job": 1, "submit": 1.0, "end": 4.0, "group": None,
                "description": None, **{k: 1 for k in harness._TASK_FIELDS}},
            2: {"job": 2, "submit": 3.0, "end": 6.0, "group": None,
                "description": None, **{k: 1 for k in harness._TASK_FIELDS}},
            3: {"job": 3, "submit": 20.0, "end": 21.0, "group": None,
                "description": None, **{k: 1 for k in harness._TASK_FIELDS}},
            4: {"job": 4, "submit": 5.0, "end": 5.5, "group": "b",
                "description": None, **{k: 1 for k in harness._TASK_FIELDS}}}
    unattributed = harness.attribute_jobs(spans, jobs)
    assert [j["job"] for j in unattributed] == [3]
    run_span, read_span = spans
    assert [j["job"] for j in run_span["jobs"]] == [1, 2]
    assert run_span["job_s"] == pytest.approx(5.0)          # union of 1-4 and 3-6
    assert run_span["driver_self_s"] == pytest.approx(5.0)
    assert read_span["jobs"][0]["job"] == 4                 # by job group
    assert harness.coverage(spans, (0.0, 12.5)) == pytest.approx(12.0 / 12.5)


# ------------------------------------------------- corrupted CDC outputs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from tenzir_spark.session import get_spark
    return get_spark("perfbench_tests", master="local[2]", shuffle_partitions=2)


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory):
    """A small change log applied by CdcEngine.run into a MoR table."""
    from tenzir_spark.cdc import CdcEngine, pages_schema
    from tenzir_spark.lake import LakeTable
    import workloads
    d = tmp_path_factory.mktemp("cdc")
    log_path = str(d / "log")
    p = dict(workloads.CATCHUP, domains=5, pages=40)
    workloads._write_log(spark, log_path, 2000, 250, p, seed=7)
    table = LakeTable.create(spark, str(d / "t"), pages_schema(), "url",
                             num_buckets=4, write_mode="mor")
    CdcEngine(spark, table).run(spark.read.parquet(log_path))
    log_df = spark.read.parquet(log_path)
    urls = sorted(r[0] for r in table.read().select("url").limit(8).collect())
    return table, log_df, urls


def _ctx(spark, tmp_path):
    import workloads
    return workloads.Ctx(spark=spark, seed=1, seconds=1, run_dir=str(tmp_path),
                         tracer=harness.Tracer())


def test_intact_table_passes_every_gate(spark, applied, tmp_path):
    import workloads
    table, log_df, urls = applied
    ctx = _ctx(spark, tmp_path)
    workloads.check_table(ctx, table.read(), log_df, urls, "t")
    assert ctx.gate.failed == 0 and ctx.gate.attempted == 2, ctx.gate.failures


def test_dropped_row_is_a_failed_operation(spark, applied, tmp_path):
    from pyspark.sql import functions as F
    import workloads
    table, log_df, urls = applied
    ctx = _ctx(spark, tmp_path)
    corrupted = table.read().filter(F.col("url") != urls[0])
    workloads.check_table(ctx, corrupted, log_df, urls, "t")
    assert ctx.gate.failed == 2, ctx.gate.failures  # checksum and replay sample
    assert any("count_checksum" in f for f in ctx.gate.failures)


def test_wrong_text_is_a_failed_operation(spark, applied, tmp_path):
    from pyspark.sql import functions as F
    import workloads
    table, log_df, urls = applied
    ctx = _ctx(spark, tmp_path)
    corrupted = table.read().withColumn(
        "text", F.when(F.col("url") == urls[0], F.lit("wrong")).otherwise(F.col("text")))
    workloads.check_table(ctx, corrupted, log_df, urls, "t")
    assert ctx.gate.failed >= 1
    assert any("replay_sample" in f for f in ctx.gate.failures), ctx.gate.failures


def test_wrong_query_output_is_a_failed_operation(spark, tmp_path):
    import contextlib
    import io
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry
    import gen_sf
    import workloads
    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.gen(str(tmp_path / "sf"), 0.002, seed=3)
    qs = entry.queries()
    outputs = {}
    for name in ("where_select", "tpch_q6", "sort", "ann_lsh"):
        df = qs[name](spark, str(tmp_path / "sf"))
        outputs[name] = (df.columns, df.collect())
    ctx = _ctx(spark, tmp_path)
    workloads.check_queries(ctx, entry, outputs, str(tmp_path / "sf"))
    assert ctx.gate.failed == 0 and ctx.gate.attempted == 4, ctx.gate.failures

    cols, rows = outputs["sort"]
    outputs["sort"] = (cols, rows[:-1])                       # a dropped row
    cols, rows = outputs["ann_lsh"]
    outputs["ann_lsh"] = (cols, rows[::-1])                   # wrong order
    ctx = _ctx(spark, tmp_path)
    workloads.check_queries(ctx, entry, outputs, str(tmp_path / "sf"))
    assert ctx.gate.failed == 2, ctx.gate.failures
    assert {f.split(":")[0] for f in ctx.gate.failures} == {"oracle.sort", "oracle.ann_lsh"}


# ------------------------------------------------------------ smoke runs


def _bench(*args) -> tuple[dict, dict]:
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    report = json.loads(lines[-2].split(" ", 1)[1])
    return report, json.loads(lines[-1])


@pytest.mark.parametrize("workload,trace,scale", [
    ("cdc_catchup", 0, 0.05), ("cdc_tail", 1, 0.2), ("query_mix", 0, 0.5)])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace, scale):
    report, last = _bench("--workload", workload, "--seed", "5", "--seconds", "2",
                          "--trace", str(trace), "--scale", str(scale))
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0, report["failures"]
    assert last["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in last["metrics"].values())
    named = report["metrics"]
    for key in ("setup_s", "peak_rss_mb", "failed_ops_ratio",
                run.NAMED[workload]["tput"]):
        assert named[key]["unit"], key
    assert all("unit" in v for v in named.values())
    if trace:
        assert report["trace"]["coverage"] >= 0.95
        assert "unattributed_jobs" in report["trace"]


def test_refuses_a_directory_without_the_program(tmp_path):
    import shutil
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cdc_tail",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert "correct" not in out.stdout
