"""perfbench: the repository's end-to-end and per-layer benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 12 --trace 0

Workloads: cdc_catchup, cdc_tail, query_mix (see perfbench/README.md).
One process, Spark ``local[nproc]``, driver heap sized from
/proc/meminfo. Everything it writes goes under ``.perfbench_run/`` in
the checkout and is removed at exit.

Stdout: a report line (``perfbench-report {...}``) with every metric
under its workload-specific name, sample counts, correctness verdicts and, with
``--trace 1``, the per-span Spark accounting; then, as the LAST line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` emits
the end-to-end metrics there, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_cpu_s": "s", "read_cpu_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "traced.op_cpu_s": "s", "traced.read_cpu_s": "s",
    "traced.op_p50_s": "s", "traced.read_mean_s": "s",
    "op.construct_s": "s", "op.exec_s": "s", "op.driver_self_s": "s",
    "op.executor_run_s": "s", "op.executor_cpu_s": "s", "op.jobs": "count",
    "op.input_rows": "count", "op.shuffle_write_bytes": "bytes",
    "op.spill_bytes": "bytes", "op.output_bytes": "bytes",
    "read.jobs": "count", "read.driver_self_s": "s", "read.executor_cpu_s": "s",
    "trace.coverage": "ratio", "trace.unattributed_jobs": "count",
    "cdc.run.decode_ratio": "ratio", "cdc.run.survivor_ratio": "ratio",
    "cdc.run.batches": "count", "lake.files": "count", "lake.snapshots": "count",
    "lake.delta_files": "count", "lake.read_point.files_scanned": "count",
    "lake.live_bytes": "bytes", "lake.bytes_per_log_byte": "ratio",
    "lake.compact.bytes_rewritten": "bytes", "tail.pending_epochs_max": "count",
    "tail.epochs_per_run": "count",
}
# what op_* / read_* / throughput mean on each workload, for the report
NAMED = {
    "cdc_catchup": {"op": "apply", "read": "read_point", "tput": "catchup_events_per_s"},
    "cdc_tail": {"op": "tail_lag", "read": "read_point", "tput": "tail_events_per_run_s"},
    # query_mix has one op sample, the pass sum it reports as query_mix_s
    "query_mix": {"op": None, "read": "query", "tput": "queries_per_s"},
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NAMED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (tests shrink the inputs)")
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    import harness
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while time.time() < deadline:
        left = harness.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline - 10:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _finite(x) -> float:
    return float(x) if x is not None and math.isfinite(x) else 0.0


def main(argv=None) -> int:
    a = _args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "tenzir_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} is not a tenzir_spark checkout "
              "(tenzir_spark/ and __spark_entry__.py missing)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness
    import workloads

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = harness.host_cpus()
    heap_mb = harness.host_heap_mb()
    os.environ.update({
        "TMPDIR": tmp, "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "TENZIR_SPARK_LOCAL_DIR": os.path.join(run_dir, "spark_local"),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    # -Xms pins the heap at its cap: the JVM's footprint then no longer
    # depends on when GC chose to grow the heap, so peak memory repeats
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    event_dir = os.path.join(run_dir, "eventlog")
    if a.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    try:
        with harness.MemorySampler() as mem:
            t = time.perf_counter()
            from tenzir_spark.session import get_spark
            spark = get_spark("perfbench", master=f"local[{cpus}]",
                              shuffle_partitions=max(cpus, 4), extra_conf=conf)
            start_s = time.perf_counter() - t
            try:
                tracer = harness.Tracer(spark if a.trace else None)
                ctx = workloads.Ctx(spark=spark, seed=a.seed, seconds=a.seconds,
                                    run_dir=run_dir, tracer=tracer, scale=a.scale)
                res = workloads.WORKLOADS[a.workload](ctx)
            finally:
                _stop_spark(spark)
        report, metrics = _metrics(a, res, ctx, start_s, mem.peak_mb(*res.window),
                                   cpus, heap_mb, event_dir if a.trace else None)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    gate = ctx.gate
    print("perfbench-report " + json.dumps(report, default=str))
    print(json.dumps({"correct": gate.failed == 0, "attempted": gate.attempted,
                      "failed": gate.failed, "metrics": metrics}))
    return 0


def _metrics(a, res, ctx, start_s, peak_mb, cpus, heap_mb, event_dir):
    import harness
    import workloads
    gate = ctx.gate
    gate.check("samples", bool(res.op_s) and bool(res.read_s),
               f"{len(res.op_s)} ops and {len(res.read_s)} reads in the window")
    setup_s = start_s + res.warm_s + harness.median(res.gen_s)
    op50, op90, read50, read90 = (harness.pct(res.op_s, 50), harness.pct(res.op_s, 90),
                                  harness.pct(res.read_s, 50), harness.pct(res.read_s, 90))
    read_mean = sum(res.read_s) / max(len(res.read_s), 1)
    op_cpu, read_cpu = harness.median(res.op_cpu), harness.median(res.read_cpu)
    # the gated op and read metrics are CPU seconds of the process tree:
    # on a shared host the hypervisor's steal moved wall times by up to 3x
    # between runs, and the kernel leaves steal out of CPU time
    e2e = {"setup_s": setup_s, "op_cpu_s": op_cpu, "read_cpu_s": read_cpu,
           "peak_rss_mb": peak_mb}
    names = NAMED[a.workload]

    def pct_row(pc, unit="s"):
        return {"value": pc[0], "unit": unit, "percentile": pc[1], "n": pc[2]}
    named = {
        "setup_s": {"value": setup_s, "unit": "s", "session_start_s": start_s,
                    "warmup_s": res.warm_s, "generate_s": res.gen_s},
        f"{names['read']}_p50_s": pct_row(read50), f"{names['read']}_p90_s": pct_row(read90),
        f"{names['read']}_mean_s": {"value": read_mean, "unit": "s", "n": len(res.read_s)},
        names["tput"]: {"value": res.throughput, "unit": "1/s"},
        "op_cpu_s": {"value": op_cpu, "unit": "s"},
        "read_cpu_s": {"value": read_cpu, "unit": "s"},
        "op_p50_s": pct_row(op50),
        "read_mean_s": {"value": read_mean, "unit": "s", "n": len(res.read_s)},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "failed_ops_ratio": {"value": gate.failed / max(gate.attempted, 1),
                             "unit": "ratio", "failed": gate.failed,
                             "attempted": gate.attempted},
        **{k: {"value": v, "unit": u} for k, (v, u) in res.named.items()},
    }
    if names["op"]:
        named[f"{names['op']}_p50_s"] = pct_row(op50)
        named[f"{names['op']}_p90_s"] = pct_row(op90)
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": {"cpus": cpus, "driver_heap_mb": heap_mb,
                                         "master": f"local[{cpus}]"},
              "metrics": named, "window_s": res.window[1] - res.window[0],
              "failures": gate.failures, "inputs": res.info}
    if not event_dir:
        return report, {k: {"value": _finite(v), "unit": END_TO_END[k]}
                        for k, v in e2e.items()}

    jobs = harness.read_event_log(event_dir)
    spans = ctx.tracer.spans
    unattributed = harness.attribute_jobs(spans, jobs)
    table = harness.span_table(spans, res.window)
    cov = harness.coverage(spans, res.window)
    gate.check("trace.coverage", cov >= 0.95, f"spans cover {cov:.3f} of the window")
    win = [s for s in spans if s["parent"] is None
           and res.window[0] <= s["start"] <= res.window[1]]
    # a query_mix op is a pass, and its read_s holds per-query medians
    n_ops = max(len(res.op_s) if a.workload == "query_mix"
                else sum(s["name"] == "cdc.run" for s in win), 1)
    n_reads = max(res.info.get("query_runs", len(res.read_s)), 1)

    def total(span_names, key):
        return sum(table.get(n, {}).get(key, 0) for n in span_names)
    construct = {"cdc.construct", "tail.construct", "query.construct"}
    layers = {
        "traced.op_cpu_s": op_cpu, "traced.read_cpu_s": read_cpu,
        "traced.op_p50_s": op50[0], "traced.read_mean_s": read_mean,
        "op.construct_s": total(res.op_span & construct, "s") / n_ops,
        "op.exec_s": total(res.op_span - construct, "s") / n_ops,
        "op.driver_self_s": total(res.op_span, "driver_self_s") / n_ops,
        "op.executor_run_s": total(res.op_span, "executor_run_s") / n_ops,
        "op.executor_cpu_s": total(res.op_span, "executor_cpu_s") / n_ops,
        "op.jobs": total(res.op_span, "jobs") / n_ops,
        "op.input_rows": total(res.op_span, "input_rows") / n_ops,
        "op.shuffle_write_bytes": total(res.op_span, "shuffle_write_bytes") / n_ops,
        "op.spill_bytes": total(res.op_span, "spill_bytes") / n_ops,
        "op.output_bytes": total(res.op_span, "output_bytes") / n_ops,
        "read.jobs": total(res.read_span, "jobs") / n_reads,
        "read.driver_self_s": total(res.read_span, "driver_self_s") / n_reads,
        "read.executor_cpu_s": total(res.read_span, "executor_cpu_s") / n_reads,
        "trace.coverage": cov, "trace.unattributed_jobs": len(unattributed),
    }
    offered = res.layers.pop("rows_offered", 0)
    if offered:
        layers["cdc.run.decode_ratio"] = total({"cdc.run"}, "input_rows") / offered
    layers.update(res.layers)
    report["trace"] = {
        "spans": table, "coverage": cov,
        "unattributed_jobs": [{k: j[k] for k in ("job", "description", "submit")}
                              for j in unattributed],
        "all_spans": harness.span_table(spans, (0, float("inf"))),
    }
    if a.workload == "query_mix":
        report["trace"]["queries"], report["trace"]["modules"] = _query_rollup(spans, res)
    return report, {k: {"value": _finite(layers.get(k, 0.0)), "unit": u}
                    for k, u in PER_LAYER.items()}


def _query_rollup(spans, res):
    """query.<name>.{construct_s, exec_s, shuffle_write_bytes} medians and
    per-module exec-time roll-ups over the window's passes."""
    import harness
    from workloads import QUERY_MODULE
    per: dict[str, dict[str, list]] = {}
    for s in spans:
        if s["name"] in ("query.construct", "query.exec") and \
                res.window[0] <= s["start"] <= res.window[1]:
            row = per.setdefault(s["query"], {"construct_s": [], "exec_s": [],
                                              "shuffle_write_bytes": []})
            if s["name"] == "query.construct":
                row["construct_s"].append(s["end"] - s["start"])
            else:
                row["exec_s"].append(s["end"] - s["start"])
                row["shuffle_write_bytes"].append(s.get("shuffle_write_bytes", 0))
    queries = {q: {k: harness.median(v) for k, v in row.items() if v}
               for q, row in per.items()}
    modules: dict[str, float] = {}
    for q, row in queries.items():
        mod = QUERY_MODULE.get(q, "operators")
        modules[f"{mod}.exec_s"] = modules.get(f"{mod}.exec_s", 0.0) + row.get("exec_s", 0.0)
    return queries, modules


if __name__ == "__main__":
    sys.exit(main())
