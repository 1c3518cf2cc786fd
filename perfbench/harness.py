"""Measurement plumbing shared by the perfbench workloads.

Nothing here touches engine internals: spans wrap public calls from the
outside, Spark's own accounting comes from its JSON event log, and
memory is read from /proc.
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------ host fit


def host_cpus() -> int:
    """CPUs this process may run on (what `nproc` prints without an
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def host_heap_mb(meminfo: str = "/proc/meminfo") -> int:
    """Driver heap sized to the host: a quarter of MemAvailable, so the
    lake, shuffle scratch, page cache and the Python workers keep the
    rest; clamped to [1 GiB, 2 GiB] because the inputs are small, the
    machine's memory may be shared, and a heap that fills to its cap
    makes peak memory repeatable."""
    avail_kb = None
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
                break
    if avail_kb is None:
        raise RuntimeError("MemAvailable missing from /proc/meminfo")
    return int(min(2048, max(1024, avail_kb // 1024 // 4)))


# ---------------------------------------------------------- statistics


def pct(values: list[float], p: float) -> tuple[float, float, int]:
    """The ``p``-th percentile of ``values`` by linear interpolation,
    lowered to the highest percentile that still has at least ten
    samples above it (never below the median).

    Returns ``(value, percentile_used, sample_count)``; with fewer than
    20 samples the median is all a sample supports and is returned."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), p, 0
    used = min(p, max(50.0, 100.0 * (1.0 - 10.0 / n)))
    k = (n - 1) * used / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo), used, n


def median(values: list[float]) -> float:
    return pct(values, 50.0)[0]


# ------------------------------------------------------- correctness


class Gate:
    """Counts operations and correctness checks; a raised exception or a
    failed check is one failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, what: str, fn, *args, **kwargs):
        """Call ``fn`` as one counted operation; returns its result, or
        None when it raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # an engine failure is a measured outcome
            self.failed += 1
            self.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:500])
        return ok


# ------------------------------------------------------------- memory


def descendants(pid: int) -> list[int]:
    """Process ids of every descendant of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree_pss_kb(root_pid: int) -> int:
    """Proportional resident memory of ``root_pid`` and its descendants
    (the Python driver, the JVM it launched and the JVM's Python
    workers). PSS, not RSS: forked Python workers share most pages with
    their daemon, and summing RSS would count those pages once per
    worker."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, reaped: bool = True) -> int:
    """utime + stime (and, with ``reaped``, the time of reaped children)
    from a /proc stat file, in ticks."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def tree_cpu() -> dict[int, int]:
    """CPU ticks by pid of every descendant of this process (the JVM and
    its Python workers) and of this process's main thread, the one that
    drives Spark; the benchmark's own helper threads (publisher, memory
    sampler) are left out.

    The kernel charges a task only for the time it ran, not for time the
    hypervisor took its vCPU away (steal), so CPU time does not swell
    when neighbours on a shared host are busy, as wall time does."""
    me = os.getpid()
    out = {}
    for pid in descendants(me):
        try:
            out[pid] = _cpu_ticks(f"/proc/{pid}/stat")
        except (OSError, ValueError, IndexError):
            continue
    out[me] = _cpu_ticks(f"/proc/{me}/task/{me}/stat", reaped=False)
    return out


def cpu_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the process tree used between two ``tree_cpu`` calls.
    A process started in between counts in full; one that exited and was
    reaped has moved its time into its parent's reaped-children time."""
    return (sum(after.values()) - sum(before.values())) * _TICK_S


@contextmanager
def cpu_timer(out: list):
    """Append the wall and CPU seconds of the block to ``out``."""
    c0 = tree_cpu()
    t0 = time.perf_counter()
    try:
        yield
    finally:
        wall = time.perf_counter() - t0
        out.append((wall, cpu_between(c0, tree_cpu())))


class MemorySampler:
    """Samples the process tree's memory (PSS) on one thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.time(), _tree_pss_kb(pid)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_mb(self, lo: float, hi: float) -> float:
        """Peak over the samples taken between ``lo`` and ``hi``."""
        return max((kb for t, kb in self.samples if lo <= t <= hi), default=0) / 1024.0


# -------------------------------------------------------------- spans


class Tracer:
    """Spans around public calls, kept in memory.

    With ``spark`` given (traced runs), each span also names the Spark
    job group, so jobs submitted from the calling thread carry the span
    id in the event log; jobs an engine submits from its own threads are
    attributed by time instead (see attribute_jobs)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"pb{next(self._ids)}-{name}",
               "name": name, "start": time.time(), "end": None,
               "parent": self._open[-1]["id"] if self._open else None,
               **attrs}
        self._open.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.spans.append(rec)
            if sc is not None:
                if self._open:
                    sc.setJobGroup(self._open[-1]["id"], self._open[-1]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["start"] >= since]


# ---------------------------------------------- Spark event-log accounting

_TASK_FIELDS = ("executor_run_s", "executor_cpu_s", "input_rows",
                "input_bytes", "shuffle_write_bytes", "spill_bytes",
                "output_bytes", "gc_s")


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job accounting from a Spark JSON event log: submission and
    completion time (epoch seconds), job group, and the task metrics of
    the stages the job ran."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                   + glob.glob(os.path.join(log_dir, "local-*")))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "job": jid, "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "group": props.get("spark.jobGroup.id"),
                        "description": props.get("spark.job.description"),
                        **{k: 0 for k in _TASK_FIELDS}}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid, m in tasks:
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        inp = m.get("Input Metrics") or {}
        out = m.get("Output Metrics") or {}
        shw = m.get("Shuffle Write Metrics") or {}
        job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        job["input_rows"] += inp.get("Records Read", 0)
        job["input_bytes"] += inp.get("Bytes Read", 0)
        job["output_bytes"] += out.get("Bytes Written", 0)
        job["shuffle_write_bytes"] += shw.get("Shuffle Bytes Written", 0)
        job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> list[dict]:
    """Give every span its Spark jobs and their accounting, plus its
    driver self time (wall minus the time its jobs cover). A job goes to
    the span named by its job group; failing that (jobs an engine starts
    from its own thread pool), to the innermost span open when it was
    submitted. Returns the jobs that no span claims."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["jobs"] = []
    unattributed = []
    for job in sorted(jobs.values(), key=lambda j: j["job"]):
        owner = by_id.get(job["group"])
        if owner is None:
            open_ = [s for s in spans if s["start"] <= job["submit"] <= s["end"]]
            owner = min(open_, key=lambda s: s["end"] - s["start"]) if open_ else None
        if owner is None:
            unattributed.append(job)
        else:
            owner["jobs"].append(job)
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        own = [(j["submit"], j["end"]) for j in s["jobs"]]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["job_s"] = _covered(own, s["start"], s["end"])
        s["driver_self_s"] = max(
            0.0, (s["end"] - s["start"]) - _covered(own + kids, s["start"], s["end"]))
        for k in _TASK_FIELDS:
            s[k] = sum(j[k] for j in s["jobs"])
    return unattributed


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_table(spans: list[dict], window: tuple[float, float]) -> dict[str, dict]:
    """Per-span-name roll-up of the spans inside ``window``."""
    out: dict[str, dict] = {}
    for s in spans:
        if s["parent"] is not None or not (window[0] <= s["start"] <= window[1]):
            continue
        row = out.setdefault(s["name"], {"n": 0, "s": 0.0, "jobs": 0, "job_s": 0.0,
                                         "driver_self_s": 0.0,
                                         **{k: 0 for k in _TASK_FIELDS}})
        row["n"] += 1
        row["s"] += s["end"] - s["start"]
        row["jobs"] += len(s.get("jobs", []))
        row["job_s"] += s.get("job_s", 0.0)
        row["driver_self_s"] += s.get("driver_self_s", 0.0)
        for k in _TASK_FIELDS:
            row[k] += s.get(k, 0)
    return out


def coverage(spans: list[dict], window: tuple[float, float]) -> float:
    """Share of the window's wall time that top-level spans account for
    (each span's wall is its jobs' time plus its driver self time)."""
    lo, hi = window
    inside = [(s["start"], s["end"]) for s in spans
              if s["parent"] is None and s["start"] < hi and s["end"] > lo]
    return _covered(inside, lo, hi) / max(hi - lo, 1e-9)
