"""SparkSession factory with scale-aware defaults.

Defaults mirror what we would set on a 1000-executor cluster, adapted to
``local[N]``: AQE on (runtime coalesce + skew-join splitting), Arrow
enabled for the pandas-UDF path, UTC session timezone so results compare
bit-for-bit against external oracles, shuffle partitions sized to cores
instead of the 200 default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_pyfiles(out_dir: str | None = None) -> str:
    """Zip the tenzir_spark package for executor shipping.

    This is the artifact you would pass to ``spark-submit --py-files``
    on a real cluster; locally get_spark() addPyFile()s it so pandas-UDF
    workers can import the package regardless of the driver's cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = out_dir or tempfile.gettempdir()
    zip_path = os.path.join(out_dir, "tenzir_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for name in filenames:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.join("tenzir_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    return zip_path


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for this host: ``SPARK_DRIVER_MEM`` if set,
    else half of MemTotal, clamped to [1g, 32g]. In local mode the driver
    heap is the whole executor heap; the other half stays for the Python
    workers, the page cache and a tmpfs lake or shuffle dir, which share
    the same RAM; a heap larger than RAM gets the JVM OOM-killed. Without
    a readable meminfo (non-Linux) the default is 4g."""
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    try:
        with open(meminfo) as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{min(32 * 1024, max(1024, total_kb // 1024 // 2))}m"


def get_spark(
    app_name: str = "tenzir_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (else ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total executor cores and rely on
    AQE coalescing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(int(cpus), 4)
        else:
            shuffle_partitions = max(os.cpu_count() or 8, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce genuinely tiny shuffles to few tasks (default favors
        # cores-many partitions, which drowns small stages in task overhead;
        # large stages still fan out by size)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # a small table arriving as ONE parquet file would otherwise scan
        # on one core, serializing every expression over it (sf-test
        # corpora; at 100 TB sources are thousands of splits and this
        # floor is moot) — Spark's own knob for small-file parallelism
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # bounded driver collects (e.g. the ngram broadcast-index build
        # gates on ~1 GB of estimated postings) can exceed the 1g default
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    local_dir = os.environ.get("TENZIR_SPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_pyfiles())
    except Exception:
        pass  # already added in this context
    return spark
