"""One CDC apply path: every entry point — run() on a file log, run() on
an in-memory frame, an apply_epoch loop, run_stream, stream_cdc_apply —
goes through CdcEngine.run, leaves the pure-Python replay state and takes
the broadcast two-pass dedup on every batch. Callers without the WAL
contract (tied lsns) keep the tie-safe max_by plan, and an apply releases
its pass-1 materialisation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tenzir_spark import streaming
from tenzir_spark.cdc import CdcEngine, gen_change_log, pages_schema, replay
from tenzir_spark.lake import LakeTable
from tenzir_spark.plans.pipeline import Pipeline

N_EVENTS = 1_200
EPOCH_SIZE = 300


@pytest.fixture(scope="module")
def change_log(spark):
    # 8 urls under Zipf domains: one url carries about half the events
    df = gen_change_log(spark, N_EVENTS, n_domains=8, pages_per_domain=1,
                        events_per_epoch=EPOCH_SIZE, schema_change_every=2,
                        seed=5).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def log_rows(change_log):
    rows = [r.asDict() for r in change_log.collect()]
    ops = [r["op"] for r in rows]
    assert "schema" in ops and "delete" in ops  # an ADD and deletes
    return rows


@pytest.fixture(scope="module")
def log_dirs(change_log, tmp_path_factory):
    """The log as an epoch-partitioned directory and as a flat directory
    of one file per epoch (one micro-batch per file for stream_cdc_apply)."""
    base = tmp_path_factory.mktemp("cdclog")
    parted, flat = str(base / "parted"), str(base / "flat")
    change_log.write.partitionBy("epoch").parquet(parted)
    for e in range(N_EVENTS // EPOCH_SIZE):
        change_log.filter(F.col("epoch") == e).coalesce(1) \
            .write.mode("append").parquet(flat)
    return parted, flat


def _state(table):
    table.refresh()
    out = {}
    for r in table.read().collect():
        d = r.asDict()
        out[d["url"]] = {k: (bytes(v) if isinstance(v, bytearray) else v)
                         for k, v in d.items()}
    return out


def _assert_equals_replay(table, log_rows):
    expected, columns = replay(log_rows)
    got = _state(table)
    assert set(got) == set(expected)
    assert [f.name for f in table.snapshot.schema.fields] == columns
    for url, exp in expected.items():
        for c in columns:
            g = got[url][c]
            if c == "warc_ts" and g is not None:
                g = g.replace(tzinfo=None)
            assert g == exp[c], f"{url}.{c}: {g!r} != {exp[c]!r}"


def _plans(table) -> list[str]:
    """The dedup plan of every batch-owning ledger entry."""
    table.refresh()
    return [e.get("plan") for e in table.snapshot.ledger.values()
            if "coalesced_into" not in e]


def _apply(spark, how, log, log_dirs, root, mode):
    table = LakeTable.create(spark, str(root / "t"), pages_schema(), "url",
                             num_buckets=4, write_mode=mode)
    engine = CdcEngine(spark, table)
    parted, flat = log_dirs
    if how == "run_files":
        engine.run(spark.read.parquet(parted))
    elif how == "run_frame":
        engine.run(log)
    elif how == "apply_epoch":
        for e in range(N_EVENTS // EPOCH_SIZE):
            engine.apply_epoch(log, e)
    elif how == "run_stream":
        engine.run_stream(parted, str(root / "cp")).awaitTermination(120)
    elif how == "stream_cdc_apply":
        stream = (spark.readStream.schema(spark.read.parquet(flat).schema)
                  .option("maxFilesPerTrigger", 1).parquet(flat))
        streaming.stream_cdc_apply(stream, table, str(root / "cp")) \
            .awaitTermination(120)
    return table


@pytest.mark.parametrize("how", ["run_files", "run_frame", "apply_epoch",
                                 "run_stream", "stream_cdc_apply"])
def test_mor_entry_points_equal_replay(spark, change_log, log_rows, log_dirs,
                                       tmp_path, how):
    table = _apply(spark, how, change_log, log_dirs, tmp_path, "mor")
    _assert_equals_replay(table, log_rows)
    plans = _plans(table)
    assert plans and all(p == "bcast2pass" for p in plans), plans
    if how == "stream_cdc_apply":
        # one micro-batch per file, each its own epoch
        assert len(plans) == N_EVENTS // EPOCH_SIZE


@pytest.mark.parametrize("how", ["run_frame", "apply_epoch"])
def test_cow_entry_points_equal_replay(spark, change_log, log_rows, log_dirs,
                                       tmp_path, how):
    table = _apply(spark, how, change_log, log_dirs, tmp_path, "cow")
    _assert_equals_replay(table, log_rows)
    plans = _plans(table)
    assert len(plans) == N_EVENTS // EPOCH_SIZE
    assert all(p == "bcast2pass" for p in plans), plans
    # the epoch stats come from pass 1: one survivor per key
    for e, entry in table.snapshot.ledger.items():
        data = [r for r in log_rows if r["epoch"] == int(e) and r["op"] != "schema"]
        assert entry["rows_applied"] == len({r["url"] for r in data}), e
        assert entry["lsn_watermark"] == max(r["lsn"] for r in data), e


def test_non_wal_import_stays_tie_safe(spark, tmp_path):
    """The TQL import sink stamps one constant lsn (0) on every row: tied
    lsns per key, so the merge must take the max_by plan (a semi-join on (key, lsn)
    would keep every tied row) and the delta must hold one row per key,
    which compaction's metadata-only promotion relies on."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("url", T.StringType(), False),
                           T.StructField("lang", T.StringType(), True)])
    table = LakeTable.create(spark, str(tmp_path / "t"), schema, "url",
                             num_buckets=2, write_mode="mor")
    urls = [f"u{i}" for i in range(5)]

    def batch(langs, lsn):
        return spark.createDataFrame(
            [(u, lang, "upsert", lsn) for u in urls for lang in langs],
            "url string, lang string, op string, lsn long")
    # the second import's constant lsn is higher, so it wins every key
    for epoch, df in enumerate((batch("abc", 0), batch("de", 1))):
        entry = Pipeline(df).import_into(table, epoch)
        assert entry["plan"] == "maxby"
        assert entry["rows_applied"] == len(urls)
    table.refresh()
    assert [e["plan"] for e in table.snapshot.ledger.values()] == ["maxby"] * 2
    for f in table.snapshot.files:
        assert f.kind == "delta"
        keys = [r.url for r in spark.read.parquet(
            f"{table.root}/{f.path}").select("url").collect()]
        assert len(keys) == len(set(keys)), f.path
    table.compact()
    rows = table.read().collect()
    assert sorted(r.url for r in rows) == urls
    assert all(r.lang in ("d", "e") for r in rows)


def test_applies_release_pass1(spark, change_log, tmp_path):
    """Three MoR applies leave no new persisted RDD behind, without a
    forced JVM GC: the pass-1 aggregate is released once the delta is
    written."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    plans = []
    for i in range(3):
        table = LakeTable.create(spark, str(tmp_path / f"t{i}"), pages_schema(),
                                 "url", num_buckets=4, write_mode="mor")
        CdcEngine(spark, table).run(change_log)
        plans += _plans(table)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert after - before == set()
    assert plans and all(p == "bcast2pass" for p in plans), plans
