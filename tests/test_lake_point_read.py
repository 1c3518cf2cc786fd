"""Point reads: bucket pruning by a driver-side hash, and DataFrame
construction without schema-inference jobs."""

from __future__ import annotations

import os
import random
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake import LakeTable
from tenzir_spark.lake.format import bucket_expr, string_bucket

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
    T.StructField("lang", T.StringType(), True),
])
KEYS = [f"k{i:02d}" for i in range(24)]


def _hash_inputs() -> list[str]:
    """Seeded strings covering every XXH64 branch: every length 0..70
    (32-byte stripes, 8/4/1-byte tails), multi-byte UTF-8, and ''."""
    rng = random.Random(20261017)
    alphabet = "abcxyz019/:._-?=&" + "éßø" + "漢字語" + "😀🚀"
    out = ["", "a", "é", "漢", "😀", "é" * 16, "漢" * 11, "😀" * 8]
    out += ["".join(rng.choice(alphabet) for _ in range(n)) for n in range(71)]
    out += ["".join(rng.choice("abcdef0123456789") for _ in range(n)) for n in range(71)]
    while len(out) < 1200:
        out.append("".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 140))))
    return out


def test_string_bucket_matches_bucket_expr(spark):
    keys = _hash_inputs()
    assert len(keys) >= 1000 and {len(k.encode()) for k in keys} >= set(range(71))
    counts = (1, 8, 16, 4096)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = df.select("k", *[bucket_expr("k", n).alias(f"b{n}") for n in counts]).collect()
    assert len(got) == len(keys)
    bad = [(r.k, n) for r in got for n in counts if string_bucket(r.k, n) != r[f"b{n}"]]
    assert not bad, bad[:5]


def _paths(df) -> set[str]:
    return {urlparse(p).path for p in df.inputFiles()}


def _surviving(table: LakeTable, key) -> set[str]:
    """Files a point read of ``key`` must scan: the key's bucket, then the
    per-file min/max window."""
    snap = table.snapshot
    b = string_bucket(key, snap.num_buckets)
    out = set()
    for f in snap.files:
        st = f.stats.get(snap.key_col)
        if f.bucket == b and (st is None or st.get("min") is None
                              or st["min"] <= key <= st["max"]):
            out.add(table.io.join(table.root, f.path))
    return out


def _assert_point_reads_exact(table: LakeTable, keys: list[str]) -> None:
    kc = table.snapshot.key_col
    full = table.read()
    want = {r[kc]: r for r in full.collect()}
    full_files = _paths(full)
    for u in keys:
        point = table.read(key_range=(u, u)).filter(F.col(kc) == u)
        got = point.collect()
        assert got == ([want[u]] if u in want else []), u
        assert _paths(point) == _surviving(table, u), u
        assert len(_paths(point)) < len(full_files)


def _changes(spark, rows, cols: str):
    return spark.createDataFrame(rows, "url string, op string, lsn long, " + cols)


def test_point_read_mor_across_add_and_rename(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "mor"), SCHEMA, "url",
                         num_buckets=8, write_mode="mor")
    t.append(spark.createDataFrame([(k, i, "en") for i, k in enumerate(KEYS)], SCHEMA))
    t.alter([{"op": "add", "name": "tags", "type": "string"}])
    t.merge(_changes(spark, [(k, "update", 100 + i, i * 10, f"t{i}")
                             for i, k in enumerate(KEYS) if i % 3 == 0],
                     "v long, tags string"), 1)
    t.alter([{"op": "rename", "from": "lang", "to": "language"}])
    t.merge(_changes(spark, [("k01", "delete", 300, None, None),
                             ("k05", "update", 301, 55, "de"),
                             ("k30", "insert", 302, 30, "fr")],
                     "v long, language string"), 2)
    snap = t.snapshot
    assert {f.kind for f in snap.files} == {"base", "delta"}
    assert {f.schema_epoch for f in snap.files} == {0, 1, 2}
    _assert_point_reads_exact(t, KEYS + ["k30", "absent"])
    rows = {r.url: r for r in t.read(key_range=("k05", "k05")).collect()}
    assert (rows["k05"].v, rows["k05"].language) == (55, "de")
    assert t.read(key_range=("k01", "k01")).filter(F.col("url") == "k01").count() == 0
    # an explicit buckets= list intersects with the key's bucket
    b = string_bucket("k05", snap.num_buckets)
    assert _paths(t.read(buckets=[b], key_range=("k05", "k05"))) == _surviving(t, "k05")
    assert t.read(buckets=[(b + 1) % 8], key_range=("k05", "k05")).inputFiles() == []


def test_point_read_cow(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "cow"), SCHEMA, "url", num_buckets=8)
    t.merge(_changes(spark, [(k, "insert", i, i, "en") for i, k in enumerate(KEYS)],
                     "v long, lang string"), 0)
    t.alter([{"op": "add", "name": "tags", "type": "string"}])
    t.merge(_changes(spark, [("k02", "delete", 50, None, None, None),
                             ("k04", "update", 51, 44, "de", "x")],
                     "v long, lang string, tags string"), 1)
    _assert_point_reads_exact(t, KEYS + ["absent"])


def test_point_read_long_key_scans_every_bucket(spark, tmp_path):
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("v", T.StringType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "long"), schema, "id", num_buckets=4)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(40)], schema))
    assert len({f.bucket for f in t.snapshot.files}) == 4
    for k in (0, 7, 39, 99):
        point = t.read(key_range=(k, k))
        kept = {t.io.join(t.root, f.path) for f in t.snapshot.files
                if f.stats["id"]["min"] <= k <= f.stats["id"]["max"]}
        assert _paths(point) == kept
        assert [r.v for r in point.filter(F.col("id") == k).collect()] == \
            ([f"v{k}"] if k < 40 else [])


def test_read_construction_submits_no_jobs(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "jobs"), SCHEMA, "url",
                         num_buckets=4, write_mode="mor")
    t.append(spark.createDataFrame([(k, i, "en") for i, k in enumerate(KEYS)], SCHEMA))
    t.alter([{"op": "add", "name": "tags", "type": "string"}])
    t.merge(_changes(spark, [("k03", "update", 10, 3, "a"), ("k09", "update", 11, 9, "b")],
                     "v long, tags string"), 1)
    assert len({f.schema_epoch for f in t.snapshot.files}) == 2
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"read-construct-{tmp_path.name}"
    sc.setJobGroup(group, "read construction")
    try:
        before = set(tracker.getJobIdsForGroup(group))
        frames = [t.read(), t.read(buckets=[t.snapshot.files[0].bucket]),
                  t.read(resolve=False), t.read(key_range=("k03", "k03"))]
        after = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    assert after == before
    assert all(f.schema is not None for f in frames)


@pytest.mark.parametrize("bad", ["missing", "no-spark-metadata"])
def test_read_falls_back_to_inference(spark, tmp_path, bad):
    """A file whose footer carries no Spark schema (or cannot be opened)
    takes Spark's inference path: same rows, same error for a lost file."""
    import pyarrow.parquet as pq

    t = LakeTable.create(spark, str(tmp_path / "fb"), SCHEMA, "url", num_buckets=2)
    t.append(spark.createDataFrame([(k, i, "en") for i, k in enumerate(KEYS)], SCHEMA))
    want = sorted((r.url, r.v) for r in t.read().collect())
    f = t.snapshot.files[0]
    path = t.io.join(t.root, f.path)
    if bad == "missing":
        t.io.delete(path)
        with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
            t.read()
        return
    tbl = pq.read_table(path)
    pq.write_table(tbl.replace_schema_metadata({}), path)
    # Hadoop's local filesystem checks a sibling .crc of the old bytes
    crc = t.io.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    t.io.delete(crc)
    assert b"org.apache.spark.sql.parquet.row.metadata" not in \
        (pq.read_metadata(path).metadata or {})
    assert sorted((r.url, r.v) for r in t.read().collect()) == want
