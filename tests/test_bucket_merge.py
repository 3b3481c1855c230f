"""The keyed merge's bucket kernel (``sources.tables._merge_buckets``):
one Spark job groups the batch by bucket, and one Arrow kernel per
touched bucket reads its live files, applies the batch and writes one
file."""

from __future__ import annotations

import datetime as dt
import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import srag_spark.sources.tables as T
from srag_spark.sources.tables import (
    read_manifest,
    read_table,
    rewrite_table,
    table_files,
    upsert_by_key,
)

SCHEMA = (
    "doc_id string, seg int, text string, meta map<string,string>, "
    "spans array<struct<kind:string,text:string>>, vec array<float>, "
    "ts timestamp"
)
KEY = ["doc_id", "seg"]


def _row(doc, seg, tag):
    return (
        doc,
        seg,
        f"{tag}-{doc}-{seg}",
        {"src": tag, "seg": str(seg)},
        [{"kind": "text", "text": f"{tag}{seg}"}, {"kind": "audio", "text": None}],
        [float(seg), 0.5],
        dt.datetime(2024, 3, 1, 12, 0, 0, 123456) + dt.timedelta(seconds=seg),
    )


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # a Row is a tuple too
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(_canon(r[c]) for c in cols) for r in df.collect()),
        key=repr,
    )


def _spark_merge(before, incoming, deletes, schema):
    """The merge as Spark SQL plans it: anti-join the entity deletes and
    the incoming keys, then union the deduplicated batch."""
    merged = before.join(deletes, deletes.columns, "left_anti")
    inc = incoming.dropDuplicates(KEY)
    return T._align(merged.join(inc.select(*KEY), KEY, "left_anti"), schema).unionByName(
        T._align(inc, schema)
    )


def _ts_physical_type(file):
    schema = pq.ParquetFile(file).schema
    return next(
        schema.column(i).physical_type
        for i in range(len(schema))
        if schema.column(i).path == "ts"
    )


def _bucket_of(spark, docs, n):
    got = (
        spark.createDataFrame([(d,) for d in docs], "doc_id string")
        .select("doc_id", T._key_bucket("doc_id", n).alias("b"))
        .collect()
    )
    return {r["doc_id"]: r["b"] for r in got}


def test_merge_equals_spark_merge_over_spark_and_arrow_files(spark, tmp_path):
    path = str(tmp_path / "t")
    n = 8
    docs = [f"doc{i}" for i in range(12)]
    base = [_row(d, s, "v0") for d in docs for s in range(3)]
    base.append((None, 0, "null-key", None, None, None, None))
    upsert_by_key(spark, path, spark.createDataFrame(base, SCHEMA), KEY, n_buckets=n)
    # Spark's writer lays every bucket out again (INT96 timestamps) ...
    rewrite_table(spark, path)
    # ... then one upsert puts pyarrow-written files into a few buckets
    upsert_by_key(
        spark, path, spark.createDataFrame([_row("doc0", 5, "v1")], SCHEMA), KEY
    )
    files = [r["file"] for r in table_files(spark, path).collect()]
    ts_types = {_ts_physical_type(f"{path}/{f}") for f in files}
    assert ts_types == {"INT96", "INT64"}, files

    # one bucket holds a single doc (and no null key): deleting that doc
    # empties it
    by_doc = _bucket_of(spark, docs + [None], n)
    lone = next(
        d for d in docs
        if [x for x in docs + [None] if by_doc[x] == by_doc[d]] == [d]
    )
    replaced = [d for d in docs if d != lone and by_doc[d] != by_doc[lone]][:3]
    inc_schema = (
        "doc_id string, seg int, meta map<string,string>, "
        "spans array<struct<kind:string,text:string>>, vec array<float>, "
        "ts timestamp, extra string"
    )
    incoming = spark.createDataFrame(
        [
            (d, s, {"src": "v2"}, [{"kind": "text", "text": "new"}], [1.0],
             dt.datetime(1999, 12, 31, 23, 59, 59, 999999), f"x{s}")
            for d in replaced for s in (1, 7)
        ]
        + [(None, 0, None, None, None, None, "null again")] * 2
        + [(replaced[0], 1, {"src": "v2"}, [{"kind": "text", "text": "new"}],
            [1.0], dt.datetime(1999, 12, 31, 23, 59, 59, 999999), "x1")],
        inc_schema,
    )
    deletes = spark.createDataFrame([(lone,), (replaced[1],)], "doc_id string")

    before = read_table(spark, path)
    schema = T._merge_schemas(before.schema, incoming.schema)
    expected = _rows(_spark_merge(before, incoming, deletes, schema))
    assert upsert_by_key(spark, path, incoming, KEY, deletes=deletes) == 7
    assert _rows(read_table(spark, path)) == expected
    assert str(by_doc[lone]) not in read_manifest(spark, path)["buckets"]
    assert read_table(spark, path).schema == schema


def test_bucket_larger_than_one_arrow_batch(spark, tmp_path):
    """One bucket spans several 2,000-row Arrow batches on the way in
    and out of the kernel."""
    path = str(tmp_path / "t")
    ids = spark.range(5000)
    upsert_by_key(
        spark, path,
        ids.select(F.format_string("k%05d", "id").alias("k"), F.lit("old").alias("v")),
        ["k"], n_buckets=1,
    )
    batch = spark.range(3000, 8000).select(
        F.format_string("k%05d", "id").alias("k"), F.lit("new").alias("v")
    )
    deletes = spark.range(0, 1000).select(F.format_string("k%05d", "id").alias("k"))
    assert upsert_by_key(spark, path, batch, ["k"], deletes=deletes) == 5000
    got = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
    assert len(got) == 7000
    assert got == {f"k{i:05d}": "old" if i < 3000 else "new" for i in range(1000, 8000)}
    assert table_files(spark, path).count() == 1


def test_upsert_leaves_one_file_per_touched_bucket(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = spark.range(400).select(
        F.format_string("d%03d", F.col("id") % 40).alias("doc_id"),
        F.col("id").cast("int").alias("seg"),
        F.lit("x").alias("text"),
    ).repartition(4)
    upsert_by_key(spark, path, rows, KEY, n_buckets=4)
    per_bucket = [r["n"] for r in table_files(spark, path).groupBy("bucket")
                  .agg(F.count("*").alias("n")).collect()]
    assert sorted(per_bucket) == [1, 1, 1, 1]
    before = {r["bucket"]: r["file"] for r in table_files(spark, path).collect()}
    upsert_by_key(spark, path, rows.filter("doc_id = 'd007'").repartition(3), KEY)
    after = {r["bucket"]: r["file"] for r in table_files(spark, path).collect()}
    assert sorted(after) == sorted(before)
    changed = [b for b in after if after[b] != before[b]]
    assert len(changed) == 1


def _upsert_with_retried_buckets(spark, path, monkeypatch):
    """Seed a 2-bucket table, then upsert a batch whose every bucket
    kernel runs twice, as when a task attempt fails after its write and
    Spark retries it.  Returns the live buckets before the upsert."""
    rows = [("a", 0, "a0"), ("b", 0, "b0"), ("c", 1, "c1")]
    upsert_by_key(
        spark, path, spark.createDataFrame(rows, "doc_id string, seg int, text string"),
        KEY, n_buckets=2,
    )
    before = read_manifest(spark, path)["buckets"]
    real = T._bucket_merge_kernel

    def twice(*args):
        kernel = real(*args)

        def run(key, incoming, deletes):
            kernel(key, incoming, deletes)  # the failed attempt's write
            return kernel(key, incoming, deletes)

        return run

    monkeypatch.setattr(T, "_bucket_merge_kernel", twice)
    batch = [("a", 0, "a0-new"), ("d", 2, "d2")]
    upsert_by_key(
        spark, path, spark.createDataFrame(batch, "doc_id string, seg int, text string"),
        KEY,
    )
    monkeypatch.undo()
    return before


MERGED = [("a", 0, "a0-new"), ("b", 0, "b0"), ("c", 1, "c1"), ("d", 2, "d2")]


def _merged_rows(spark, path):
    return sorted((r["doc_id"], r["seg"], r["text"]) for r in read_table(spark, path).collect())


def test_retried_bucket_attempts_land_in_distinct_dirs(spark, tmp_path, monkeypatch):
    """Each attempt of a retried bucket writes its own directory, and
    the manifest commits the rows of the attempt whose result the job
    returned, once."""
    path = str(tmp_path / "t")
    before = _upsert_with_retried_buckets(spark, path, monkeypatch)
    m = read_manifest(spark, path)
    touched = {b: d for b, d in m["buckets"].items() if before.get(b) != d}
    (commit,) = {d.split("/")[1] for d in touched.values()}
    for b, d in touched.items():
        attempts = glob.glob(f"{path}/data/{commit}/{T.BUCKET_COL}={b}/*/part-*.parquet")
        assert len(attempts) == 2, attempts
        assert len({f.rsplit("/", 2)[1] for f in attempts}) == 2
        assert f"{path}/{d}/part-00000.parquet" in attempts
    assert _merged_rows(spark, path) == MERGED


def test_vacuum_reclaims_dead_attempts_of_a_live_commit(spark, tmp_path, monkeypatch):
    """The failed attempts' dirs sit under a commit the manifest still
    references; vacuum judges liveness per dir, so it removes them and
    leaves exactly the committed attempt of each live bucket."""
    path = str(tmp_path / "t")
    before = _upsert_with_retried_buckets(spark, path, monkeypatch)
    live = read_manifest(spark, path)["buckets"]
    touched = [b for b, d in live.items() if before.get(b) != d]
    assert T.vacuum(spark, path, min_age_seconds=0) >= len(touched)
    on_disk = glob.glob(f"{path}/data/*/{T.BUCKET_COL}=*/*")
    assert sorted(on_disk) == sorted(f"{path}/{d}" for d in live.values())
    assert _merged_rows(spark, path) == MERGED


def test_vacuum_reclaims_superseded_buckets_of_a_spark_commit(spark, tmp_path):
    """A Spark-written commit (``rewrite_table``) references its
    ``_kb=N`` dirs directly; once a merge supersedes one of them, vacuum
    removes that dir while the commit's other buckets stay live."""
    path = str(tmp_path / "t")
    schema = "doc_id string, seg int, text string"
    rows = [("a", 0, "a0"), ("b", 0, "b0"), ("c", 1, "c1")]
    upsert_by_key(spark, path, spark.createDataFrame(rows, schema), KEY, n_buckets=2)
    rewrite_table(spark, path)
    spark_written = read_manifest(spark, path)["buckets"]
    upsert_by_key(spark, path, spark.createDataFrame([("a", 0, "a0-new")], schema), KEY)
    live = read_manifest(spark, path)["buckets"]
    assert 0 < sum(spark_written[b] == d for b, d in live.items()) < len(live)
    assert T.vacuum(spark, path, min_age_seconds=0) >= 2
    bucket_dirs = glob.glob(f"{path}/data/*/{T.BUCKET_COL}=*")
    assert sorted(bucket_dirs) == sorted(
        f"{path}/" + "/".join(d.split("/")[:3]) for d in live.values()
    )
    assert _merged_rows(spark, path) == [("a", 0, "a0-new"), ("b", 0, "b0"), ("c", 1, "c1")]


def test_merge_after_an_observation(spark, tmp_path):
    """The kernel's closure holds no session, so it still serializes
    once the session has run an ``Observation``."""
    from pyspark.sql import Observation

    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get == {"n": 3}
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("a", "1"), ("b", "2")], "k string, v string")
    assert upsert_by_key(spark, path, df, ["k"], n_buckets=2) == 2
    assert upsert_by_key(spark, path, df.limit(1), ["k"]) == 1
    assert read_table(spark, path).count() == 2


def test_unresolvable_uri_fails_before_any_job(spark, jobs_run_by):
    df = spark.createDataFrame([("a", "1")], "k string, v string")

    def attempt():
        with pytest.raises(ValueError, match="pyarrow.fs"):
            upsert_by_key(spark, "nosuchscheme://host/t", df, ["k"])

    _, jobs = jobs_run_by(attempt)
    assert jobs == []
