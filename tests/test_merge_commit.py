"""The one keyed merge path: ``upsert_by_key(deletes=...)`` replaces whole
entities in a single snapshot commit, and ``delete_by_key`` is the same
merge with no incoming rows."""

from __future__ import annotations

import pytest

from srag_spark.sources.tables import (
    delete_by_key,
    latest_manifest_version,
    read_manifest,
    read_table,
    upsert_by_key,
)

SCHEMA = "doc_id string, segment_index int, text string"
KEY = ["doc_id", "segment_index"]


def _rows(spark, path):
    return {
        (r["doc_id"], r["segment_index"]): r["text"]
        for r in read_table(spark, path).collect()
    }


def _ids(spark, ids):
    return spark.createDataFrame([(d,) for d in ids], "doc_id string")


def test_upsert_with_deletes_replaces_entities_in_one_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    base = [(f"d{i}", s, f"old{i}.{s}") for i in range(8) for s in range(3)]
    upsert_by_key(spark, path, spark.createDataFrame(base, SCHEMA), KEY, n_buckets=4)
    v0 = latest_manifest_version(spark, path)

    # d0 shrinks to one row, d1 is deleted with no replacement rows, d9
    # is new; every other entity must keep its rows untouched
    incoming = spark.createDataFrame([("d0", 0, "new0"), ("d9", 0, "new9")], SCHEMA)
    upsert_by_key(
        spark, path, incoming, KEY, deletes=_ids(spark, ["d0", "d1", "d9"])
    )
    assert latest_manifest_version(spark, path) == v0 + 1
    want = {(d, s): t for d, s, t in base if d not in ("d0", "d1")}
    want.update({("d0", 0): "new0", ("d9", 0): "new9"})
    assert _rows(spark, path) == want


def _bucket_of(spark, ids, n):
    return {
        r[0]: r[1]
        for r in _ids(spark, ids)
        .selectExpr("doc_id", f"cast(pmod(xxhash64(doc_id), {n}) as int)")
        .collect()
    }


def test_delete_only_entity_empties_its_bucket(spark, tmp_path):
    path = str(tmp_path / "t")
    buckets = _bucket_of(spark, [f"e{i}" for i in range(20)], 4)
    a = "e0"
    b = next(k for k, v in buckets.items() if v != buckets[a])
    upsert_by_key(
        spark, path, spark.createDataFrame([(a, 0, "x"), (a, 1, "y")], SCHEMA),
        KEY, n_buckets=4,
    )
    upsert_by_key(
        spark, path, spark.createDataFrame([(b, 0, "z")], SCHEMA), KEY,
        deletes=_ids(spark, [a, b]),
    )
    assert _rows(spark, path) == {(b, 0): "z"}
    # a's bucket held only a's rows: the emptied bucket left the snapshot
    assert set(read_manifest(spark, path)["buckets"]) == {str(buckets[b])}


def test_delete_missing_keys_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    delete_by_key(spark, path, _ids(spark, ["a"]), ["doc_id"])  # no table
    assert latest_manifest_version(spark, path) is None
    upsert_by_key(
        spark, path, spark.createDataFrame([("a", 0, "x")], SCHEMA), KEY, n_buckets=64
    )
    live = set(read_manifest(spark, path)["buckets"])
    # keys hashing only into buckets that are not live: no rewrite, no version
    miss = _bucket_of(spark, [f"m{i}" for i in range(40)], 64)
    dead = [k for k, b in miss.items() if str(b) not in live]
    delete_by_key(spark, path, _ids(spark, dead), ["doc_id"])
    assert latest_manifest_version(spark, path) == 1


def test_deletes_must_include_the_bucket_column(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(
        spark, path, spark.createDataFrame([("a", 0, "x")], SCHEMA), KEY, n_buckets=4
    )
    seg_only = spark.createDataFrame([(0,)], "segment_index int")
    with pytest.raises(ValueError, match="bucketed by 'doc_id'"):
        upsert_by_key(
            spark, path, spark.createDataFrame([("a", 0, "y")], SCHEMA), KEY,
            deletes=seg_only,
        )
