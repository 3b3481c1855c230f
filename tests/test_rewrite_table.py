"""rewrite_table: snapshot-atomic compaction + bucket-layout evolution."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from srag_spark.sources.tables import (
    read_manifest,
    read_table,
    rewrite_table,
    upsert_by_key,
    vacuum,
)

SCHEMA = "doc_id string, segment_index int, text string"


def _rows(spark, path, version=None):
    return {
        (r["doc_id"], r["segment_index"]): r["text"]
        for r in read_table(spark, path, version=version).collect()
    }


def _seed(spark, path, n_docs=20, n_buckets=4):
    for batch in range(4):  # several commits → several live commit dirs
        rows = [
            (f"d{i}", batch, f"t{i}.{batch}")
            for i in range(batch, n_docs, 4)
        ]
        upsert_by_key(
            spark,
            path,
            spark.createDataFrame(rows, SCHEMA),
            ["doc_id", "segment_index"],
            n_buckets=n_buckets,
        )


def test_rewrite_preserves_content_and_coalesces_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    before = _rows(spark, path)
    v_before = read_manifest(spark, path)["version"]
    n_dirs_before = len(glob.glob(f"{path}/data/c*"))
    assert n_dirs_before >= 4  # several commits live

    out = rewrite_table(spark, path)
    assert out["version"] == v_before + 1
    assert out["n_buckets"] == 4
    assert _rows(spark, path) == before

    # the new snapshot references exactly ONE commit dir, one file/bucket
    m = read_manifest(spark, path)
    commits = {d.split("/")[1] for d in m["buckets"].values()}
    assert len(commits) == 1
    (commit,) = commits
    for b in m["buckets"]:
        parts = glob.glob(f"{path}/data/{commit}/_kb={b}/part-*.parquet")
        assert len(parts) == 1, (b, parts)

    # time travel: the pre-rewrite snapshot still reads until vacuumed
    assert _rows(spark, path, version=v_before) == before
    vacuum(spark, path, keep_manifests=1, min_age_seconds=0)
    assert len(glob.glob(f"{path}/data/c*")) == 1
    assert _rows(spark, path) == before


def test_rewrite_evolves_bucket_count_and_upserts_use_it(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path, n_buckets=2)
    before = _rows(spark, path)

    out = rewrite_table(spark, path, n_buckets=8)
    m = read_manifest(spark, path)
    assert out["n_buckets"] == 8 and m["n_buckets"] == 8
    assert _rows(spark, path) == before
    # every manifest bucket id is valid under the NEW layout
    assert all(0 <= int(b) < 8 for b in m["buckets"])

    # subsequent upserts adopt the evolved layout (prune by new buckets)
    up = spark.createDataFrame([("d0", 0, "NEW"), ("zz", 9, "ins")], SCHEMA)
    upsert_by_key(spark, path, up, ["doc_id", "segment_index"])
    after = _rows(spark, path)
    assert after[("d0", 0)] == "NEW" and after[("zz", 9)] == "ins"
    assert {k: v for k, v in after.items() if k not in {("d0", 0), ("zz", 9)}} == {
        k: v for k, v in before.items() if k != ("d0", 0)
    }
    assert read_manifest(spark, path)["n_buckets"] == 8


def test_rewrite_retries_past_concurrent_commit(spark, tmp_path, monkeypatch):
    import srag_spark.sources.tables as T

    path = str(tmp_path / "t")
    _seed(spark, path)
    before = _rows(spark, path)

    real_commit = T.commit_manifest
    fired = {"n": 0}

    def racing_commit(spark_, path_, manifest_, expected_prev=None):
        if fired["n"] == 0:
            fired["n"] += 1
            # a writer lands between the rewrite's read and its publish
            up = spark.createDataFrame([("race", 0, "r")], SCHEMA)
            upsert_by_key(spark, path, up, ["doc_id", "segment_index"])
        return real_commit(spark_, path_, manifest_, expected_prev=expected_prev)

    monkeypatch.setattr(T, "commit_manifest", racing_commit)
    rewrite_table(spark, path)
    # the retry re-read the fresh snapshot: no lost update
    assert _rows(spark, path) == {**before, ("race", 0): "r"}


def test_engine_optimize_compacts_and_preserves_queries(spark, tmp_path):
    from srag_spark.api import SragEngine
    from srag_spark.synth import synth_documents_df

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    docs = synth_documents_df(spark, 12, seed=7)
    # two ingests → multiple commit dirs per table
    eng.ingest(docs.limit(6))
    eng.ingest(docs)
    snap = lambda df: sorted(map(str, df.collect()))  # noqa: E731
    before = snap(eng.transcripts())
    chunks_before = eng.chunks().count()

    stats = eng.optimize(n_buckets=8)
    assert set(stats) == {"transcripts", "chunks", "embeddings", "metrics"}
    assert all(s["n_buckets"] == 8 for s in stats.values())
    assert snap(eng.transcripts()) == before
    assert eng.chunks().count() == chunks_before
    # retrieval still works over the compacted layout
    assert eng.query("some words", limit=2).count() <= 2
    assert all(c.ok for c in eng.health())


def test_schema_evolution_add_and_omit_columns(spark, tmp_path):
    import pytest

    from srag_spark.sources.tables import read_manifest as rm

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([("d1", 0, "a"), ("d2", 0, "b")], SCHEMA)
    upsert_by_key(spark, path, v1, ["doc_id", "segment_index"], n_buckets=4)

    # add a column: table widens, untouched rows read null
    v2 = spark.createDataFrame(
        [("d2", 0, "b2", "en"), ("d3", 0, "c", "fr")],
        SCHEMA + ", lang string",
    )
    upsert_by_key(spark, path, v2, ["doc_id", "segment_index"])
    rows = {r["doc_id"]: (r["text"], r["lang"]) for r in read_table(spark, path).collect()}
    assert rows == {"d1": ("a", None), "d2": ("b2", "en"), "d3": ("c", "fr")}
    assert [f.name for f in read_table(spark, path).schema.fields] == [
        "doc_id", "segment_index", "text", "lang",
    ]

    # a later batch may omit the new column (fills null), and time travel
    # still reads the pre-evolution snapshot under its own schema
    v3 = spark.createDataFrame([("d4", 0, "d")], SCHEMA)
    upsert_by_key(spark, path, v3, ["doc_id", "segment_index"])
    rows = {r["doc_id"]: r["lang"] for r in read_table(spark, path).collect()}
    assert rows == {"d1": None, "d2": "en", "d3": "fr", "d4": None}
    old = read_table(spark, path, version=1)
    assert "lang" not in old.columns and old.count() == 2

    # rewrite keeps the evolved schema; content (incl. nulls) unchanged
    before = sorted(map(str, read_table(spark, path).collect()))
    rewrite_table(spark, path, n_buckets=8)
    assert sorted(map(str, read_table(spark, path).collect())) == before
    assert "lang" in read_table(spark, path).columns
    assert rm(spark, path)["n_buckets"] == 8

    # type changes are rejected
    bad = spark.createDataFrame(
        [("d5", 0, "x", 7)], "doc_id string, segment_index int, text string, lang int"
    )
    with pytest.raises(ValueError, match="cannot change column 'lang'"):
        upsert_by_key(spark, path, bad, ["doc_id", "segment_index"])


def test_delete_where_predicate_and_null_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    from srag_spark.sources.tables import delete_where
    from srag_spark.sources.tables import read_manifest as rm

    path = str(tmp_path / "t")
    rows = [(f"d{i}", 0, "drop" if i % 3 == 0 else "keep") for i in range(12)]
    rows.append(("dn", 0, None))  # NULL predicate row must SURVIVE
    upsert_by_key(
        spark, path,
        spark.createDataFrame(rows, SCHEMA),
        ["doc_id", "segment_index"], n_buckets=4,
    )
    dirs_before = dict(rm(spark, path)["buckets"])

    n = delete_where(spark, path, F.col("text") == "drop")
    assert n == 4  # d0, d3, d6, d9
    left = {r["doc_id"]: r["text"] for r in read_table(spark, path).collect()}
    assert "d0" not in left and left["d1"] == "keep"
    assert left["dn"] is None  # NULL-predicate row survived

    # buckets with no matches keep their original dirs (not rewritten)
    dirs_after = rm(spark, path)["buckets"]
    untouched = [b for b in dirs_after if dirs_after[b] == dirs_before.get(b)]
    assert untouched, "expected at least one untouched bucket"

    # SQL-string predicates work; no-match delete is a no-op commit-free
    v = rm(spark, path)["version"]
    assert delete_where(spark, path, "text = 'nonexistent'") == 0
    assert rm(spark, path)["version"] == v

    # delete everything remaining in one bucket → bucket leaves snapshot
    total = read_table(spark, path).count()
    assert delete_where(spark, path, "text = 'keep'") == total - 1
    assert {r["doc_id"] for r in read_table(spark, path).collect()} == {"dn"}


def test_engine_delete_where_cascades_all_tables(spark, tmp_path):
    from srag_spark.api import SragEngine
    from srag_spark.synth import synth_documents_df

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(synth_documents_df(spark, 10, seed=3), metadata={"batch": "b1"})
    all_ids = {r["doc_id"] for r in eng.transcripts().collect()}
    victims = sorted(all_ids)[:3]

    n = eng.delete_where(
        "doc_id IN (%s)" % ", ".join(f"'{d}'" for d in victims)
    )
    assert n == 3
    left = {r["doc_id"] for r in eng.transcripts().collect()}
    assert left == all_ids - set(victims)
    for tbl in (eng.chunks(), eng.embeddings(), eng.metrics()):
        assert {r["doc_id"] for r in tbl.select("doc_id").distinct().collect()} == left
    assert eng.delete_where("doc_id = 'nope'") == 0
    assert all(c.ok for c in eng.health())


def test_schema_evolution_tolerates_nested_nullability_diff(spark):
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    from srag_spark.sources.tables import _merge_schemas

    old = StructType([
        StructField("doc_id", StringType(), True),
        StructField("tags", ArrayType(StringType(), containsNull=True), True),
    ])
    inc = StructType([
        StructField("doc_id", StringType(), True),
        StructField("tags", ArrayType(StringType(), containsNull=False), True),
    ])
    merged = _merge_schemas(old, inc)  # must NOT raise
    assert merged["tags"].dataType.containsNull  # old (relaxed) type kept
    # genuine type changes still rejected
    bad = StructType([StructField("tags", ArrayType(LongType()), True)])
    import pytest
    with pytest.raises(ValueError, match="cannot change column 'tags'"):
        _merge_schemas(old, bad)


def test_engine_delete_where_sees_unpinned_table_commits(spark, tmp_path):
    """The predicate must run against the transcripts table's LATEST
    snapshot, not the pinned engine snapshot — rows committed by an
    ingest that crashed before its engine publish still match."""
    from srag_spark.api import SragEngine
    from srag_spark.sources.tables import upsert_by_key
    from srag_spark.synth import synth_documents_df

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(synth_documents_df(spark, 4, seed=1))
    # simulate a crash window: a transcript row lands in the table but
    # no engine snapshot pins it
    orphan = eng.transcripts().limit(1).withColumn(
        "doc_id", F.lit("orphan-doc")
    )
    upsert_by_key(spark, eng.transcripts_path, orphan, ["doc_id"])
    assert eng.delete_where("doc_id = 'orphan-doc'") == 1
    assert eng.transcripts().filter("doc_id = 'orphan-doc'").count() == 0


def test_quantile_column_names_carry_fractions(spark):
    from srag_spark.operators.textstats import corpus_length_quantiles

    docs = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, lang string"
    )
    out = corpus_length_quantiles(docs, qs=(0.999, 1.0, 0.125))
    assert out.columns == ["group", "n_docs", "p99_9_r", "p100_r", "p12_5_r"]


def test_snapshot_diff_changelog(spark, tmp_path):
    from srag_spark.sources.tables import snapshot_diff

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [("a", 0, "x"), ("b", 0, "y"), ("c", 0, "z")], SCHEMA
    )
    upsert_by_key(spark, path, v1, ["doc_id", "segment_index"], n_buckets=4)

    # v2: update b, insert d; v3: delete c
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("b", 0, "y2"), ("d", 0, "w")], SCHEMA),
        ["doc_id", "segment_index"],
    )
    from srag_spark.sources.tables import delete_by_key
    delete_by_key(
        spark, path, spark.createDataFrame([("c",)], "doc_id string"), ["doc_id"]
    )

    diff = {
        (r["doc_id"], r["change_type"]): r["text"]
        for r in snapshot_diff(spark, path, from_version=1).collect()
    }
    assert diff == {
        ("b", "update"): "y2",   # post-image
        ("d", "insert"): "w",
        ("c", "delete"): "z",    # pre-image
    }
    # unchanged rows ('a') emit nothing; identical versions diff empty
    assert snapshot_diff(spark, path, 3, 3).count() == 0
    # intermediate window: v1→v2 has no delete yet
    mid = {r["doc_id"]: r["change_type"]
           for r in snapshot_diff(spark, path, 1, 2).collect()}
    assert mid == {"b": "update", "d": "insert"}


def test_snapshot_diff_under_schema_evolution(spark, tmp_path):
    from srag_spark.sources.tables import snapshot_diff

    path = str(tmp_path / "t")
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("a", 0, "x"), ("b", 0, "y")], SCHEMA),
        ["doc_id", "segment_index"], n_buckets=4,
    )
    # evolve: add a column, touching only doc b
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("b", 0, "y", "en")], SCHEMA + ", lang string"),
        ["doc_id", "segment_index"],
    )
    d = {r["doc_id"]: (r["change_type"], r["lang"])
         for r in snapshot_diff(spark, path, 1).collect()}
    # 'a' did not change (null lang on both aligned sides); 'b' gained a value
    assert d == {"b": ("update", "en")}


def test_engine_changelog_between_snapshots(spark, tmp_path):
    from srag_spark.api import SragEngine
    from srag_spark.synth import synth_documents_df

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    docs = synth_documents_df(spark, 8, seed=2)
    eng.ingest(docs.limit(5))
    s1 = eng.snapshot_versions()[-1]
    eng.ingest(docs)          # 3 new docs (5 re-upserted identically)
    some = [r["doc_id"] for r in eng.transcripts().limit(2).collect()]
    eng.delete_where("doc_id = '%s'" % some[0])
    s2 = eng.snapshot_versions()[-1]

    ch = eng.changelog("transcripts", s1, s2)
    by_type = {
        t: {r["doc_id"] for r in rows}
        for t, rows in __import__("itertools").groupby(
            sorted(ch.collect(), key=lambda r: r["change_type"]),
            key=lambda r: r["change_type"],
        )
    }
    assert len(by_type.get("insert", set())) >= 2  # the net-new docs
    live = {r["doc_id"] for r in eng.transcripts().collect()}
    assert some[0] not in live
    assert some[0] in by_type.get("delete", set())
    # re-ingested docs may legitimately surface as updates (fresh
    # created_at per ingest); they must never be inserts or deletes
    reingested = by_type.get("update", set())
    assert reingested <= live


def test_rewrite_sort_by_clusters_files_and_persists(spark, tmp_path):
    import pyarrow.parquet as pq

    from srag_spark.sources.tables import read_manifest as rm

    path = str(tmp_path / "t")
    rows = [(f"d{i}", i % 5, f"t{i}") for i in range(40)]
    upsert_by_key(
        spark, path, spark.createDataFrame(rows, SCHEMA),
        ["doc_id", "segment_index"], n_buckets=4,
    )
    rewrite_table(spark, path, sort_by=["segment_index", "doc_id"])
    m = rm(spark, path)
    assert m["sort_by"] == ["segment_index", "doc_id"]
    # every bucket file is sorted on the sort columns
    for b, d in m["buckets"].items():
        (f,) = glob.glob(f"{path}/{d}/part-*.parquet")
        t = pq.read_table(f).to_pydict()
        seq = list(zip(t["segment_index"], t["doc_id"]))
        assert seq == sorted(seq), b
    # content unchanged; a later rewrite with no sort_by PRESERVES it
    before = _rows(spark, path)
    rewrite_table(spark, path)
    assert rm(spark, path)["sort_by"] == ["segment_index", "doc_id"]
    assert _rows(spark, path) == before


def test_sort_by_survives_upserts_and_deletes(spark, tmp_path):
    from pyspark.sql import functions as Fx

    from srag_spark.sources.tables import delete_where
    from srag_spark.sources.tables import read_manifest as rm

    path = str(tmp_path / "t")
    upsert_by_key(
        spark, path,
        spark.createDataFrame([(f"d{i}", 0, f"t{i}") for i in range(10)], SCHEMA),
        ["doc_id", "segment_index"], n_buckets=4,
    )
    rewrite_table(spark, path, sort_by=["doc_id"])
    # upsert and predicate-delete must both CARRY the recorded sort order
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("zz", 0, "new")], SCHEMA),
        ["doc_id", "segment_index"],
    )
    assert rm(spark, path)["sort_by"] == ["doc_id"]
    delete_where(spark, path, Fx.col("text") == "t3")
    assert rm(spark, path)["sort_by"] == ["doc_id"]
    # the next plain rewrite re-applies it
    rewrite_table(spark, path)
    assert rm(spark, path)["sort_by"] == ["doc_id"]


def test_snapshot_diff_rejects_inverted_window(spark, tmp_path):
    import pytest

    from srag_spark.sources.tables import snapshot_diff

    path = str(tmp_path / "t")
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("a", 0, "x")], SCHEMA),
        ["doc_id", "segment_index"], n_buckets=2,
    )
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("b", 0, "y")], SCHEMA),
        ["doc_id", "segment_index"],
    )
    with pytest.raises(ValueError, match="inverted"):
        snapshot_diff(spark, path, from_version=2, to_version=1)


def test_snapshot_diff_model_based_random_sequences(spark, tmp_path):
    """CDC property: for ANY sequence of upsert/delete/rewrite ops and
    ANY version pair (i <= j), snapshot_diff(i, j) must equal the diff
    of the dict models captured after ops i and j."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from srag_spark.sources.tables import (
        delete_by_key,
        latest_manifest_version,
        snapshot_diff,
    )

    keys = st.sampled_from([f"k{i}" for i in range(5)])
    upsert_op = st.tuples(
        st.just("upsert"),
        st.lists(st.tuples(keys, st.text("ab", min_size=1, max_size=3)),
                 min_size=1, max_size=3),
    )
    delete_op = st.tuples(st.just("delete"), st.lists(keys, min_size=1, max_size=2))
    rewrite_op = st.tuples(st.just("rewrite"), st.just(None))
    counter = [0]

    @settings(max_examples=4, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ops=st.lists(st.one_of(upsert_op, delete_op, rewrite_op),
                        min_size=2, max_size=5))
    def run(ops):
        counter[0] += 1
        path = str(tmp_path / f"cdc{counter[0]}")
        # seed so version 1 exists and deletes/rewrites are valid
        upsert_by_key(
            spark, path,
            spark.createDataFrame([("k0", 0, "seed")], SCHEMA),
            ["doc_id", "segment_index"], n_buckets=2,
        )
        model = {("k0", 0): "seed"}
        models = {1: dict(model)}  # version -> model state
        for kind, payload in ops:
            if kind == "upsert":
                dedup = {(k, 0): t for k, t in payload}
                upsert_by_key(
                    spark, path,
                    spark.createDataFrame(
                        [(k, s, t) for (k, s), t in dedup.items()], SCHEMA
                    ),
                    ["doc_id", "segment_index"],
                )
                model.update(dedup)
            elif kind == "delete":
                delete_by_key(
                    spark, path,
                    spark.createDataFrame([(k,) for k in payload], "doc_id string"),
                    ["doc_id"],
                )
                model = {ks: t for ks, t in model.items() if ks[0] not in payload}
            else:
                rewrite_table(spark, path)
            # a no-op delete (no key present) publishes NO new version —
            # read the real latest instead of assuming one per op
            v = latest_manifest_version(spark, path)
            models[v] = dict(model)

        # check the full window and one mid window
        for i, j in [(1, v), (max(1, v // 2), v)]:
            got = {
                (r["doc_id"], r["segment_index"]): (r["change_type"], r["text"])
                for r in snapshot_diff(spark, path, i, j).collect()
            }
            a, b = models[i], models[j]
            want = {}
            for k in set(a) | set(b):
                if k not in a:
                    want[k] = ("insert", b[k])
                elif k not in b:
                    want[k] = ("delete", a[k])
                elif a[k] != b[k]:
                    want[k] = ("update", b[k])
            assert got == want, (i, j, ops)

    run()


def test_snapshot_tags_read_and_vacuum_retention(spark, tmp_path):
    import pytest

    from srag_spark.sources.tables import (
        delete_tag,
        list_tags,
        resolve_tag,
        tag_snapshot,
    )

    path = str(tmp_path / "t")
    for i in range(3):  # versions 1..3
        upsert_by_key(
            spark, path,
            spark.createDataFrame([(f"d{i}", 0, f"v{i}")], SCHEMA),
            ["doc_id", "segment_index"], n_buckets=2,
        )
    assert tag_snapshot(spark, path, "prod", version=1) == 1
    assert tag_snapshot(spark, path, "latest-run") == 3
    assert list_tags(spark, path) == {"prod": 1, "latest-run": 3}

    # read by tag = read by its version
    assert {r["doc_id"] for r in read_table(spark, path, tag="prod").collect()} == {"d0"}
    with pytest.raises(ValueError, match="not both"):
        read_table(spark, path, tag="prod", version=2)
    with pytest.raises(ValueError, match="already exists"):
        tag_snapshot(spark, path, "prod", version=2)
    assert tag_snapshot(spark, path, "prod", version=2, overwrite=True) == 2

    # vacuum keeps the tagged version alive while untagged history dies
    vacuum(spark, path, keep_manifests=1, min_age_seconds=0)
    assert {r["doc_id"] for r in read_table(spark, path, tag="prod").collect()} == {
        "d0", "d1",
    }
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)  # untagged v1 aged out

    # dropping the tag releases it for the next vacuum
    delete_tag(spark, path, "prod")
    assert "prod" not in list_tags(spark, path)
    vacuum(spark, path, keep_manifests=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=2)
    assert read_table(spark, path).count() == 3  # latest intact


def test_engine_tags_survive_vacuum(spark, tmp_path):
    from srag_spark.api import SragEngine
    from srag_spark.synth import synth_documents_df

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    docs = synth_documents_df(spark, 8, seed=4)
    eng.ingest(docs.limit(3))
    s1 = eng.snapshot_versions()[-1]
    eng.tag("prod", snapshot=s1)
    eng.ingest(docs)
    eng.ingest(docs.limit(5))  # another version on top

    eng.vacuum(keep_manifests=1, min_age_seconds=0)
    # the tagged engine snapshot AND its pinned table versions survive
    assert eng.tags() == {"prod": s1}
    assert eng.snapshot_versions() == [s1, s1 + 2]  # vacuumed s1 + 1 omitted
    assert eng.transcripts(version=s1).count() == 3
    assert eng.transcripts().count() == 8

    # dropping the tag releases everything at the next vacuum
    eng.drop_tag("prod")
    eng.vacuum(keep_manifests=1, min_age_seconds=0)
    assert eng.snapshot_versions() == [s1 + 2]
    import pytest
    with pytest.raises(FileNotFoundError):
        eng.transcripts(version=s1).count()
    assert eng.transcripts().count() == 8
