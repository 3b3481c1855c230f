"""Upsert/delete table semantics (S4/S10/J7) + transcript model (P5/P10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from srag_spark.operators.transcripts import (
    build_transcripts,
    enrich_metadata,
    validate_language,
)
from srag_spark.sources.tables import (
    delete_by_key,
    read_manifest,
    read_table,
    upsert_by_key,
    vacuum,
)


def rows_of(spark, path):
    return {
        (r["doc_id"], r["segment_index"]): r["text"]
        for r in read_table(spark, path).collect()
    }


def test_upsert_by_key_semantics(spark, tmp_path):
    path = str(tmp_path / "chunks")
    schema = "doc_id string, segment_index int, text string"
    v1 = spark.createDataFrame(
        [("d1", 0, "a"), ("d1", 1, "b"), ("d2", 0, "c")], schema
    )
    upsert_by_key(spark, path, v1, ["doc_id", "segment_index"])
    assert rows_of(spark, path) == {("d1", 0): "a", ("d1", 1): "b", ("d2", 0): "c"}

    # conflict rows replaced (ON CONFLICT DO UPDATE), new rows inserted
    v2 = spark.createDataFrame([("d1", 0, "a2"), ("d3", 0, "d")], schema)
    upsert_by_key(spark, path, v2, ["doc_id", "segment_index"])
    assert rows_of(spark, path) == {
        ("d1", 0): "a2", ("d1", 1): "b", ("d2", 0): "c", ("d3", 0): "d",
    }

    # idempotent replay (J7)
    upsert_by_key(spark, path, v2, ["doc_id", "segment_index"])
    assert rows_of(spark, path) == {
        ("d1", 0): "a2", ("d1", 1): "b", ("d2", 0): "c", ("d3", 0): "d",
    }


def test_delete_by_key(spark, tmp_path):
    path = str(tmp_path / "chunks")
    schema = "doc_id string, segment_index int, text string"
    upsert_by_key(
        spark,
        path,
        spark.createDataFrame([("d1", 0, "a"), ("d2", 0, "b")], schema),
        ["doc_id", "segment_index"],
    )
    delete_by_key(
        spark, path, spark.createDataFrame([("d1",)], "doc_id string"), ["doc_id"]
    )
    assert rows_of(spark, path) == {("d2", 0): "b"}
    # deleting absent keys is a no-op, not an error
    delete_by_key(
        spark, path, spark.createDataFrame([("dX",)], "doc_id string"), ["doc_id"]
    )
    assert rows_of(spark, path) == {("d2", 0): "b"}


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract: an upsert touching one key must leave every
    other bucket's files physically untouched (same paths, same bytes —
    the manifest keeps pointing at them) and must remap ONLY the touched
    bucket to a new commit directory."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    rows = [(f"d{i}", 0, f"v{i}") for i in range(200)]
    upsert_by_key(
        spark, path, spark.createDataFrame(rows, schema),
        ["doc_id", "segment_index"], n_buckets=16,
    )
    m1 = read_manifest(spark, path)
    assert len(m1["buckets"]) > 4
    upsert_by_key(
        spark, path, spark.createDataFrame([("d0", 0, "v0b")], schema),
        ["doc_id", "segment_index"],
    )
    m2 = read_manifest(spark, path)
    b0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("d0")), F.lit(16)).cast("int")
    ).head()[0]
    # untouched buckets: manifest still references the ORIGINAL dirs —
    # their files were not rewritten, moved, or deleted
    assert {b: d for b, d in m1["buckets"].items() if b != str(b0)} == {
        b: d for b, d in m2["buckets"].items() if b != str(b0)
    }
    assert m2["buckets"][str(b0)] != m1["buckets"][str(b0)]
    got = rows_of(spark, path)
    assert got[("d0", 0)] == "v0b" and len(got) == 200


def test_delete_drops_emptied_buckets_from_snapshot(spark, tmp_path):
    """Deleting every row of every bucket must leave an empty (but
    readable) snapshot — emptied buckets leave the manifest."""
    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    rows = [(f"d{i}", s, "x") for i in range(40) for s in (0, 1)]
    upsert_by_key(
        spark, path, spark.createDataFrame(rows, schema),
        ["doc_id", "segment_index"], n_buckets=8,
    )
    delete_by_key(
        spark, path,
        spark.createDataFrame([(f"d{i}",) for i in range(40)], "doc_id string"),
        ["doc_id"],
    )
    assert read_manifest(spark, path)["buckets"] == {}
    empty = read_table(spark, path)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "segment_index", "text"]


def test_crash_before_manifest_commit_preserves_snapshot(spark, tmp_path, monkeypatch):
    """Cross-bucket atomicity: a crash AFTER data files are written but
    BEFORE the manifest rename must leave readers on the old consistent
    snapshot (the documented gap the manifest protocol closes)."""
    import srag_spark.sources.tables as T

    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    v1 = [(f"d{i}", 0, f"v{i}") for i in range(50)]
    upsert_by_key(
        spark, path, spark.createDataFrame(v1, schema),
        ["doc_id", "segment_index"], n_buckets=8,
    )
    before = rows_of(spark, path)

    def boom(*a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(T, "commit_manifest", boom)
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_by_key(
            spark, path,
            spark.createDataFrame(
                [(f"d{i}", 0, "CLOBBER") for i in range(50)], schema
            ),
            ["doc_id", "segment_index"],
        )
    monkeypatch.undo()
    # reader sees the OLD snapshot — none of the half-written batch
    assert rows_of(spark, path) == before
    # and replaying the batch converges (J7)
    upsert_by_key(
        spark, path,
        spark.createDataFrame([(f"d{i}", 0, "v2") for i in range(50)], schema),
        ["doc_id", "segment_index"],
    )
    assert set(rows_of(spark, path).values()) == {"v2"}


def test_vacuum_drops_only_unreferenced_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    for ver in ("a", "b", "c"):
        upsert_by_key(
            spark, path,
            spark.createDataFrame([("d1", 0, ver), (f"k{ver}", 0, ver)], schema),
            ["doc_id", "segment_index"], n_buckets=4,
        )
    before = rows_of(spark, path)
    removed = vacuum(spark, path, min_age_seconds=0)
    assert removed >= 1
    assert rows_of(spark, path) == before  # latest snapshot fully intact


def test_tables_module_is_object_store_safe():
    """The sink must make NO direct local-filesystem calls — everything
    goes through the Hadoop FS API (fsio) or Spark reads/writes, so it
    runs unchanged on HDFS/S3A/GCS (VERDICT r2 item 1)."""
    import ast
    import pathlib

    import srag_spark.sources.tables as T

    src = pathlib.Path(T.__file__).read_text()
    tree = ast.parse(src)
    imported = {
        alias.name.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for alias in getattr(node, "names", [])
    } | {
        node.module.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module
    }
    assert "os" not in imported and "shutil" not in imported
    called = {
        node.func.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
    }
    assert "open" not in called
    attrs = {
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
    }
    assert "localCheckpoint" not in attrs


def test_build_transcripts_word_shape(spark):
    from srag_spark.operators.parse import extract_documents
    from srag_spark.schema import DOCUMENTS_SCHEMA

    rows = [
        (
            "t1",
            [
                {"kind": "text", "text": "hello   world\nfrom text", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "m", "offset": 1},
            ],
        )
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    t = build_transcripts(extract_documents(df)).collect()[0]
    # P1 word shape: (text, start=i, end=i+1, confidence=1.0); media skipped
    assert [(w["text"], w["start"], w["end"], w["confidence"]) for w in t["words"]] == [
        ("hello", 0, 1, 1.0),
        ("world", 1, 2, 1.0),
        ("from", 2, 3, 1.0),
        ("text", 3, 4, 1.0),
    ]
    assert t["source"] == "Text"
    assert t["confidence"] == 1.0


def test_enrich_metadata_right_biased(spark):
    # reference golden: {"source":"asr"} ++ {"tenant":"acme"} and
    # right-hand wins on conflict (Transcript.scala:17-21)
    df = spark.createDataFrame(
        [("d1", {"source": "asr", "keep": "x"})],
        "doc_id string, metadata map<string,string>",
    )
    out = enrich_metadata(df, {"tenant": "acme", "source": "job"}).collect()[0]
    assert out["metadata"] == {"source": "job", "keep": "x", "tenant": "acme"}
    # null metadata treated as empty map
    df2 = spark.createDataFrame(
        [("d2", None)], "doc_id string, metadata map<string,string>"
    )
    assert enrich_metadata(df2, {"a": "1"}).collect()[0]["metadata"] == {"a": "1"}


def test_validate_language(spark):
    df = spark.createDataFrame(
        [
            ("1", "en_us"),
            ("2", "FR"),
            ("3", "eng"),
            ("4", None),
            ("5", "d3"),
            # regex-shaped but NOT an enumerated ISO-639-1 code
            # (LanguageCode.scala:27-137): must be rejected
            ("6", "zz"),
            ("7", "la"),  # Latin IS enumerated
        ],
        "doc_id string, language string",
    )
    got = {r["doc_id"]: r["language"] for r in validate_language(df).collect()}
    assert got == {
        "1": "en", "2": "fr", "3": None, "4": None, "5": None,
        "6": None, "7": "la",
    }


def test_build_transcripts_source_dominance(spark):
    """Regression: kind counts must actually count (a default-arg lambda
    in F.filter bound the element INDEX instead of the kind literal,
    making every count empty — source fell back to 'Text' always)."""
    from srag_spark.operators.transcripts import build_transcripts

    df = spark.createDataFrame(
        [
            ("aud", [
                {"kind": "audio", "text": "a", "media_ref": None, "seq": 0},
                {"kind": "audio", "text": "b", "media_ref": None, "seq": 1},
                {"kind": "text", "text": "c", "media_ref": None, "seq": 2},
            ], 0, 0, 0),
            ("doc", [
                {"kind": "pdf", "text": "p", "media_ref": None, "seq": 0},
                {"kind": "pdf", "text": "q", "media_ref": None, "seq": 1},
            ], 0, 0, 0),
            ("tie", [
                {"kind": "text", "text": "t", "media_ref": None, "seq": 0},
                {"kind": "audio", "text": "u", "media_ref": None, "seq": 1},
            ], 0, 0, 0),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,seq:int>>, blocks_kept long, blocks_dropped long, "
        "parse_failures long",
    )
    out = {r["doc_id"]: r["source"] for r in build_transcripts(df).collect()}
    assert out == {"aud": "Audio", "doc": "Document", "tie": "Text"}


def test_time_travel_reads_old_snapshots(spark, tmp_path):
    """Every committed snapshot stays readable by version until vacuumed
    (the Iceberg-style time-travel the manifest layer gives for free)."""
    import pytest

    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    for i, val in enumerate(("v1", "v2", "v3")):
        upsert_by_key(
            spark, path,
            spark.createDataFrame([("d1", 0, val)], schema),
            ["doc_id", "segment_index"], n_buckets=4,
        )
    assert read_manifest(spark, path)["version"] == 3
    for v, val in ((1, "v1"), (2, "v2"), (3, "v3")):
        got = read_table(spark, path, version=v).collect()
        assert [(r["doc_id"], r["text"]) for r in got] == [("d1", val)]
    vacuum(spark, path, keep_manifests=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)
    assert [r["text"] for r in read_table(spark, path).collect()] == ["v3"]


def test_sink_model_based_random_op_sequences(spark, tmp_path):
    """Property test: any sequence of upsert/delete/rewrite batches must
    leave the table equal to a dict model with right-biased upsert
    semantics (rewrite_table — compaction or bucket-count evolution —
    is a logical no-op anywhere in the sequence)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from srag_spark.sources.tables import rewrite_table

    schema = "doc_id string, segment_index int, text string"
    keys = st.sampled_from([f"k{i}" for i in range(6)])
    batch = st.lists(
        st.tuples(keys, st.integers(0, 2), st.text("abc", min_size=1, max_size=4)),
        min_size=1, max_size=4,
    )
    upsert_op = st.tuples(st.just("upsert"), batch)
    delete_op = st.tuples(st.just("delete"), st.lists(keys, min_size=1, max_size=3))
    rewrite_op = st.tuples(st.just("rewrite"), st.sampled_from([None, 2, 8]))

    counter = [0]

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ops=st.lists(st.one_of(upsert_op, delete_op, rewrite_op),
                        min_size=1, max_size=5))
    def run(ops):
        counter[0] += 1
        path = str(tmp_path / f"m{counter[0]}")
        model: dict = {}
        wrote = False
        for kind, payload in ops:
            if kind == "upsert":
                # right-biased within a batch too: last occurrence wins,
                # matching the dict-update model below
                dedup = {(k, s): t for k, s, t in payload}
                batch = [(k, s, t) for (k, s), t in dedup.items()]
                upsert_by_key(
                    spark, path, spark.createDataFrame(batch, schema),
                    ["doc_id", "segment_index"], n_buckets=4,
                )
                model.update(dedup)
                wrote = True
            elif kind == "rewrite":
                if wrote:  # rewrite of a never-written table is undefined
                    rewrite_table(spark, path, n_buckets=payload)
            elif wrote:  # delete on a non-existent table is a no-op
                delete_by_key(
                    spark, path,
                    spark.createDataFrame([(k,) for k in payload], "doc_id string"),
                    ["doc_id"],
                )
                model = {ks: t for ks, t in model.items() if ks[0] not in payload}
        if wrote:
            assert rows_of(spark, path) == model

    run()


def test_concurrent_writer_race_retries_without_lost_update(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: an interloper commits BETWEEN the victim's
    manifest read and its commit.  The victim's first commit must be
    rejected (compare-and-publish) and its retry must merge against the
    interloper's snapshot — both writers' rows survive, victim wins the
    overlapping key."""
    import srag_spark.sources.tables as T

    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("base", 0, "b0")], schema),
        ["doc_id", "segment_index"], n_buckets=4,
    )

    # the seam between the bucket merge job's data write and the
    # manifest publish
    real_merge = T._merge_buckets
    state = {"injected": False}

    def hooked(*args):
        out = real_merge(*args)
        if not state["injected"]:
            state["injected"] = True
            # interloper sneaks a commit in after the victim wrote its
            # data but before its manifest publish
            upsert_by_key(
                spark, path,
                spark.createDataFrame(
                    [("interloper", 0, "i1"), ("shared", 0, "interloper")], schema
                ),
                ["doc_id", "segment_index"],
            )
        return out

    monkeypatch.setattr(T, "_merge_buckets", hooked)
    upsert_by_key(
        spark, path,
        spark.createDataFrame(
            [("victim", 0, "v1"), ("shared", 0, "victim")], schema
        ),
        ["doc_id", "segment_index"],
    )
    monkeypatch.undo()
    got = rows_of(spark, path)
    assert got[("base", 0)] == "b0"
    assert got[("interloper", 0)] == "i1"
    assert got[("victim", 0)] == "v1"
    # the retry merged ON TOP of the interloper's snapshot
    assert got[("shared", 0)] == "victim"
    assert len(got) == 4


def test_upsert_collapses_in_batch_duplicate_keys(spark, tmp_path):
    """ADVICE r3: two rows with the same key in ONE batch must collapse
    to a single surviving row (the reference's ON CONFLICT upsert leaves
    exactly one row per id)."""
    from srag_spark.sources.tables import read_table, upsert_by_key

    path = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [("k1", "v-a"), ("k1", "v-a"), ("k2", "v-b")], "id string, val string"
    )
    upsert_by_key(spark, path, batch, ["id"], n_buckets=4)
    rows = read_table(spark, path).collect()
    assert sorted(r["id"] for r in rows) == ["k1", "k2"]

    # incremental path too: duplicate keys in a later batch, one survives
    batch2 = spark.createDataFrame(
        [("k2", "v-new"), ("k2", "v-new"), ("k3", "v-c")], "id string, val string"
    )
    upsert_by_key(spark, path, batch2, ["id"], n_buckets=4)
    got = {r["id"]: r["val"] for r in read_table(spark, path).collect()}
    assert got == {"k1": "v-a", "k2": "v-new", "k3": "v-c"}


def test_vacuum_retention_protects_inflight_commit(spark, tmp_path):
    """VERDICT/ADVICE r3: vacuum must not delete a concurrent writer's
    fresh-but-unpublished commit dir.  Simulate a writer that has run
    _write_buckets but not yet commit_manifest; vacuum with the default
    retention window must skip the young dir, and the subsequent commit
    must yield a fully readable snapshot."""
    from srag_spark.sources.tables import (
        BUCKET_COL,
        _buckets_in_commit,
        _key_bucket,
        _write_buckets,
        commit_manifest,
        read_manifest,
    )

    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    upsert_by_key(
        spark, path,
        spark.createDataFrame([("d1", 0, "v1")], schema),
        ["doc_id", "segment_index"], n_buckets=4,
    )

    # concurrent writer: data written, manifest NOT yet published.  Use a
    # doc id hashing to a DIFFERENT bucket than d1 — this simulated
    # writer skips the merge a real same-bucket upsert would do
    from pyspark.sql import functions as F

    probe = spark.createDataFrame(
        [(f"d{i}",) for i in range(2, 20)], "doc_id string"
    ).withColumn(BUCKET_COL, _key_bucket("doc_id", 4))
    d1_bucket = (
        spark.createDataFrame([("d1",)], "doc_id string")
        .withColumn(BUCKET_COL, _key_bucket("doc_id", 4))
        .collect()[0][BUCKET_COL]
    )
    other = probe.filter(F.col(BUCKET_COL) != d1_bucket).collect()[0]["doc_id"]
    inc = spark.createDataFrame([(other, 0, "v2")], schema).withColumn(
        BUCKET_COL, _key_bucket("doc_id", 4)
    )
    commit_id = "cinflight"
    _write_buckets(inc, path, commit_id)

    # vacuum with the retention window: the young dir must survive
    removed = vacuum(spark, path, keep_manifests=1)
    m = read_manifest(spark, path)
    buckets = dict(m["buckets"])
    for b in _buckets_in_commit(spark, f"{path}/data/{commit_id}"):
        buckets[str(b)] = f"data/{commit_id}/{BUCKET_COL}={b}"
    commit_manifest(
        spark, path,
        {"n_buckets": 4, "bucket_col": "doc_id", "schema": m["schema"],
         "buckets": buckets},
        expected_prev=m["version"],
    )
    got = {r["doc_id"]: r["text"] for r in read_table(spark, path).collect()}
    assert got == {"d1": "v1", other: "v2"}, f"snapshot corrupted: {got}, removed={removed}"

    # and WITHOUT the guard the same young dir is deleted (the hazard
    # the retention window exists for)
    _write_buckets(inc, path, "cinflight2")
    vacuum(spark, path, keep_manifests=1, min_age_seconds=0)
    from srag_spark.sources import fsio

    assert not fsio.exists(spark, f"{path}/data/cinflight2")


def test_rename_atomic_excludes_racers_and_recovers_stale_claims(spark, tmp_path):
    """ADVICE r3 (fsio TOCTOU): publishing is exclusive via an atomic
    create-exclusive claim — the second writer to the same destination
    loses even though POSIX rename would overwrite; a claim left by a
    crashed writer (no destination) blocks only until it goes stale."""
    from srag_spark.sources import fsio

    base = str(tmp_path / "m")
    fsio.mkdirs(spark, base)
    fsio.write_text(spark, f"{base}/t1", "one")
    fsio.write_text(spark, f"{base}/t2", "two")
    dst = f"{base}/v1.json"
    assert fsio.rename_atomic(spark, f"{base}/t1", dst) is True
    # loser: destination exists
    assert fsio.rename_atomic(spark, f"{base}/t2", dst) is False
    assert fsio.read_text(spark, dst) == "one"  # not overwritten

    # crashed writer: claim exists, destination never published
    dst2 = f"{base}/v2.json"
    fsio.write_text(spark, dst2 + ".claim", "")
    # fresh claim blocks other writers
    assert fsio.rename_atomic(spark, f"{base}/t2", dst2) is False
    # stale claim (backdate mtime beyond the 60s threshold) is reclaimed
    import time

    jfs = fsio._fs(spark, dst2)
    jfs.setTimes(
        fsio._jpath(spark, dst2 + ".claim"),
        int(time.time() * 1000) - 120_000,
        -1,
    )
    assert fsio.rename_atomic(spark, f"{base}/t2", dst2) is True
    assert fsio.read_text(spark, dst2) == "two"


def test_jsonl_roundtrip_and_strictness(spark, tmp_path):
    """JSONL interchange: fixed-schema round-trip (spans struct, metadata
    map, language), strict rejection of malformed lines, lenient drop."""
    import pytest

    from srag_spark.sources.jsonl import (
        read_documents_jsonl,
        write_documents_jsonl,
    )

    docs = spark.createDataFrame(
        [
            ("a", [("text", "hello world", None, 0)], {"k": "v"}, "en"),
            ("b", [("audio", "Hi.", None, 100), ("media", None, "blob://x", 200)],
             None, None),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, metadata map<string,string>, "
        "language string",
    )
    path = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(docs, path)
    back = read_documents_jsonl(spark, path)
    got = {r["doc_id"]: r for r in back.collect()}
    assert set(got) == {"a", "b"}
    assert [tuple(s) for s in got["b"]["spans"]] == [
        ("audio", "Hi.", None, 100), ("media", None, "blob://x", 200)
    ]
    assert dict(got["a"]["metadata"]) == {"k": "v"} and got["a"]["language"] == "en"
    assert read_documents_jsonl(spark, path, with_attrs=False).columns == [
        "doc_id", "spans"
    ]

    # malformed line: strict read raises, lenient read drops it
    bad = str(tmp_path / "bad")
    import os

    os.makedirs(bad)
    with open(f"{bad}/part-0.json", "w") as f:
        f.write('{"doc_id": "ok", "spans": [{"kind": "text", "text": "x", '
                '"media_ref": null, "offset": 0}]}\n')
        f.write('{"spans_typo": 1}\n')
    with pytest.raises(Exception, match="malformed JSONL"):
        read_documents_jsonl(spark, bad).collect()
    kept = read_documents_jsonl(spark, bad, strict=False).collect()
    assert [r["doc_id"] for r in kept] == ["ok"]


def test_rename_atomic_claim_is_owner_verified(spark, tmp_path, monkeypatch):
    """ADVICE r4 (stale-claim takeover race): claims carry their writer's
    uuid and the final owner check gates the rename — a writer whose
    claim was deleted and replaced by a racing recoverer backs off
    instead of renaming over the racer's publish."""
    from srag_spark.sources import fsio

    base = str(tmp_path / "m")
    fsio.mkdirs(spark, base)
    fsio.write_text(spark, f"{base}/t1", "one")
    dst = f"{base}/v1.json"

    # happy path writes the claim with this writer's id (32-hex uuid)
    assert fsio.rename_atomic(spark, f"{base}/t1", dst) is True
    jfs = fsio._fs(spark, dst)
    owner = fsio._claim_owner(spark, jfs, fsio._jpath(spark, dst + ".claim"))
    assert owner is not None and len(owner) == 32

    # simulate the interleave: between this writer's claim create and its
    # owner check, a racing recoverer replaced the claim with its own id
    fsio.write_text(spark, f"{base}/t2", "two")
    dst2 = f"{base}/v2.json"
    real_owner = fsio._claim_owner

    def stolen(spark_, fs_, claim_):
        return "0" * 32  # someone else's id

    monkeypatch.setattr(fsio, "_claim_owner", stolen)
    assert fsio.rename_atomic(spark, f"{base}/t2", dst2) is False
    monkeypatch.setattr(fsio, "_claim_owner", real_owner)
    # nothing was published and the source survived for a retry
    assert not fsio.exists(spark, dst2)
    assert fsio.exists(spark, f"{base}/t2")


def test_lookup_by_key_prunes_and_matches_full_scan(spark, tmp_path):
    """Point lookup must return exactly the full-scan filter's rows while
    opening only the key's hash bucket(s) — the S6 path that keeps a
    100 TB lookup from scanning the table."""
    from srag_spark.sources.tables import lookup_by_key

    path = str(tmp_path / "t")
    schema = "doc_id string, segment_index int, text string"
    rows = [(f"d{i}", s, f"t{i}.{s}") for i in range(12) for s in range(2)]
    upsert_by_key(spark, path, spark.createDataFrame(rows, schema),
                  ["doc_id", "segment_index"], n_buckets=8)

    full = read_table(spark, path)
    for key in ("d0", "d7", "d11"):
        got = sorted(
            (r["doc_id"], r["segment_index"], r["text"])
            for r in lookup_by_key(spark, path, [key]).collect()
        )
        want = sorted(
            (r["doc_id"], r["segment_index"], r["text"])
            for r in full.filter(f"doc_id = '{key}'").collect()
        )
        assert got == want and len(got) == 2
        # pruning: the lookup's scan opens a strict subset of the files
        lk_files = set(lookup_by_key(spark, path, [key]).inputFiles())
        all_files = set(full.inputFiles())
        assert lk_files and lk_files < all_files

    # absent key: empty, not an error; multi-key lookup unions buckets
    assert lookup_by_key(spark, path, ["nope"]).count() == 0
    multi = lookup_by_key(spark, path, ["d1", "d2", "d3"])
    assert multi.count() == 6


def test_lookup_by_key_hashes_values_as_the_key_type(spark, tmp_path):
    """The lookup's string values are hashed as the bucket column's type,
    as the write bucketed them: a ``long`` key finds every row."""
    from srag_spark.sources.tables import lookup_by_key

    path = str(tmp_path / "t")
    upsert_by_key(
        spark, path,
        spark.createDataFrame([(i, f"v{i}") for i in range(20)], "doc_id long, v string"),
        ["doc_id"], n_buckets=8,
    )
    got = lookup_by_key(spark, path, ["5", "6", "7"]).collect()
    assert sorted((r["doc_id"], r["v"]) for r in got) == [(5, "v5"), (6, "v6"), (7, "v7")]
