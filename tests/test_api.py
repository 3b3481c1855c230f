"""SragEngine façade: the reference's endpoint surface end-to-end
(ingest → query → get/list → re-ingest replace → delete)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from srag_spark.api import SragEngine
from srag_spark.schema import DOCUMENTS_SCHEMA

TEXT_A = (
    "the quick brown fox jumps over the lazy dog and runs to the hills "
    "in the morning light for a long time with many friends of the forest"
)
TEXT_B = (
    "a completely different document about cooking pasta with tomato "
    "sauce and fresh basil leaves from the garden in the summer"
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            (
                doc_id,
                [{"kind": "text", "text": t, "media_ref": None, "offset": 0}],
            )
            for doc_id, t in rows
        ],
        schema=DOCUMENTS_SCHEMA,
    )


def test_engine_ingest_query_get_list_delete(spark, tmp_path):
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=8)
    stats = eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
    assert stats["documents"] == 2
    assert stats["chunks"] >= 2 and stats["embeddings"] == stats["chunks"]

    # query: deterministic rerank column makes the result checkable
    hits = eng.query(
        "cooking pasta tomato sauce", limit=3,
        rerank_col=F.length("text").cast("double") / 1000.0,
    ).collect()
    assert hits and hits[0]["doc_id"] in {"a", "b"}

    # point lookup + listing
    row = eng.get_transcript("a").collect()
    assert len(row) == 1 and row[0]["doc_id"] == "a"
    listed = eng.list_transcripts(sort_by="doc_id", ascending=True).collect()
    assert [r["doc_id"] for r in listed] == ["a", "b"]

    # delete everywhere
    eng.delete_transcript("a")
    assert eng.get_transcript("a").count() == 0
    assert eng.chunks().filter(F.col("doc_id") == "a").count() == 0
    assert eng.embeddings().filter(F.col("doc_id") == "a").count() == 0
    assert eng.get_transcript("b").count() == 1


def test_engine_reingest_replaces_and_replay_converges(spark, tmp_path):
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=8)
    # long doc -> multiple chunks
    long_text = " ".join([TEXT_A] * 12)
    eng.ingest(_docs(spark, [("a", long_text), ("b", TEXT_B)]))
    n_chunks_long = eng.chunks().filter(F.col("doc_id") == "a").count()
    assert n_chunks_long > 1

    # re-ingest doc a SHRUNK: all old chunks must be replaced, none stale
    eng.ingest(_docs(spark, [("a", TEXT_A)]))
    a_chunks = eng.chunks().filter(F.col("doc_id") == "a").collect()
    assert len(a_chunks) == 1 and a_chunks[0]["text"].startswith("the quick")
    # b untouched
    assert eng.chunks().filter(F.col("doc_id") == "b").count() >= 1

    # replaying the same ingest converges (J7)
    before = {
        (r["doc_id"], r["segment_index"]): r["text"]
        for r in eng.chunks().collect()
    }
    eng.ingest(_docs(spark, [("a", TEXT_A)]))
    after = {
        (r["doc_id"], r["segment_index"]): r["text"]
        for r in eng.chunks().collect()
    }
    assert after == before


def _docs_with_attrs(spark, rows):
    """rows: (doc_id, spans, metadata, language) — the optional-column
    ingest shape (reference ingest requests carry language + metadata)."""
    schema = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "metadata map<string,string>, language string"
    )
    return spark.createDataFrame(rows, schema)


def test_engine_ingest_metadata_and_language_flow(spark, tmp_path):
    """VERDICT r3 #1: per-doc metadata + language must flow through
    ingest onto transcripts AND chunks/embeddings so metadata filters
    bite on engine-built tables (Transcript.scala:17-21 merge;
    OpenSearchAdapter.scala:216-224 / QdrantAdapter.scala:173-181
    metadata.* filtering; MainHandlers.scala:71-74 listing filter)."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=8)
    span = lambda t: [{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
    eng.ingest(
        _docs_with_attrs(
            spark,
            [
                ("a", span(TEXT_A), {"tenant": "acme", "env": "dev"}, "EN"),
                ("b", span(TEXT_B), {"tenant": "beta"}, "fr"),
                ("c", span("short doc three body text"), None, "zz"),
            ],
        ),
        metadata={"job": "j-7"},
    )
    t = {r["doc_id"]: r for r in eng.transcripts().collect()}
    # language validated (P10): EN→en, fr kept, zz (not in the enum)→NULL
    assert t["a"]["language"] == "en"
    assert t["b"]["language"] == "fr"
    assert t["c"]["language"] is None
    # metadata: per-doc map right-merged with the batch-level job map
    assert dict(t["a"]["metadata"]) == {"tenant": "acme", "env": "dev", "job": "j-7"}
    assert dict(t["b"]["metadata"]) == {"tenant": "beta", "job": "j-7"}
    assert dict(t["c"]["metadata"]) == {"job": "j-7"}

    # chunks and embeddings carry the same merged metadata
    for tbl in (eng.chunks(), eng.embeddings()):
        by_doc = {r["doc_id"]: dict(r["metadata"]) for r in tbl.collect()}
        assert by_doc["a"]["tenant"] == "acme" and by_doc["a"]["job"] == "j-7"
        assert by_doc["b"]["tenant"] == "beta"

    # listing filter returns exactly the matching subset
    assert [
        r["doc_id"] for r in eng.list_transcripts(flt={"tenant": "acme"}).collect()
    ] == ["a"]
    # query filter restricts retrieval to the matching tenant
    hits = eng.query("document text", limit=5, flt={"tenant": "beta"}).collect()
    assert hits and {r["doc_id"] for r in hits} == {"b"}
    # batch-level filter matches everything ingested under the job
    assert eng.list_transcripts(flt={"job": "j-7"}).count() == 3


def test_engine_ingest_batch_metadata_overrides_doc_metadata(spark, tmp_path):
    """The merge is right-biased: batch extra wins on key collision
    (transcript.metadata ++ job.metadata, Transcript.scala:17-21)."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    span = [{"kind": "text", "text": TEXT_A, "media_ref": None, "offset": 0}]
    eng.ingest(
        _docs_with_attrs(spark, [("a", span, {"env": "doc-level"}, None)]),
        metadata={"env": "batch-level"},
    )
    row = eng.get_transcript("a").collect()[0]
    assert dict(row["metadata"]) == {"env": "batch-level"}


def test_engine_ingest_audio_word_ms_offsets(spark, tmp_path):
    """VERDICT r3 #8: audio-derived transcript words carry the source
    spans' millisecond offsets (AssemblyAI word shape,
    AssemblyAIAdapter.scala:50-56); text words keep ordinals."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    spans = [
        {"kind": "audio", "text": "Hello.", "media_ref": None, "offset": 250},
        {"kind": "audio", "text": "how", "media_ref": None, "offset": 900},
        {"kind": "audio", "text": "are", "media_ref": None, "offset": 1100},
        {"kind": "audio", "text": "you?", "media_ref": None, "offset": 1400},
        # >1000ms gap → new segment
        {"kind": "audio", "text": "Bye", "media_ref": None, "offset": 9000},
        {"kind": "text", "text": "trailing text", "media_ref": None, "offset": 9500},
    ]
    eng.ingest(_docs_with_attrs(spark, [("au", spans, None, "en")]))
    words = eng.get_transcript("au").collect()[0]["words"]
    shaped = [(w["text"], w["start"], w["end"]) for w in words]
    # segments: "Hello." [250,250]; "how are you?" [900,1400]; "Bye" [9000,9000]
    assert shaped[0] == ("Hello.", 250, 250)
    assert shaped[1] == ("how are you?", 900, 1400)
    assert shaped[2] == ("Bye", 9000, 9000)
    # text-derived words fall back to ordinal offsets
    assert shaped[3] == ("trailing", 3, 4)
    assert shaped[4] == ("text", 4, 5)


def test_engine_ingest_parse_kernel_runs_once(spark, tmp_path):
    """VERDICT r3 #2: the extraction kernel must execute each document
    exactly once per ingest call (the persisted plan), not once per
    downstream table action."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    docs = _docs(spark, [("a", TEXT_A), ("b", TEXT_B), ("c", "one more doc here")])
    acc = spark.sparkContext.accumulator(0)
    eng.ingest(docs, doc_counter=acc)
    assert acc.value == 3
    # replay (now against existing tables: delete + 3 incremental upserts
    # = strictly more actions) still parses each doc exactly once
    acc2 = spark.sparkContext.accumulator(0)
    eng.ingest(docs, doc_counter=acc2)
    assert acc2.value == 3


def test_engine_reingest_is_one_commit_per_table(spark, tmp_path):
    """Re-ingesting existing docs replaces them with ONE merge commit per
    table: chunks and embeddings each advance by exactly one manifest
    version (the entity delete rides the upsert), and the doc's old
    chunks are gone."""
    from srag_spark.sources.tables import latest_manifest_version

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A * 20), ("b", TEXT_B)]))
    before = {
        p: latest_manifest_version(spark, p)
        for p in (eng.chunks_path, eng.embeddings_path)
    }
    assert eng.chunks().filter(F.col("doc_id") == "a").count() > 1
    eng.ingest(_docs(spark, [("a", "now one short chunk"), ("c", TEXT_B)]))
    for p, v in before.items():
        assert latest_manifest_version(spark, p) == v + 1, p
    a_rows = eng.chunks().filter(F.col("doc_id") == "a").collect()
    assert [r["text"] for r in a_rows] == ["now one short chunk"]
    assert eng.chunks().count() == eng.embeddings().count()
    assert {r["doc_id"] for r in eng.chunks().collect()} == {"a", "b", "c"}


def test_engine_reingest_to_zero_chunks_empties_buckets(spark, tmp_path):
    """A re-ingested doc whose new content yields NO chunks leaves no
    chunk or embedding rows, and buckets it emptied leave the manifest
    (a merge whose incoming side is empty for that entity)."""
    from srag_spark.sources.tables import read_manifest

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A)]))
    paths = (eng.chunks_path, eng.embeddings_path)
    before = {p: read_manifest(spark, p) for p in paths}
    assert all(m["buckets"] for m in before.values())
    stats = eng.ingest(_docs(spark, [("a", "   ")]))
    assert stats["chunks"] == 0
    assert eng.chunks().count() == 0 and eng.embeddings().count() == 0
    for p in paths:
        m = read_manifest(spark, p)
        assert m["buckets"] == {}, p
        assert m["version"] == before[p]["version"] + 1, p
    assert eng.transcripts().count() == 1


def test_engine_ingest_records_extraction_metrics(spark, tmp_path):
    """North-rule lineage: every ingest upserts per-doc extraction
    metrics (spans_out, blocks kept/dropped, parse failures); re-ingest
    updates in place; delete removes the row."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    html = "<div>" + " ".join(["word"] * 20) + "</div><div>short nav</div>"
    docs = spark.createDataFrame(
        [
            ("a", [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]),
            ("b", [{"kind": "junkkind", "text": "x", "media_ref": None, "offset": 0}]),
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    eng.ingest(docs)
    m = {r["doc_id"]: r for r in eng.metrics().collect()}
    assert m["a"]["blocks_kept"] == 1 and m["a"]["blocks_dropped"] == 1
    assert m["a"]["spans_out"] == 1 and m["a"]["parse_failures"] == 0
    assert m["b"]["parse_failures"] == 1 and m["b"]["spans_out"] == 0
    eng.ingest(docs)  # replay converges, still one row per doc
    assert eng.metrics().count() == 2
    eng.delete_transcript("b")
    assert [r["doc_id"] for r in eng.metrics().collect()] == ["a"]


def test_cross_table_snapshot_isolation_between_commits(spark, tmp_path, monkeypatch):
    """A reader interleaved between an ingest's four table commits always
    sees the OLD complete engine state; the new state appears atomically
    at the engine-manifest publish (VERDICT r4 #3).  The interleave is
    driven by spying on the facade's upsert_by_key: after EVERY table
    commit of the second ingest, a fresh reader observes the engine."""
    import srag_spark.api as api_mod

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
    t0 = eng.transcripts().count()
    c0 = eng.chunks().count()
    e0 = eng.embeddings().count()
    m0 = eng.metrics().count()

    observed = []
    real_upsert = api_mod.upsert_by_key
    real_delete = api_mod.delete_by_key

    def observe():
        observed.append(
            (
                eng.transcripts().count(),
                eng.chunks().count(),
                eng.embeddings().count(),
                eng.metrics().count(),
            )
        )

    def spy_upsert(spark_, path, *a, **k):
        r = real_upsert(spark_, path, *a, **k)
        observe()
        return r

    def spy_delete(spark_, path, *a, **k):
        r = real_delete(spark_, path, *a, **k)
        observe()
        return r

    monkeypatch.setattr(api_mod, "upsert_by_key", spy_upsert)
    monkeypatch.setattr(api_mod, "delete_by_key", spy_delete)
    # second ingest: re-ingests 'a' (entity replace across tables) and
    # adds two new docs — the worst interleave surface
    eng.ingest(_docs(spark, [("a", TEXT_B), ("c", TEXT_A), ("d", TEXT_B)]))
    monkeypatch.setattr(api_mod, "upsert_by_key", real_upsert)
    monkeypatch.setattr(api_mod, "delete_by_key", real_delete)

    assert len(observed) >= 4  # 4 upserts (one merge commit per table)
    for snap in observed:
        assert snap == (t0, c0, e0, m0), (
            "reader between table commits saw a partial state"
        )
    # after the publish, the complete new state is visible
    assert eng.transcripts().count() == 4
    assert eng.chunks().count() == eng.embeddings().count()
    assert eng.metrics().count() == 4


def _held_at_barrier(real, barrier, seen=None):
    """A spy that holds each call at ``barrier`` before the real call:
    calls made one after another break it (``BrokenBarrierError``).
    ``seen`` collects, per call, the job group and session tags the
    calling thread runs under."""

    def spy(spark_, *a, **k):
        if seen is not None:
            seen.append(
                (
                    spark_.sparkContext.getLocalProperty("spark.jobGroup.id"),
                    spark_.getTags(),
                )
            )
        barrier.wait()
        return real(spark_, *a, **k)

    return spy


def test_ingest_merges_overlap_under_the_callers_job_group(
    spark, tmp_path, monkeypatch, jobs_run_by
):
    """The four merges of one ingest run at the same time, and every
    Spark job the ingest starts, from whichever thread, carries the
    caller's job group and session tags."""
    import srag_spark.api as api_mod

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    seen = []
    monkeypatch.setattr(
        api_mod, "upsert_by_key",
        _held_at_barrier(api_mod.upsert_by_key, threading.Barrier(4, timeout=30), seen),
    )
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    spark.addTag("ingest-caller")
    try:
        stats, jobs = jobs_run_by(
            lambda: eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
        )
    finally:
        spark.removeTag("ingest-caller")
    assert stats["documents"] == 2
    assert jobs
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(seen) == 4
    groups = {group for group, _ in seen}
    assert len(groups) == 1 and None not in groups, groups
    assert all("ingest-caller" in tags for _, tags in seen), seen
    assert eng.transcripts().count() == 2


def test_delete_transcript_deletes_overlap(spark, tmp_path, monkeypatch):
    """The four keyed deletes of ``delete_transcript`` run at the same
    time, over a key frame that is a local relation (``LocalTableScan``),
    not a pickled RDD each delete rescans."""
    import srag_spark.api as api_mod

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
    real = api_mod.delete_by_key
    plans = []

    def record(spark_, path, keys, *a, **k):
        plans.append(keys._jdf.queryExecution().executedPlan().toString())
        return real(spark_, path, keys, *a, **k)

    monkeypatch.setattr(
        api_mod, "delete_by_key",
        _held_at_barrier(record, threading.Barrier(4, timeout=30)),
    )
    eng.delete_transcript("a")
    monkeypatch.setattr(api_mod, "delete_by_key", real)
    assert len(plans) == 4
    for plan in plans:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    for table in (eng.transcripts(), eng.chunks(), eng.embeddings(), eng.metrics()):
        assert {r["doc_id"] for r in table.select("doc_id").collect()} == {"b"}


def _engine_state(eng) -> dict:
    """Every table's rows, timestamps left out, as sorted reprs."""
    out = {}
    for name in ("transcripts", "chunks", "embeddings", "metrics"):
        df = getattr(eng, name)()
        cols = [f.name for f in df.schema.fields if f.dataType.typeName() != "timestamp"]
        out[name] = sorted(repr(r) for r in df.select(*cols).collect())
    return out


def test_failed_merge_waits_for_the_others_and_publishes_nothing(
    spark, tmp_path, monkeypatch
):
    """When one table's merge fails, ingest re-raises it only after the
    other three merges have finished; nothing is published, so every
    reader stays on the old state, and replaying the ingest converges to
    the state a clean ingest leaves."""
    import srag_spark.api as api_mod

    base = _docs(spark, [("a", TEXT_A), ("b", TEXT_B)])
    batch = _docs(spark, [("a", TEXT_B), ("c", TEXT_A * 3)])
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(base)
    versions = eng.snapshot_versions()
    before = _engine_state(eng)
    real = api_mod.upsert_by_key
    finished = []

    def spy(spark_, path, *a, **k):
        if path == eng.embeddings_path:
            raise RuntimeError("embeddings merge failed")
        real(spark_, path, *a, **k)
        finished.append(path)

    monkeypatch.setattr(api_mod, "upsert_by_key", spy)
    with pytest.raises(RuntimeError, match="embeddings merge failed"):
        eng.ingest(batch)
    monkeypatch.setattr(api_mod, "upsert_by_key", real)
    assert sorted(finished) == sorted(
        [eng.transcripts_path, eng.chunks_path, eng.metrics_path]
    )
    assert eng.snapshot_versions() == versions
    assert _engine_state(eng) == before
    assert eng.get_transcript("c").count() == 0

    eng.ingest(batch)  # replay with the real merges
    clean = SragEngine(spark, str(tmp_path / "clean"), n_buckets=4)
    clean.ingest(base)
    clean.ingest(batch)
    assert _engine_state(eng) == _engine_state(clean)


def _plan_nodes(plan) -> list[str]:
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def test_ingest_routes_on_the_batchs_largest_doc(spark, tmp_path, monkeypatch):
    """A batch with no mega doc is extracted by the whole-doc kernel
    alone (one ``MapInArrow``, no salted stages); a batch holding a
    5,000-span doc takes the salted path and its transcript words equal
    the golden extractor's."""
    import srag_spark.api as api_mod
    from srag_spark.golden import extract_document

    real = api_mod.extract_documents
    planned = []

    def spy(*a, **k):
        out = real(*a, **k)
        planned.append(_plan_nodes(out._jdf.queryExecution().analyzed()))
        return out

    monkeypatch.setattr(api_mod, "extract_documents", spy)
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
    nodes = planned.pop()
    assert nodes.count("MapInArrow") == 1, nodes
    assert "FlatMapGroupsInPandas" not in nodes, nodes

    spans = [
        {"kind": "text", "text": f"word{i} and more", "media_ref": None, "offset": i}
        for i in range(5000)
    ]
    docs = spark.createDataFrame(
        [("mega", spans), ("small", _docs(spark, [("x", TEXT_B)]).first()["spans"])],
        schema=DOCUMENTS_SCHEMA,
    )
    eng.ingest(docs)
    nodes = planned.pop()
    assert nodes.count("MapInArrow") == 3, nodes
    assert "FlatMapGroupsInPandas" in nodes, nodes
    want = [t for _, t, _ in extract_document(spans)[0] if t is not None]
    words = eng.get_transcript("mega").collect()[0]["words"]
    assert [w["text"] for w in words] == want
    assert eng.get_transcript("small").count() == 1


def test_lookup_runs_at_most_two_jobs(spark, tmp_path, jobs_run_by):
    """A point lookup reads the engine and table manifests on the driver
    and maps the key to its bucket without a job: only the bucket scan
    runs (``limit(1)`` may take a second pass over the bucket's files)."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
    for doc in ("a", "b"):
        rows, jobs = jobs_run_by(lambda: eng.get_transcript(doc).collect())
        assert [r["doc_id"] for r in rows] == [doc]
        assert len(jobs) <= 2, jobs


def _executed_plans(spark, fn):
    """(fn(), physical plan texts of the SQL executions fn ran)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        n = int(store.executionsCount())
        return int(store.executionsList(n - 1, 1).apply(0).executionId()) if n else -1

    first = last_id() + 1
    out = fn()
    plans = []
    for eid in range(first, last_id() + 1):
        ex = store.execution(eid)
        if ex.isDefined():
            plans.append(str(ex.get().physicalPlanDescription()))
    return out, plans


def test_lookup_and_query_job_counts(spark, tmp_path, jobs_run_by):
    """A lookup is one job, since ``doc_id`` is unique and the scan
    needs no ``limit(1)`` pass.  A query is the cosine top-k (1 job) and
    the BM25 statistics aggregate (2: its shuffle stage and its result)
    and scoring top-k (1).  Every chunk of the first 12 docs holds a
    query term, so no candidate needs the text fetch; once a doc without
    one is ingested, its cosine hit does, and the fetch is one more job.
    Fusion, rerank and gates run on the driver, so no Python UDF is
    planned."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=2)
    words = TEXT_A.split() + TEXT_B.split()
    docs = [(f"d{i}", " ".join(words[i:] + words[:i])) for i in range(12)]
    eng.ingest(_docs(spark, docs))
    for doc, _ in docs:
        rows, jobs = jobs_run_by(lambda: eng.get_transcript(doc).collect())
        assert [r["doc_id"] for r in rows] == [doc]
        assert len(jobs) == 1, (doc, jobs)
    (rows, jobs), plans = _executed_plans(
        spark, lambda: jobs_run_by(lambda: eng.query("quick fox pasta", limit=3).collect())
    )
    assert rows
    assert len(jobs) == 4, jobs
    assert plans and not [p for p in plans if "ArrowEvalPython" in p], plans
    eng.ingest(_docs(spark, [("z", "nothing here matches those three words")]))
    rows, jobs = jobs_run_by(lambda: eng.query("quick fox pasta", limit=20).collect())
    assert rows
    assert len(jobs) == 5, jobs


def test_engine_time_travel_across_snapshots(spark, tmp_path):
    """Every ingest/delete publishes an engine snapshot; old versions
    stay readable (four-table-consistent) until vacuumed."""
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A)]))
    eng.ingest(_docs(spark, [("b", TEXT_B)]))
    eng.delete_transcript("a")

    versions = eng.snapshot_versions()
    assert versions == [1, 2, 3]
    assert sorted(
        r["doc_id"] for r in eng.transcripts(version=1).collect()
    ) == ["a"]
    assert sorted(
        r["doc_id"] for r in eng.transcripts(version=2).collect()
    ) == ["a", "b"]
    assert sorted(r["doc_id"] for r in eng.transcripts().collect()) == ["b"]
    # chunks/embeddings time-travel with the same quadruple
    assert eng.chunks(version=1).count() == eng.embeddings(version=1).count()
    assert eng.chunks(version=1).filter(F.col("doc_id") == "a").count() > 0


def test_engine_vacuum_never_drops_pinned_versions(spark, tmp_path, monkeypatch):
    """After a crash between table commits and the engine publish, the
    engine manifest pins OLDER table versions than latest; vacuum widens
    each table's retention so the pinned versions survive."""
    import srag_spark.api as api_mod
    from srag_spark.sources.tables import upsert_by_key as real_upsert

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, [("a", TEXT_A), ("b", TEXT_B)]))
    t_before = eng.transcripts().count()

    # crash injection: the second ingest commits all tables but dies
    # before publishing the engine snapshot
    def no_publish(self_):
        raise RuntimeError("crash before engine publish")

    monkeypatch.setattr(
        api_mod.SragEngine, "_publish_engine_snapshot", no_publish
    )
    try:
        eng.ingest(_docs(spark, [("c", TEXT_A)]))
    except RuntimeError:
        pass
    monkeypatch.undo()

    # readers are still on the pinned (old) state
    assert eng.transcripts().count() == t_before
    # vacuum with the tightest retention must keep the pinned versions
    eng.vacuum(keep_manifests=1, min_age_seconds=0.0)
    assert eng.transcripts().count() == t_before
    assert eng.chunks().count() == eng.embeddings().count()
    # replaying the ingest converges and publishes the new state
    eng.ingest(_docs(spark, [("c", TEXT_A)]))
    assert eng.transcripts().count() == t_before + 1
