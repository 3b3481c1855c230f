"""Checkpoint/resume semantics (J1–J7): resumed runs skip Success
buckets, failed waves retry then dead-letter, and the final output equals
the golden extraction regardless of interruption pattern."""

from __future__ import annotations

import datetime as _dt

import pytest
from pyspark.sql import functions as F

from srag_spark import golden, synth
from srag_spark.plans.pipeline import ExtractionPipeline
from srag_spark.schema import (
    CHECKPOINTS_SCHEMA,
    DOCUMENTS_SCHEMA,
    STATUS_DEAD_LETTER,
    STATUS_FAILED,
    STATUS_SUCCESS,
)


@pytest.fixture()
def docs_rows():
    return synth.generate_rows(40, seed=21, mega_every=0)


@pytest.fixture()
def docs_df(spark, docs_rows):
    return spark.createDataFrame(docs_rows, schema=DOCUMENTS_SCHEMA)


def golden_flat(rows):
    exp = {}
    for doc_id, spans in rows:
        out, *_ = golden.extract_document(spans)
        for seq, (k, t, m) in enumerate(out):
            exp[(doc_id, seq)] = (k, t, m)
    return exp


def read_flat(pipe):
    return {
        (r["doc_id"], r["seq"]): (r["kind"], r["text"], r["media_ref"])
        for r in pipe.spans().collect()
    }


def test_full_run_then_noop_resume(spark, docs_df, docs_rows, tmp_path):
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=8, wave_size=8)
    s1 = pipe.run(docs_df, input_snapshot="test-v1")
    assert sorted(s1["succeeded"]) == list(range(8))
    assert read_flat(pipe) == golden_flat(docs_rows)

    # second run: everything checkpointed → nothing recomputed
    s2 = pipe.run(docs_df)
    assert s2["skipped"] == 8 and s2["succeeded"] == []
    assert read_flat(pipe) == golden_flat(docs_rows)


def test_interrupted_run_resumes_only_pending(spark, docs_df, docs_rows, tmp_path):
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=8, wave_size=2)
    s1 = pipe.run(docs_df, max_waves=2)  # "crash" after 2 of 4 waves
    assert len(s1["succeeded"]) == 4
    done = set(s1["succeeded"])

    s2 = pipe.run(docs_df)
    assert set(s2["succeeded"]) == set(range(8)) - done
    assert s2["skipped"] == 4
    assert read_flat(pipe) == golden_flat(docs_rows)


def test_failed_wave_retries_then_dead_letters(spark, docs_df, tmp_path):
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "out"), n_buckets=4, wave_size=4, max_attempts=3
    )

    boom = RuntimeError("injected wave failure")

    def always_fail(wave):
        raise boom

    future = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None) + _dt.timedelta(
        seconds=300
    )
    for expected_attempt in (1, 2):
        # now= jumps past the retry backoff (tested separately)
        s = pipe.run(docs_df, fail_injector=always_fail, now=future)
        assert s["failed"] == [0, 1, 2, 3]
        states = {
            r["partition_id"]: (r["status"], r["attempt"], r["error_message"])
            for r in pipe.latest_checkpoints().collect()
        }
        for b in range(4):
            status, attempt, err = states[b]
            assert status == STATUS_FAILED and attempt == expected_attempt
            assert "injected wave failure" in err

    # third attempt exhausts max_attempts → DeadLetter, then skipped forever
    s3 = pipe.run(docs_df, fail_injector=always_fail, now=future)
    assert s3["dead_lettered"] == [0, 1, 2, 3]
    s4 = pipe.run(docs_df)
    assert s4["succeeded"] == [] and s4["skipped"] == 4
    states = {r["partition_id"]: r["status"] for r in pipe.latest_checkpoints().collect()}
    assert all(v == STATUS_DEAD_LETTER for v in states.values())


def test_failure_then_recovery_converges(spark, docs_df, docs_rows, tmp_path):
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=4, wave_size=2)

    calls = {"n": 0}

    def fail_first_wave_once(wave):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")

    s1 = pipe.run(docs_df, fail_injector=fail_first_wave_once)
    assert len(s1["failed"]) == 2 and len(s1["succeeded"]) == 2

    future = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None) + _dt.timedelta(
        seconds=300
    )
    s2 = pipe.run(docs_df, now=future)  # retry of failed wave (past backoff)
    assert len(s2["succeeded"]) == 2 and s2["skipped"] == 2
    assert read_flat(pipe) == golden_flat(docs_rows)
    # lineage/metrics recorded
    ck = pipe.latest_checkpoints().collect()
    assert all(r["status"] == STATUS_SUCCESS for r in ck)
    assert sum(r["docs_processed"] for r in ck) == len(docs_rows)


def test_retry_backoff_delays_failed_buckets(spark, docs_df, tmp_path):
    """J5: a Failed bucket is not retried before its exponential backoff
    (2s·2^(attempt−1), cap 60s) elapses, and IS retried after."""
    from srag_spark.plans.pipeline import retry_delay_s

    assert [retry_delay_s(a) for a in (1, 2, 3, 4, 5, 6, 7)] == [
        2.0, 4.0, 8.0, 16.0, 32.0, 60.0, 60.0,
    ]

    pipe = ExtractionPipeline(
        spark, str(tmp_path / "out"), n_buckets=4, wave_size=4, max_attempts=5
    )

    def always_fail(wave):
        raise RuntimeError("transient outage")

    s1 = pipe.run(docs_df, fail_injector=always_fail)
    assert s1["failed"] == [0, 1, 2, 3]
    failed_at = {
        r["partition_id"]: (r["updated_at"], r["next_attempt_at"])
        for r in pipe.latest_checkpoints().collect()
    }
    for updated_at, next_at in failed_at.values():
        assert next_at is not None
        delta = (next_at - updated_at).total_seconds()
        assert 1.9 <= delta <= 2.5  # attempt 1 → 2 s backoff

    # immediately after the failure: backoff not elapsed → nothing runs
    just_after = min(v[0] for v in failed_at.values())
    assert pipe.pending_buckets(now=just_after) == []
    s2 = pipe.run(docs_df, now=just_after)
    assert s2["succeeded"] == [] and s2["failed"] == []

    # past the backoff: buckets are visible again and retry (successfully)
    later = just_after + _dt.timedelta(seconds=30)
    assert pipe.pending_buckets(now=later) == [0, 1, 2, 3]
    s3 = pipe.run(docs_df, now=later)
    assert s3["succeeded"] == [0, 1, 2, 3]


def test_ingestion_pipeline_resumes_full_engine_ingest(spark, tmp_path):
    """IngestionPipeline: corpus-scale onboarding into all four engine
    tables with wave checkpoints — a killed run resumes by skipping
    Success buckets, the finished state matches a one-shot ingest, and
    per-doc metadata survives the waves."""
    from pyspark.sql import functions as F

    from srag_spark.api import SragEngine
    from srag_spark.plans.pipeline import IngestionPipeline

    docs = spark.createDataFrame(
        [
            (f"d{i}",
             [{"kind": "text", "text": f"doc {i} body words here", "media_ref": None,
               "offset": 0}],
             {"tenant": "t" + str(i % 2)})
            for i in range(40)
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, metadata map<string,string>",
    )

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=8)
    pipe = IngestionPipeline(eng, wave_size=2, batch_metadata={"job": "load1"})

    # crash after 2 waves (4 of 8 buckets)
    s1 = pipe.run(docs, max_waves=2)
    assert len(s1["succeeded"]) == 4
    assert eng.transcripts().count() < 40

    # resume: fresh pipeline instance over the same root skips Success
    pipe2 = IngestionPipeline(eng, wave_size=2, batch_metadata={"job": "load1"})
    s2 = pipe2.run(docs)
    assert s2["skipped"] == 4 and len(s2["succeeded"]) == 4

    assert eng.transcripts().count() == 40
    assert eng.chunks().count() == 40 and eng.embeddings().count() == 40
    assert eng.metrics().count() == 40
    # metadata flowed through the waves; filters work
    assert eng.list_transcripts(flt={"tenant": "t1", "job": "load1"}).count() == 20
    # checkpoint lineage recorded real doc counts summing to the corpus
    done = pipe2.latest_checkpoints().collect()
    assert sum(r["docs_processed"] for r in done) == 40
    assert all(r["status"] == "Success" for r in done)

    # re-running the whole pipeline is a no-op (all buckets Success)
    s3 = IngestionPipeline(eng, wave_size=2).run(docs)
    assert s3["skipped"] == 8 and not s3["succeeded"]


def test_ingestion_pipeline_topup_metrics_count_wave_docs_only(spark, tmp_path):
    """Incremental top-up into a POPULATED engine: per-wave checkpoint
    metrics count the wave's OWN documents, not everything previously
    ingested into the same metrics buckets (VERDICT r4 #2 — bucket
    contents are cumulative across batches, so the wave's metrics read
    is semi-joined on the wave's doc ids)."""
    from srag_spark.api import SragEngine
    from srag_spark.plans.pipeline import IngestionPipeline

    def batch(lo, hi):
        return spark.createDataFrame(
            [
                (f"d{i}",
                 [{"kind": "text", "text": f"doc {i} body words",
                   "media_ref": None, "offset": 0}])
                for i in range(lo, hi)
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(batch(0, 30))  # pre-populate via the facade

    pipe = IngestionPipeline(eng, wave_size=2)
    s = pipe.run(batch(100, 120))  # disjoint 20-doc top-up
    assert len(s["succeeded"]) == 4 and not s["failed"]

    done = pipe.latest_checkpoints().collect()
    # every checkpoint row counts only its wave's docs: totals are the
    # top-up batch, NOT the 50 docs now living in those buckets
    assert sum(r["docs_processed"] for r in done) == 20
    assert all(r["status"] == STATUS_SUCCESS for r in done)
    assert eng.transcripts().count() == 50


def test_optimize_between_kill_and_resume_is_transparent(spark, tmp_path):
    """Maintenance mid-load: a table rewrite (compaction + re-bucketing
    via SragEngine.optimize) between a killed ingest and its resume must
    not disturb wave checkpoints, dedup the resume, or change the final
    state vs a one-shot run."""
    from srag_spark.api import SragEngine
    from srag_spark.plans.pipeline import IngestionPipeline

    docs = spark.createDataFrame(
        [
            (f"d{i}",
             [{"kind": "text", "text": f"doc {i} content words", "media_ref": None,
               "offset": 0}],
             {"job": "load"})
            for i in range(24)
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, metadata map<string,string>",
    )

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=8)
    IngestionPipeline(eng, wave_size=2).run(docs, max_waves=2)  # killed

    stats = eng.optimize(n_buckets=16)  # maintenance while half-loaded
    assert all(s["n_buckets"] == 16 for s in stats.values())

    pipe2 = IngestionPipeline(eng, wave_size=2)
    s2 = pipe2.run(docs)
    assert s2["skipped"] == 4 and len(s2["succeeded"]) == 4
    assert eng.transcripts().count() == 24
    assert eng.chunks().count() == 24 and eng.embeddings().count() == 24
    assert eng.metrics().count() == 24
    assert all(c.ok for c in eng.health())
    # lineage metrics survive the re-bucketing: post-optimize waves read
    # the metrics table WITHOUT the stale wave-id bucket pruning (the
    # table's modulus is 16, the wave's is 8), so every checkpoint row
    # counts its wave's docs and the total equals the corpus
    done = pipe2.latest_checkpoints().collect()
    assert sum(r["docs_processed"] for r in done) == 24
    assert all(r["docs_processed"] > 0 for r in done)


# -- checkpoint figures --------------------------------------------------------
# Mega docs with a low salt threshold: every mega doc goes down the salted
# slice path, so the observed counts cover both extraction paths.
SALT = {"salt_threshold": 1000, "slice_target": 256}


@pytest.fixture()
def mega_rows():
    rows = synth.generate_rows(60, seed=5, mega_every=20)
    assert sum(len(spans) > SALT["salt_threshold"] for _, spans in rows) == 3
    return rows


def golden_bucket_counts(spark, rows, n_buckets):
    """{bucket: (docs, kept, dropped, failures)} from the golden extractor,
    every bucket present (zeros where no doc hashes)."""
    from srag_spark.plans.pipeline import bucket_col

    ids = spark.createDataFrame([(d,) for d, _ in rows], "doc_id string")
    bucket_of = {
        r["doc_id"]: r["bucket"]
        for r in ids.withColumn("bucket", bucket_col(n_buckets)).collect()
    }
    out = {b: [0, 0, 0, 0] for b in range(n_buckets)}
    for doc_id, spans in rows:
        _, kept, dropped, failures = golden.extract_document(spans)
        for i, v in enumerate((1, kept, dropped, failures)):
            out[bucket_of[doc_id]][i] += v
    return {b: tuple(v) for b, v in out.items()}


@pytest.mark.parametrize("n_buckets,wave_size", [(8, 4), (64, 64)])
def test_checkpoint_counts_match_golden_per_bucket(
    spark, mega_rows, tmp_path, n_buckets, wave_size
):
    """Every bucket's checkpoint row carries the golden extractor's
    per-bucket docs / blocks kept / blocks dropped / parse failures —
    salted mega docs included, and zeros for buckets holding no doc
    (60 docs over 64 buckets leave some empty)."""
    want = golden_bucket_counts(spark, mega_rows, n_buckets)
    assert any(v[0] == 0 for v in want.values()) == (n_buckets == 64)

    pipe = ExtractionPipeline(
        spark, str(tmp_path / "out"), n_buckets=n_buckets, wave_size=wave_size,
        **SALT,
    )
    docs = spark.createDataFrame(mega_rows, schema=DOCUMENTS_SCHEMA)
    s = pipe.run(docs)
    assert sorted(s["succeeded"]) == list(range(n_buckets))
    got = {
        r["partition_id"]: (r["docs_processed"], r["blocks_kept"],
                            r["blocks_dropped"], r["parse_failures"])
        for r in pipe.latest_checkpoints().collect()
    }
    assert got == want
    assert read_flat(pipe) == golden_flat(mega_rows)


def test_wave_runs_no_more_jobs_than_its_bare_write(
    spark, mega_rows, tmp_path, jobs_run_by
):
    """A wave is its write: counting the checkpoint figures adds no job
    (no cache fill, no second aggregation pass) over a bare write of the
    same extraction plan."""
    from srag_spark.operators.parse import explode_extracted, extract_documents
    from srag_spark.plans.pipeline import bucket_col

    docs = spark.createDataFrame(mega_rows, schema=DOCUMENTS_SCHEMA)
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=4, **SALT)

    def bare_write():
        flat = explode_extracted(extract_documents(docs, **SALT)).withColumn(
            "bucket", bucket_col(4)
        )
        flat.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(str(tmp_path / "bare"))

    _, bare = jobs_run_by(bare_write)
    counts, wave = jobs_run_by(
        lambda: pipe._process_wave(docs.withColumn("bucket", bucket_col(4)),
                                   [0, 1, 2, 3])
    )
    assert bare and len(wave) <= len(bare)
    assert sum(c[0] for c in counts.values()) == len(mega_rows)


# -- checkpoint bookkeeping on the driver --------------------------------------
def test_run_starts_only_its_wave_writes(spark, docs_df, tmp_path, jobs_run_by):
    """Reading the checkpoint table and appending a wave's rows start no
    Spark job: a 2-wave run starts no more jobs than the bare writes of
    its two waves."""
    from srag_spark.operators.parse import explode_extracted, extract_documents
    from srag_spark.plans.pipeline import bucket_col

    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=4, wave_size=2)
    docs = docs_df.withColumn("bucket", bucket_col(4))

    def bare_writes():
        for wave in ([0, 1], [2, 3]):
            wave_docs = docs.filter(docs.bucket.isin(wave)).select("doc_id", "spans")
            flat = explode_extracted(extract_documents(wave_docs)).withColumn(
                "bucket", bucket_col(4)
            )
            flat.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket").parquet(str(tmp_path / "bare"))

    _, bare = jobs_run_by(bare_writes)
    summary, run = jobs_run_by(lambda: pipe.run(docs_df))
    assert summary["succeeded"] == [0, 1, 2, 3]
    assert bare and len(run) <= len(bare), (run, bare)
    # the resume leg reads the table and decides on the driver alone
    summary, resume = jobs_run_by(lambda: pipe.run(docs_df))
    assert summary["skipped"] == 4 and resume == []


def test_run_leaves_session_overwrite_mode_alone(spark, docs_df, tmp_path):
    """Dynamic partition overwrite is an option of the wave write, not a
    session setting: after run() a plain partitioned overwrite in the same
    session still replaces every partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=2).run(docs_df)
    assert spark.conf.get(key) == before

    out = str(tmp_path / "plain")
    spark.range(4).withColumn("p", F.col("id") % 2).write.mode(
        "overwrite"
    ).partitionBy("p").parquet(out)
    spark.range(1).withColumn("p", F.lit(0)).write.mode(
        "overwrite"
    ).partitionBy("p").parquet(out)
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [(0, 0)]


def _ckpt(bucket, status, attempt, updated_at, next_at=None):
    return {
        "partition_id": bucket, "status": status, "attempt": attempt,
        "max_attempts": 5, "error_message": None, "input_snapshot": "",
        "docs_processed": 0, "blocks_kept": 0, "blocks_dropped": 0,
        "parse_failures": 0, "started_at": updated_at, "updated_at": updated_at,
        "next_attempt_at": next_at,
    }


def _legacy_append(spark, checkpoint_dir, rows):
    """The previous checkpoint writer: a Spark job appending one file with
    INT96 timestamps, plus ``_SUCCESS`` and ``.crc`` files."""
    spark.createDataFrame(
        [tuple(r[f.name] for f in CHECKPOINTS_SCHEMA.fields) for r in rows],
        CHECKPOINTS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(checkpoint_dir)


def _states(rows):
    return {r["partition_id"]: (r["status"], r["attempt"], r["next_attempt_at"])
            for r in rows}


def test_resume_from_a_checkpoint_dir_of_both_writers(spark, docs_df, tmp_path):
    """A checkpoint dir the Spark writer started (INT96 timestamps,
    ``_SUCCESS``, ``.crc``) and this writer continued resumes: the latest
    row per bucket is taken across both kinds of file, in both directions,
    and a Failed bucket's backoff is honoured."""
    import os

    import pyarrow.parquet as pq

    t = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None) - _dt.timedelta(hours=1)
    sec = lambda n: t + _dt.timedelta(seconds=n)  # noqa: E731
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "out"), n_buckets=4, wave_size=4, max_attempts=5
    )
    _legacy_append(spark, pipe.checkpoint_dir, [
        _ckpt(0, STATUS_SUCCESS, 1, t),
        _ckpt(1, STATUS_FAILED, 1, t, sec(2)),
        _ckpt(2, STATUS_SUCCESS, 1, t),
        _ckpt(3, STATUS_FAILED, 1, t, sec(2)),
    ])
    pipe._append_checkpoints([  # newer than the Spark-written rows
        _ckpt(2, STATUS_FAILED, 2, sec(10), sec(14)),
        _ckpt(3, STATUS_SUCCESS, 2, sec(10)),
    ])
    _legacy_append(spark, pipe.checkpoint_dir, [  # newer than this writer's
        _ckpt(3, STATUS_FAILED, 3, sec(20), sec(28)),
    ])
    names = os.listdir(pipe.checkpoint_dir)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    timestamp_types = {
        str(pq.ParquetFile(os.path.join(pipe.checkpoint_dir, n)).schema.column(11).physical_type)
        for n in names if n.startswith("part-")
    }
    assert timestamp_types == {"INT96", "INT64"}

    assert _states(pipe.latest_checkpoints().collect()) == {
        0: (STATUS_SUCCESS, 1, None),
        1: (STATUS_FAILED, 1, sec(2)),
        2: (STATUS_FAILED, 2, sec(14)),
        3: (STATUS_FAILED, 3, sec(28)),
    }
    # bucket 3's backoff runs until sec(28)
    assert pipe.pending_buckets(now=sec(20)) == [1, 2]
    s1 = pipe.run(docs_df, now=sec(20))
    assert s1["succeeded"] == [1, 2] and s1["skipped"] == 2
    s2 = pipe.run(docs_df, now=sec(30))
    assert s2["succeeded"] == [3] and s2["skipped"] == 3
    latest = {r["partition_id"]: (r["status"], r["attempt"])
              for r in pipe.latest_checkpoints().collect()}
    assert latest == {0: (STATUS_SUCCESS, 1), 1: (STATUS_SUCCESS, 2),
                      2: (STATUS_SUCCESS, 3), 3: (STATUS_SUCCESS, 4)}
    # the files stay one parquet table for Spark's reader
    assert spark.read.schema(CHECKPOINTS_SCHEMA).parquet(pipe.checkpoint_dir).count() == 10
    assert pipe.checkpoints().count() == 10


def test_latest_checkpoints_are_the_states_run_decides_from(spark, docs_df, tmp_path):
    """latest_checkpoints() and run() apply one latest-row rule to the
    same checkpoint rows."""
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "out"), n_buckets=4, wave_size=2, max_attempts=5
    )
    t = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    # same updated_at for two rows of bucket 1: the higher attempt wins
    pipe._append_checkpoints([
        _ckpt(0, STATUS_FAILED, 1, t, t),
        _ckpt(1, STATUS_FAILED, 1, t, t),
        _ckpt(1, STATUS_FAILED, 2, t, t),
    ])

    def fail(wave):
        raise RuntimeError("injected")

    pipe.run(docs_df, fail_injector=fail, max_waves=1, now=t)  # waves [0,1]
    decided = {}
    read = pipe._bucket_states

    def spy():
        states = read()
        decided.update(states)
        return states

    pipe._bucket_states = spy
    want = _states(pipe.latest_checkpoints().collect())
    pipe.run(docs_df, fail_injector=fail, now=t + _dt.timedelta(minutes=5))
    assert decided == want
    assert {b: v[:2] for b, v in want.items()} == {
        0: (STATUS_FAILED, 2), 1: (STATUS_FAILED, 3)
    }


def test_hidden_temp_file_is_ignored(spark, tmp_path, monkeypatch):
    """A crash between an append's write and its rename leaves a hidden
    temp file; neither the pipeline nor Spark's reader sees its rows."""
    import os

    from srag_spark.sources import fsio

    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=2)
    t = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    pipe._append_checkpoints([_ckpt(0, STATUS_SUCCESS, 1, t)])

    def crash(*args):
        raise RuntimeError("driver lost before the rename")

    monkeypatch.setattr(fsio, "rename", crash)
    with pytest.raises(RuntimeError):
        pipe._append_checkpoints([_ckpt(1, STATUS_SUCCESS, 1, t)])
    monkeypatch.undo()
    stray = [n for n in os.listdir(pipe.checkpoint_dir)
             if n.startswith(".") and not n.endswith(".crc")]
    assert len(stray) == 1

    assert pipe.pending_buckets() == [1]
    assert _states(pipe.latest_checkpoints().collect()) == {
        0: (STATUS_SUCCESS, 1, None)
    }
    assert spark.read.schema(CHECKPOINTS_SCHEMA).parquet(pipe.checkpoint_dir).count() == 1

    # a rename that reports failure (Hadoop's FileSystem.rename returns
    # false) fails the append, so the wave is not reported done
    monkeypatch.setattr(fsio, "rename", lambda *args: False)
    with pytest.raises(OSError):
        pipe._append_checkpoints([_ckpt(1, STATUS_SUCCESS, 1, t)])
    monkeypatch.undo()
    assert pipe.pending_buckets() == [1]
    assert [n for n in os.listdir(pipe.checkpoint_dir)
            if n.startswith(".") and not n.endswith(".crc")] == stray
