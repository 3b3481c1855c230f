"""SragEngine — the engine's façade: the reference's service surface as
one object over manifest-committed tables.

The reference exposes its capabilities as HTTP endpoints
(MainHandlers.scala: POST /api/v1/ingest/{audio|text}, POST
/api/v1/query, GET /api/v1/transcripts[/id], DELETE /api/v1/transcripts/
id) backed by Postgres + Qdrant + OpenSearch.  A user switching to this
engine gets the same verbs on one class, backed by four
manifest-committed tables under a single root:

    root/transcripts   (doc_id)                    — S4/S5/S6/Q9
    root/chunks        (doc_id, segment_index)     — S9 lexical corpus
    root/embeddings    (doc_id, segment_index)     — S7/S8 vector corpus
    root/metrics       (doc_id)                    — extraction lineage
                       (spans_out, blocks kept/dropped, parse failures)

``ingest`` is the whole worker pipeline (extract → transcript build →
chunk → embed → upsert, IngestionWorker.scala:70-95 +
IndexingPipeline.scala:56-115) as ONE call: re-ingesting a document
replaces it everywhere with one merge commit per table (the keyed upsert
also drops the doc's previous chunk and embedding rows, so a shrunk doc
leaves nothing stale — the reference's delete-then-index,
OpenSearchAdapter.scala:147-181, as a single snapshot); replaying
converges (J7).  ``query``
is QueryService.retrieveContext (vector ∥ BM25 → RRF → rerank gates).

Every write commits through the snapshot-atomic manifest protocol
(sources/tables), and the facade adds CROSS-TABLE snapshot isolation on
top.  An engine mutation (``ingest``, ``delete_transcript``,
``delete_where``, ``optimize``) runs its four table commits
concurrently, one thread per table (``SragEngine._each_table``), and
only after all of them have finished publishes one
ENGINE manifest (``root/_engine``) pinning the (transcripts, chunks,
embeddings, metrics) version quadruple, and every reader
(``transcripts()``, ``chunks()``, ``query()``, ...) resolves tables
through the latest engine manifest.  A reader interleaved anywhere
between a batch's table commits therefore sees the OLD complete state;
the new state becomes visible atomically at the engine-manifest
publish.  This is STRONGER than the reference, whose delete-then-index
against OpenSearch/Qdrant exposes a window in which chunks are deleted
but embeddings not yet indexed (IndexingPipeline.scala:93-103); the
write-side crash contract is unchanged by the overlap — a crash or a
failed table commit, whichever others have landed, leaves readers on
the old quadruple until the ingest is replayed, which converges (J7)
and publishes.  Engine manifests are ordinary
manifest versions, so TIME TRAVEL works across whole-engine snapshots
(pass ``version=`` to the table accessors).
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable
from functools import partial

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from srag_spark.functions.planning import held, in_threads, persist
from srag_spark.operators.parse import (
    DEFAULT_SALT_THRESHOLD,
    extract_documents,
    extraction_metrics,
)
from srag_spark.operators.retrieval import listing, retrieve_context
from srag_spark.operators.transcripts import (
    build_transcripts,
    enrich_metadata,
    validate_language,
)
from srag_spark.plans.indexing import build_chunks, build_embeddings
from srag_spark.schema import TRANSCRIPTS_SCHEMA
from srag_spark.sources import fsio
from srag_spark.sources.tables import (
    _MANIFEST_DIR,
    _with_commit_retries,
    commit_manifest,
    delete_by_key,
    latest_manifest_version,
    manifest_versions,
    read_manifest,
    read_table,
    rollback as table_rollback,
    scan_manifest,
    snapshot,
    table_exists,
    upsert_by_key,
)

_CHUNK_KEY = ["doc_id", "segment_index"]


class StagedConflict(RuntimeError):
    """A staged ingest cannot be published or abandoned: one of its
    tables moved past the version the stage recorded (another engine
    mutation ran while it was staged, against the single-writer
    contract).  Nothing is published or unwound; the stage record stays
    for inspection."""


class SragEngine:
    """One engine instance per table root; safe to re-instantiate over
    existing tables (all state lives in the manifests)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 64,
        embed_fn=None,
        rerank_fn=None,
    ) -> None:
        """``embed_fn`` / ``rerank_fn`` inject real models into every
        embedding/rerank site (chunk embeddings at ingest, query
        embedding + cross-encoder at query) — batch-callable contract in
        :mod:`srag_spark.functions.embedding`; defaults are the
        deterministic stubs the reference's external model services map
        to (HuggingFaceAdapter.scala:29-60,
        TransformersRerankerAdapter.scala:37-82)."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets
        self.embed_fn = embed_fn
        self.rerank_fn = rerank_fn
        self.transcripts_path = f"{self.root}/transcripts"
        self.chunks_path = f"{self.root}/chunks"
        self.embeddings_path = f"{self.root}/embeddings"
        self.metrics_path = f"{self.root}/metrics"
        # engine-level manifest pinning the four-table version quadruple
        # (cross-table snapshot isolation; VERDICT r4 next-round #3)
        self.engine_meta_path = f"{self.root}/_engine"
        self._table_paths = {
            "transcripts": self.transcripts_path,
            "chunks": self.chunks_path,
            "embeddings": self.embeddings_path,
            "metrics": self.metrics_path,
        }

    # -- engine snapshot (cross-table isolation) ---------------------------
    def _publish_engine_snapshot(self) -> None:
        """Publish one engine manifest pinning every existing table's
        CURRENT manifest version — the atomic visibility point for a
        whole ingest/delete batch.  Concurrent publishers race on the
        engine-manifest rename exactly like table commits; a loser
        re-derives the (monotone) latest versions and retries
        (``tables._with_commit_retries``), so the surviving manifest
        always pins a state at least as new."""

        def once():
            pins = self._table_versions()
            commit_manifest(
                self.spark,
                self.engine_meta_path,
                {"tables": {k: v for k, v in pins.items() if v is not None}},
            )

        _with_commit_retries(once)

    def _each_table(self, commit: Callable[[str, str], object]) -> dict:
        """Run ``commit(name, path)`` for the four tables concurrently, one
        thread per table, and return ``{name: result}`` once EVERY commit
        has finished.  A mutation's per-table commits are independent (each
        is its own compare-and-publish on its own table), and nothing they
        land is visible before the caller's engine publish, so overlapping
        them changes no reader's view and no crash outcome.

        Each thread keeps the caller's job group, description and tags
        (:func:`~srag_spark.functions.planning.in_threads`).  A failed
        commit does not stop the others; the call waits for all of them,
        then raises the first failure in table order."""
        paths = self._table_paths
        calls = [partial(commit, name, path) for name, path in paths.items()]
        return dict(zip(paths, in_threads(self.spark, calls)))

    def snapshot_versions(self) -> list[int]:
        """Engine snapshot versions available for time travel (oldest
        surviving → latest); [] before the first publish."""
        return manifest_versions(self.spark, self.engine_meta_path)

    def _pinned(self, version: int | None = None) -> dict[str, int] | None:
        """The table-version quadruple of an engine snapshot (latest by
        default); None when no engine manifest exists (tables written by
        pre-engine-manifest code, or mid-first-ingest) — readers then
        fall back to each table's latest snapshot."""
        m = read_manifest(self.spark, self.engine_meta_path, version=version)
        return m["tables"] if m is not None else None

    def _pinned_version(
        self,
        name: str,
        version: int | None = None,
        pins: dict[str, int] | None = None,
    ) -> int | None:
        """The version of table ``name`` an engine snapshot pins (None:
        no engine manifest, read the table's latest).  ``pins`` lets a
        multi-table reader (query) resolve the engine manifest ONCE so
        all its tables come from the same snapshot even if a concurrent
        ingest publishes between the per-table reads."""
        if pins is None:
            pins = self._pinned(version)
        if pins is None:
            return None  # pre-engine-manifest tables: latest snapshot
        if name not in pins:
            # an engine manifest exists but does not pin this table: the
            # table is ABSENT at this snapshot (e.g. while an initial
            # ingest is staged, or time-traveling to before the table's
            # first publish) — falling back to table-latest here would
            # leak unpublished state
            raise FileNotFoundError(
                f"table {name!r} is not part of this engine snapshot"
            )
        return pins[name]

    def _read(
        self,
        name: str,
        version: int | None = None,
        pins: dict[str, int] | None = None,
    ) -> DataFrame:
        """Read one table at the engine-pinned version."""
        return read_table(
            self.spark,
            self._table_paths[name],
            version=self._pinned_version(name, version, pins),
        )

    # -- ingest (POST /api/v1/ingest/* + the async worker pipeline) --------
    def _doc_meta(self, docs: DataFrame, extra: dict[str, str] | None):
        """(doc_id, metadata) with per-doc input metadata (optional
        ``metadata`` column on ``docs``) right-merged with the batch-level
        ``extra`` dict — the reference's job-metadata merge
        (Transcript.scala:17-21 ``transcript.metadata ++ job.metadata``).
        None when the batch carries no metadata at all."""
        has_col = "metadata" in docs.columns
        if not has_col and not extra:
            return None
        meta = (
            F.col("metadata")
            if has_col
            else F.create_map().cast("map<string,string>")
        )
        base = docs.select("doc_id", meta.alias("metadata"))
        return enrich_metadata(base, extra) if extra else base

    def ingest(
        self,
        docs: DataFrame,
        metadata: dict[str, str] | None = None,
        doc_counter=None,
        _publish: bool = True,
    ) -> dict:
        """Extract, build transcripts, chunk, embed, and upsert — the full
        ingestion worker for a batch of interleaved documents
        (DOCUMENTS_SCHEMA).  Returns row counts per table.

        The four table merges run concurrently (:meth:`_each_table`) over
        the shared persisted extraction; the engine-manifest publish after
        all four is still the only point where readers see the batch, and
        a failed merge is re-raised only once the other three have
        finished, with nothing published.  A batch whose largest doc is
        within ``DEFAULT_SALT_THRESHOLD`` spans is extracted by the
        whole-doc kernel alone; one holding a mega doc takes the salted
        path, as :func:`extract_documents` plans it.

        ``docs`` may carry two OPTIONAL columns beyond the input_hint
        shape: ``metadata map<string,string>`` (per-doc) and ``language
        string`` — the reference's ingest request fields
        (MainEndpoints.scala text/audio requests carry language +
        metadata; IngestionWorker merges job metadata into the
        transcript, Transcript.scala:17-21).  ``metadata`` (the kwarg) is
        batch-level extra metadata, right-merged over per-doc maps.  Both
        flow onto the transcript row AND every derived chunk/embedding
        row, so ``query(flt=...)`` / ``list_transcripts(flt=...)``
        filter engine-built tables exactly as the reference filters
        OpenSearch/Qdrant on ``metadata.*``
        (OpenSearchAdapter.scala:216-224, QdrantAdapter.scala:173-181).

        ``doc_counter`` (a Spark accumulator) counts documents entering
        the parse kernel — the 'docs parsed' lineage metric, and the
        proof that the persisted extraction executes ONCE per ingest.

        Returned counts are BATCH-level: documents/chunks/embeddings
        rows written by THIS call (no full-table re-scan; embeddings is
        row-for-row the chunk count — build_embeddings is a per-row
        projection).

        ``_publish=False`` is internal (used by :meth:`stage_ingest`):
        the table commits land but the engine snapshot is NOT published,
        so readers stay on the previous quadruple.
        """
        with held() as ledger:
            # the input batch feeds several subplans (the extraction, the
            # metadata/language joins, audio timing, the replaced doc ids)
            # — persist it so an expensive source (a JSONL parse, a remote
            # scan) is read once per ingest
            docs = persist(docs, ledger, StorageLevel.MEMORY_AND_DISK)
            # one job over the persisted batch: the returned document count
            # and the largest doc, which decides the routing — a batch with
            # no mega doc runs only the whole-doc kernel, not the salted
            # path's Python stages over zero rows
            batch = docs.agg(
                F.count_distinct("doc_id").alias("documents"),
                F.max(F.size("spans")).alias("max_spans"),
            ).first()
            salted = (batch["max_spans"] or 0) > DEFAULT_SALT_THRESHOLD
            extracted = extract_documents(
                docs.select("doc_id", "spans"),
                salt_threshold=DEFAULT_SALT_THRESHOLD if salted else None,
                doc_counter=doc_counter,
            )
            # the Python parse kernel is the most expensive stage and its
            # output feeds transcripts AND chunks AND embeddings AND
            # metrics — persist it for the duration of the call so it
            # executes exactly once (each merge reads its own incoming plan
            # in one job, so the four merges share this one persist)
            extracted = persist(extracted, ledger, StorageLevel.MEMORY_AND_DISK)
            doc_meta = self._doc_meta(docs, metadata)
            transcripts = build_transcripts(extracted, source_docs=docs)
            if doc_meta is not None:
                transcripts = (
                    transcripts.drop("metadata")
                    .join(doc_meta, "doc_id", "left")
                    .withColumn(
                        "metadata",
                        F.coalesce(
                            "metadata", F.create_map().cast("map<string,string>")
                        ),
                    )
                )
            if "language" in docs.columns:
                transcripts = (
                    transcripts.drop("language")
                    .join(docs.select("doc_id", "language"), "doc_id", "left")
                )
            transcripts = validate_language(transcripts).select(
                *[f.name for f in TRANSCRIPTS_SCHEMA.fields]
            )
            chunks = build_chunks(extracted, doc_meta=doc_meta)
            # chunks feed their own upsert and the embeddings build —
            # persist so the chunk UDF runs once
            chunks = persist(chunks, ledger, StorageLevel.MEMORY_AND_DISK)
            embeddings = build_embeddings(chunks, embed_fn=self.embed_fn)

            doc_ids = docs.select("doc_id").distinct()
            # per table: (rows, key, entity deletes)
            merges = {
                "transcripts": (transcripts, ["doc_id"], None),
                # replace-entity: a re-ingested doc drops ALL its previous
                # chunk and embedding rows in the same commit that lands
                # the new ones, so shrunk docs leave nothing stale
                "chunks": (chunks, _CHUNK_KEY, doc_ids),
                "embeddings": (embeddings, _CHUNK_KEY, doc_ids),
                # per-doc extraction lineage metrics (north rule; the batch
                # pipeline records the same per bucket, plans/pipeline.py)
                # — a cheap projection of the persisted extraction
                "metrics": (
                    extraction_metrics(extracted).withColumn(
                        "ingested_at", F.current_timestamp()
                    ),
                    ["doc_id"],
                    None,
                ),
            }

            def merge(name: str, path: str) -> int:
                rows, key, deletes = merges[name]
                return upsert_by_key(
                    self.spark, path, rows, key, n_buckets=self.n_buckets,
                    deletes=deletes,
                )

            # the four merges overlap; concurrent readers of the persisted
            # ``extracted`` and ``chunks`` wait on Spark's block locks
            # instead of recomputing them
            merged = self._each_table(merge)
            # atomic visibility point: readers switch from the old to the
            # new four-table state HERE, never between the commits above
            # (skipped by stage_ingest, whose publish IS this publish)
            if _publish:
                self._publish_engine_snapshot()
            # the chunks merge counted its incoming rows (chunk keys are
            # unique, so no row was collapsed)
            n_chunks = merged["chunks"]
            return {
                "documents": batch["documents"],
                "chunks": n_chunks,
                "embeddings": n_chunks,
            }

    # -- write–audit–publish ingest (Iceberg WAP at engine scope) ----------
    # The engine manifest is already the atomic visibility point, so a
    # staged ingest is the normal ingest MINUS the engine publish: the
    # four table commits land (invisible — every reader resolves through
    # the engine manifest), a staging record pins the base and candidate
    # quadruples, audits read the candidate, and publish/abandon flips or
    # unwinds.  Single-writer like every engine-level mutation.
    def _wap_path(self, staging_id: str) -> str:
        if not staging_id or "/" in staging_id:
            raise ValueError(f"invalid staging id {staging_id!r}")
        return f"{self.engine_meta_path}/{_MANIFEST_DIR}/ingest-{staging_id}.json"

    def _wap_record(self, staging_id: str) -> dict:
        txt = fsio.read_text_or_none(self.spark, self._wap_path(staging_id))
        if txt is None:
            raise FileNotFoundError(
                f"no staged ingest {staging_id!r} at {self.root} "
                "(published, abandoned, or never staged)"
            )
        return json.loads(txt)

    def _table_versions(self) -> dict[str, int | None]:
        return {
            name: latest_manifest_version(self.spark, path)
            for name, path in self._table_paths.items()
        }

    def stage_ingest(
        self,
        docs: DataFrame,
        metadata: dict[str, str] | None = None,
        doc_counter=None,
    ) -> dict:
        """Write–audit–publish ingest, step 1: run the FULL ingestion
        pipeline (extract → transcripts → chunks → embed → four table
        commits) but do not publish the engine snapshot — every reader
        (:meth:`query`, :meth:`transcripts`, ...) keeps seeing the
        pre-batch state.  Audit the candidate via :meth:`staged_tables`,
        then :meth:`publish_ingest` or :meth:`abandon_ingest`.

        The training-data gate at engine scope: land a batch, run
        contamination / quality / volume audits against exactly the
        transcripts+chunks+embeddings that would go live, and only then
        flip — a failed audit unwinds with manifest-only rollbacks,
        never a rewrite of live data.

        Returns the :meth:`ingest` counts plus ``staging_id``.
        Single-writer: stage/publish/abandon must not interleave with
        other engine mutations (same contract as optimize/delete_where).
        """
        # a virgin engine has no manifest to pin the (empty) base state —
        # publish one first so readers cannot fall back to table-latest
        # and observe the staged tables mid-audit
        if latest_manifest_version(self.spark, self.engine_meta_path) is None:
            self._publish_engine_snapshot()
        # base = what READERS see, not table-latest: a crashed earlier
        # stage may have left unpublished table commits, and an abandon
        # must unwind to the published state — rolling back to (and then
        # re-pinning) crash leftovers would make them visible
        base = self._published_versions()
        counts = self.ingest(
            docs, metadata=metadata, doc_counter=doc_counter, _publish=False
        )
        staging_id = self._write_wap_record(base)
        return {"staging_id": staging_id, **counts}

    def _write_wap_record(self, base: dict) -> str:
        """Pin a (base, staged=current) version quadruple as a staged-
        ingest record — the single producer of the WAP record format
        (consumed by staged_tables/staged_changelog/publish/abandon).
        ``base`` is the state an abandon unwinds to."""
        staging_id = uuid.uuid4().hex
        fsio.write_text(
            self.spark,
            self._wap_path(staging_id),
            json.dumps(
                {"base": base, "staged": self._table_versions()},
                sort_keys=True,
            ),
        )
        return staging_id

    def _published_versions(self) -> dict[str, int | None]:
        """The per-table versions READERS currently resolve to: the
        engine-pinned quadruple when an engine manifest exists (tables
        it does not pin are absent → None), else each table's latest.
        This — not :meth:`_table_versions` — is the correct WAP base
        after a crash may have left unpublished table commits."""
        pins = self._pinned()
        if pins is None:
            return self._table_versions()
        return {name: pins.get(name) for name in self._table_paths}

    def staged_ingests(self) -> dict[str, dict]:
        """Pending staged ingests: ``{staging_id: {"base": {...},
        "staged": {...}}}`` (per-table manifest versions)."""
        prefix_dir = f"{self.engine_meta_path}/{_MANIFEST_DIR}"
        out = {}
        for n in fsio.list_names(self.spark, prefix_dir):
            if n.startswith("ingest-") and n.endswith(".json"):
                txt = fsio.read_text_or_none(self.spark, f"{prefix_dir}/{n}")
                if txt is not None:
                    out[n[7:-5]] = json.loads(txt)
        return out

    def staged_tables(self, staging_id: str) -> dict[str, DataFrame]:
        """The AUDIT read: all four tables exactly as they would look if
        the staged ingest were published now."""
        rec = self._wap_record(staging_id)
        return {
            name: read_table(
                self.spark, self._table_paths[name], version=v
            )
            for name, v in rec["staged"].items()
            if v is not None
        }

    def staged_changelog(self, staging_id: str, table: str) -> DataFrame:
        """What a staged ingest CHANGED in one table (the audit's usual
        subject): snapshot_diff between the table's base and staged
        versions — insert/update/delete rows exactly like
        :meth:`changelog`, but for a not-yet-published state.  A table
        the stage created diffs against empty (all inserts)."""
        from srag_spark.sources.tables import snapshot_diff

        if table not in self._table_paths:
            raise KeyError(f"unknown table {table!r}")
        rec = self._wap_record(staging_id)
        base_v, staged_v = rec["base"].get(table), rec["staged"].get(table)
        if staged_v is None:
            raise FileNotFoundError(
                f"table {table!r} does not exist in staged ingest {staging_id!r}"
            )
        path = self._table_paths[table]
        if base_v is None:
            # the stage CREATED the table: everything is an insert
            return read_table(self.spark, path, version=staged_v).withColumn(
                "change_type", F.lit("insert")
            )
        return snapshot_diff(self.spark, path, base_v, staged_v)

    def publish_ingest(self, staging_id: str) -> None:
        """Write–audit–publish, step 3: atomically make the staged
        ingest visible by publishing the engine snapshot.  Raises
        :class:`StagedConflict` if any table moved past its staged
        version (a concurrent mutation violated the single-writer
        contract) — nothing is published then."""
        rec = self._wap_record(staging_id)
        current = self._table_versions()
        for name, v in rec["staged"].items():
            if current.get(name) != v:
                raise StagedConflict(
                    f"table {name!r} moved from staged v{v} to "
                    f"v{current.get(name)} — the engine was mutated while "
                    "this ingest was staged; audit and publish cannot "
                    "proceed safely"
                )
        self._publish_engine_snapshot()
        fsio.delete(self.spark, self._wap_path(staging_id), recursive=False)

    def abandon_ingest(self, staging_id: str) -> None:
        """Write–audit–publish, the failed-audit exit: unwind every table
        the staged ingest touched back to its base content via
        manifest-only rollbacks (instant at any table size — nothing on
        the data path moves; a table the stage CREATED rolls to an empty
        snapshot).  The staged commit dirs become vacuumable garbage.
        Raises :class:`StagedConflict` if a table moved past its staged
        version."""
        rec = self._wap_record(staging_id)
        current = self._table_versions()
        for name, v in rec["staged"].items():
            if v is not None and current.get(name) != v:
                raise StagedConflict(
                    f"table {name!r} moved from staged v{v} to "
                    f"v{current.get(name)} — cannot unwind the staged "
                    "ingest safely"
                )
        for name, path in self._table_paths.items():
            sv, bv = rec["staged"].get(name), rec["base"].get(name)
            if sv is None or sv == bv:
                continue  # table untouched by the stage
            # a table the stage CREATED rolls to version 0: an EMPTY
            # snapshot (same layout/schema, no live buckets)
            table_rollback(self.spark, path, bv or 0)
        # re-pin so readers and vacuum track the unwound latest versions
        self._publish_engine_snapshot()
        fsio.delete(self.spark, self._wap_path(staging_id), recursive=False)

    # -- table accessors ---------------------------------------------------
    # All accessors resolve through the engine manifest (the pinned
    # version quadruple), so any multi-table read — query()'s chunks +
    # embeddings join, a transcripts/metrics reconciliation — observes
    # ONE consistent engine snapshot even while an ingest is committing
    # tables.  ``version`` time-travels to an older engine snapshot.
    def transcripts(self, version: int | None = None) -> DataFrame:
        return self._read("transcripts", version)

    def chunks(self, version: int | None = None) -> DataFrame:
        return self._read("chunks", version)

    def embeddings(self, version: int | None = None) -> DataFrame:
        return self._read("embeddings", version)

    def metrics(self, version: int | None = None) -> DataFrame:
        """Per-doc extraction lineage metrics (spans_out, blocks kept/
        dropped, parse failures, ingest time) — one row per doc, updated
        on re-ingest."""
        return self._read("metrics", version)

    # -- query (POST /api/v1/query) ----------------------------------------
    def query(
        self,
        text: str,
        limit: int = 5,
        flt: dict[str, str] | None = None,
        rerank_col=None,
    ) -> DataFrame:
        """Hybrid retrieval (Q1): vector top-200 ∥ BM25 top-200 → RRF →
        rerank gates.  Returns (doc_id, segment_index, text, score).
        Chunks and embeddings come from ONE engine snapshot (pins
        resolved once), so the two sides of the hybrid join can never
        straddle a concurrent ingest's publish."""
        pins = self._pinned()
        return retrieve_context(
            self._read("chunks", pins=pins),
            self._read("embeddings", pins=pins),
            text, limit=limit, flt=flt,
            rerank_col=rerank_col,
            embed_fn=self.embed_fn,
            rerank_fn=self.rerank_fn,
        )

    # -- transcripts endpoints (GET/DELETE /api/v1/transcripts*) -----------
    def get_transcript(self, doc_id: str) -> DataFrame:
        """Point lookup (S6), bucket-pruned: the manifest's key layout
        maps doc_id to its hash bucket driver-side, so the scan opens
        ~1/n_buckets of the table instead of all of it
        (:func:`srag_spark.sources.tables.lookup_by_key`).  The upsert
        keeps ``doc_id`` unique, so the result needs no ``limit(1)``, which
        would scan the bucket's files one job at a time."""
        from srag_spark.sources.tables import lookup_by_key

        return lookup_by_key(
            self.spark,
            self.transcripts_path,
            [doc_id],
            version=self._pinned_version("transcripts"),
        )

    def list_transcripts(
        self,
        flt: dict[str, str] | None = None,
        sort_by: str = "created_at",
        metadata_key: str | None = None,
        ascending: bool = False,
        limit: int | None = None,
    ) -> DataFrame:
        """Filtered, sorted listing (Q9, MainHandlers.scala:62-90)."""
        out = listing(
            self.transcripts(), flt, sort_by, metadata_key, ascending
        )
        return out.limit(limit) if limit is not None else out

    def delete_transcript(self, doc_id: str) -> None:
        """Delete a document everywhere (S10): transcript row plus all its
        chunks, embeddings and metrics.  The four keyed deletes run
        concurrently (:meth:`_each_table`); the engine publish after them
        is still the only point where readers see the removal."""
        # an Arrow-backed local relation: each delete reads the key off
        # the driver, not by rescanning a pickled one-row RDD
        keys = self.spark.createDataFrame(
            pa.table({"doc_id": pa.array([doc_id], pa.string())})
        )
        self._each_table(  # a delete on an absent table commits nothing
            lambda _, path: delete_by_key(self.spark, path, keys, ["doc_id"])
        )
        self._publish_engine_snapshot()

    def delete_where(self, condition) -> int:
        """Predicate delete across the engine (DELETE WHERE over the
        transcript rows — a Column or SQL string on transcript columns,
        e.g. ``"language = 'xx'"`` or a metadata check): the matching
        doc_ids cascade to chunks, embeddings and metrics like
        :meth:`delete_transcript`, and one engine snapshot publishes the
        whole removal atomically.  Returns the number of documents
        deleted.  The doc_id set is computed FIRST and reused for every
        table (bucket-pruned keyed deletes, run concurrently by
        :meth:`_each_table`), so the predicate is evaluated exactly once;
        the publish after all four is the only visibility point.

        The predicate is evaluated against the transcripts table's
        LATEST snapshot — the same state the keyed deletes operate on —
        not the pinned engine snapshot: after a crash between an
        ingest's table commits and its engine publish, rows committed
        but not yet pinned still match and are removed (and this call's
        own publish then pins the post-delete state).  Like every
        engine-level mutation (ingest, optimize, vacuum), run it
        single-writer: concurrent writers are serialized per TABLE by
        compare-and-publish, but the engine snapshot pins whatever
        four-table versions are latest at publish time."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        manifest = read_manifest(self.spark, self.transcripts_path)
        if manifest is None:
            return 0
        with held() as ledger:
            keys = persist(
                scan_manifest(self.spark, self.transcripts_path, manifest)
                .filter(F.coalesce(cond, F.lit(False)))
                .select("doc_id")
                .distinct(),
                ledger,
            )
            n = keys.count()
            if n == 0:
                return 0
            self._each_table(
                lambda _, path: delete_by_key(self.spark, path, keys, ["doc_id"])
            )
            self._publish_engine_snapshot()
            return n

    # -- maintenance -------------------------------------------------------
    def describe(self, version: int | None = None) -> DataFrame:
        """Engine-snapshot inventory (the DESCRIBE/metadata-table read):
        one row per table pinned by the engine snapshot — ``(table,
        version, n_buckets, n_live_buckets, n_files, size_bytes)`` — the
        operational surface a 100 TB operator reads before deciding to
        :meth:`optimize` or :meth:`vacuum`.  Metadata-only: manifests +
        O(live buckets) directory listings on the driver, never a data
        file opened."""
        from srag_spark.sources.tables import _file_rows

        pins = self._pinned(version) or {}
        rows = []
        for name, path in self._table_paths.items():
            v = pins.get(name)
            if v is None:
                continue
            m = snapshot(self.spark, path, v)
            files = _file_rows(self.spark, path, m)
            rows.append(
                (
                    name,
                    v,
                    m.get("n_buckets"),
                    len(m.get("buckets") or {}),
                    len(files),
                    sum(f[2] for f in files),
                )
            )
        return self.spark.createDataFrame(
            sorted(rows),
            "table string, version int, n_buckets int, "
            "n_live_buckets int, n_files long, size_bytes long",
        )

    def health(self) -> list:
        """J8/J9 parity (HealthCheckService.scala:62-75): aggregated
        health over the three table roots — every latest snapshot
        readable and complete, root writable.  Returns the check results;
        raises RuntimeError listing every failure."""
        from srag_spark.plans.preflight import health_check

        return health_check(
            self.spark, list(self._table_paths.values()), self.root
        )

    def vacuum(
        self, keep_manifests: int = 1, min_age_seconds: float = 3600.0
    ) -> int:
        """Reclaim data dirs unreferenced by recent snapshots across all
        four tables (run out-of-band; never needed for correctness).
        ``min_age_seconds`` is the orphan-retention guard protecting
        concurrent writers' unpublished commits (sources.tables.vacuum).

        Pinned-snapshot safety: each table's retention is widened so the
        table version pinned by the LATEST engine manifest always
        survives — after a crash between table commits and the engine
        publish, the pinned (older) versions are what readers are
        actively on, and vacuuming them out would break every reader.
        TAGGED engine snapshots (:meth:`tag`) widen retention the same
        way: every table version any tag pins survives until the tag
        is dropped.  Older untagged engine snapshots are retained per
        ``keep_manifests`` like any table's manifests (time travel
        ages out together)."""
        from srag_spark.sources.tables import list_tags, vacuum

        pins = self._pinned() or {}
        # the oldest table version pinned by any TAGGED engine snapshot
        # must survive the per-table vacuum too
        tag_pins: dict[str, int] = {}
        for tv in set(list_tags(self.spark, self.engine_meta_path).values()):
            for name, v in (self._pinned(tv) or {}).items():
                tag_pins[name] = min(tag_pins.get(name, v), v)
        total = 0
        for name, path in self._table_paths.items():
            latest = latest_manifest_version(self.spark, path)
            if latest is None:
                continue
            keep = keep_manifests
            oldest = min(
                [v for v in (pins.get(name), tag_pins.get(name)) if v is not None],
                default=None,
            )
            if oldest is not None:
                keep = max(keep, latest - oldest + 1)
            total += vacuum(
                self.spark, path, keep_manifests=keep,
                min_age_seconds=min_age_seconds,
            )
        if table_exists(self.spark, self.engine_meta_path):
            vacuum(
                self.spark, self.engine_meta_path,
                keep_manifests=keep_manifests,
                min_age_seconds=min_age_seconds,
            )
        return total

    def optimize(
        self,
        n_buckets: int | None = None,
        sort_by: dict[str, list[str]] | None = None,
        zorder_by: dict[str, list[str]] | None = None,
    ) -> dict:
        """Compact all four tables (one file per bucket; optionally
        re-bucket to ``n_buckets`` — tables.rewrite_table's layout
        evolution), concurrently (:meth:`_each_table`), and once every
        rewrite has finished publish a fresh engine snapshot pinning the
        compacted versions.  ``sort_by`` maps table name → in-bucket
        sort columns (tables.rewrite_table's sort order + zone-map
        stats) for the tables that benefit, e.g. ``{"metrics":
        ["ingested_at"]}``; ``zorder_by`` maps table name → Z-curve
        cluster columns instead (multi-dimensional row-group skipping —
        tables.rewrite_table ``zorder_by=``).  Logical content is
        untouched; readers on
        older engine snapshots keep time-traveling until :meth:`vacuum`.
        Run out-of-band, like vacuum — a maintenance pass for tables
        that accumulated many per-ingest commit dirs or outgrew their
        creation-time bucket count.  Returns per-table rewrite stats.

        Single-writer, like every engine-level mutation: concurrent
        writers are serialized per TABLE by compare-and-publish (a
        racing ingest rejects the rewrite, which retries), but the
        engine-snapshot publish pins whatever four-table versions are
        latest at that instant — run concurrently with a mid-commit
        ingest it could pin a quadruple the ingest hasn't finished
        publishing.  Resumable loads tolerate a mid-load optimize (the
        pipeline re-derives bucket pruning from the table manifest)."""
        from srag_spark.sources.tables import rewrite_table

        def rewrite(name: str, path: str) -> dict | None:
            if not table_exists(self.spark, path):
                return None
            return rewrite_table(
                self.spark, path, n_buckets=n_buckets,
                sort_by=(sort_by or {}).get(name),
                zorder_by=(zorder_by or {}).get(name),
            )

        stats = self._each_table(rewrite)
        self._publish_engine_snapshot()
        return {name: s for name, s in stats.items() if s is not None}

    def rollback(self, snapshot: int) -> int:
        """Restore a previous ENGINE snapshot as the new latest (Iceberg
        rollback): rolls every table back to the version that snapshot
        pinned (tables.rollback — a manifest-only re-publish, instant at
        any table size) and publishes a fresh engine snapshot, so every
        reader — :meth:`query`, :meth:`list_transcripts` — sees the old
        state again AND subsequent ingests continue from it.  Nothing on
        any data path moves; the rolled-back-over snapshots stay
        time-travelable until vacuumed.  The bad-ingest undo button.
        Returns the new engine snapshot version."""
        pins = self._pinned(snapshot)  # raises if the snapshot is vacuumed
        for name, v in pins.items():
            # every pinned table version must still be readable
            read_manifest(self.spark, self._table_paths[name], version=v)
        for name, path in self._table_paths.items():
            if table_exists(self.spark, path) and name not in pins:
                raise ValueError(
                    f"table {name!r} did not exist at engine snapshot "
                    f"{snapshot}; cannot roll it back"
                )
        # roll every TABLE back too (manifest-only, instant), so writes
        # after the rollback continue from the restored state — not from
        # the rolled-back-over one
        for name, v in pins.items():
            table_rollback(self.spark, self._table_paths[name], v)
        self._publish_engine_snapshot()
        return latest_manifest_version(self.spark, self.engine_meta_path)

    def changelog(
        self, table: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> "DataFrame":
        """Changelog of one engine table ('transcripts', 'chunks',
        'embeddings', 'metrics') between two ENGINE snapshots (CDC /
        incremental read): rows with change_type insert/update/delete —
        what an incremental downstream job consumes to refresh only
        what changed (re-embed upserted docs, retract deleted ones)
        instead of re-reading the table.  Snapshot ids come from
        :meth:`snapshot_versions`; table versions resolve through the
        pinned quadruples, so the diff window matches exactly what
        readers of those snapshots saw."""
        from srag_spark.sources.tables import snapshot_diff

        if table not in self._table_paths:
            raise KeyError(f"unknown table {table!r}")
        pin_from = (self._pinned(from_snapshot) or {}).get(table)
        pin_to = (self._pinned(to_snapshot) or {}).get(table)
        if pin_from is None or pin_to is None:
            raise FileNotFoundError(
                f"table {table!r} is not pinned by both snapshots"
            )
        return snapshot_diff(
            self.spark, self._table_paths[table], pin_from, to_version=pin_to
        )

    def refresh_from(
        self,
        source_path: str,
        to_version: int | None = None,
        metadata: dict[str, str] | None = None,
        audits: list | None = None,
    ) -> dict:
        """Incremental extraction refresh: bring this engine up to date
        with the manifest table of interleaved documents at
        ``source_path``, processing ONLY what changed since the last
        refresh (CDC diff → retract deleted docs → re-extract inserted/
        updated ones → one atomic publish → durable watermark advance).
        First call ingests the whole snapshot; reruns are idempotent.
        ``audits=[...]`` gates the refresh write–audit–publish style: a
        failing panel unwinds the whole diff and leaves the watermark
        untouched.  See
        :func:`srag_spark.plans.incremental.incremental_refresh`."""
        from srag_spark.plans.incremental import incremental_refresh

        return incremental_refresh(
            self, source_path, to_version=to_version, metadata=metadata,
            audits=audits,
        )

    def tag(
        self, name: str, snapshot: int | None = None, overwrite: bool = False
    ) -> int:
        """Pin an ENGINE snapshot (the four-table quadruple) under a
        name — 'prod', 'training-run-X'.  Tagged engine snapshots (and
        the table versions they pin) survive :meth:`vacuum` until the
        tag is dropped.  Read back via ``transcripts(version=
        self.tags()['prod'])`` etc."""
        from srag_spark.sources.tables import tag_snapshot

        return tag_snapshot(
            self.spark, self.engine_meta_path, name,
            version=snapshot, overwrite=overwrite,
        )

    def tags(self) -> dict[str, int]:
        from srag_spark.sources.tables import list_tags

        return list_tags(self.spark, self.engine_meta_path)

    def drop_tag(self, name: str) -> None:
        from srag_spark.sources.tables import delete_tag

        delete_tag(self.spark, self.engine_meta_path, name)
