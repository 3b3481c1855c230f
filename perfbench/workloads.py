"""The benchmark's workloads.  Each one builds its inputs from the seed
(outside the timed region), runs a closed loop of rounds — one client
that starts the next round when the previous one returns — and checks
the outputs of the rounds it ran."""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import gates
from perfbench.trace import (PY_NODES, SparkWork, Tracer, execution_count, median,
                             read_executions)

WAVE_NODES = ("MapInArrow", "FlatMapGroupsInPandas")


@dataclass
class Round:
    """One closed-loop round: what it processed and how long each
    user-visible call took."""

    docs: int = 0
    calls: list[tuple[str, float]] = field(default_factory=list)
    failed: int = 0
    attempted: int = 0

    def timed(self, kind: str, fn):
        """Run one call and record its wall time.  A call that raises ends
        the run: the exception propagates and no result is printed."""
        self.attempted += 1
        t0 = time.perf_counter()
        out = fn()
        self.calls.append((kind, time.perf_counter() - t0))
        return out

    @property
    def seconds(self) -> float:
        return sum(s for _, s in self.calls)


def write_parquet(rows: list[tuple], schema, out: Path, files: int = 8) -> None:
    """Write ``rows`` (tuples in ``schema`` field order) as ``files``
    parquet files straight from this process, with no Spark job, so
    building inputs neither warms nor loads the engine."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    step = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * step:(k + 1) * step]
        cols = {f.name: [r[i] for r in part] for i, f in enumerate(schema)}
        pq.write_table(pa.table(cols, schema=schema), out / f"part-{k:05d}.parquet")


def docs_schema(*extra):
    """Arrow form of the engine's input table (schema.DOCUMENTS_SCHEMA),
    after any ``extra`` leading fields."""
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([*extra, ("doc_id", pa.string()), ("spans", pa.list_(span))])


def cached_rows(path: Path, ids) -> list[dict]:
    """The rows of a cached input table whose ``doc_id`` is in ``ids``,
    read with pyarrow: the benchmark's own files, no Spark job."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return t.filter(pc.is_in(t["doc_id"], value_set=pa.array(sorted(ids)))).to_pylist()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Workload:
    name = ""
    sizes: dict[str, dict] = {}

    def __init__(self, seed: int, size: str, work: Path) -> None:
        self.seed = seed
        self.size = size
        self.p = self.sizes[size]
        self.work = work
        # keyed by workload, seed and the size parameters themselves, so a
        # reseeded or resized run never reuses another run's inputs
        digest = hashlib.sha1(json.dumps(self.p, sort_keys=True).encode()).hexdigest()[:10]
        self.cache = work / "cache" / f"{self.name}-seed{seed}-{size}-{digest}"
        self.spark = None
        self.tracer = Tracer()
        self.errors: list[str] = []

    # -- inputs: built once per (workload, seed, size), then loaded ------
    def ensure_inputs(self) -> None:
        """Build the inputs unless the cache holds them.  Runs before the
        session starts, so set-up time is the same cold or warm."""
        if not (self.cache / "_COMPLETE").exists():
            tmp = self.cache.with_name(self.cache.name + ".building")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            self.build_inputs(tmp)
            (tmp / "_COMPLETE").touch()
            shutil.rmtree(self.cache, ignore_errors=True)
            tmp.rename(self.cache)

    def attach(self, spark) -> None:
        self.spark = spark
        self.tracer = Tracer(spark)

    def run_dir(self, tag: str) -> str:
        d = self.work / "runs" / f"{self.name}-{tag}"
        shutil.rmtree(d, ignore_errors=True)
        return str(d)

    def cleanup(self) -> None:
        shutil.rmtree(self.work / "runs", ignore_errors=True)

    # -- to override ---------------------------------------------------------
    def build_inputs(self, out: Path) -> None: ...
    def load(self) -> None: ...
    def round(self, i: int) -> Round: ...
    def check(self, i: int) -> None:
        """Cheap gates on round ``i``'s outputs, run after every round."""

    def final_check(self, counts: bool) -> None:
        """Costly gates, and with ``counts`` the exact per-layer counts,
        run once on the last round's outputs after the measured loop, so
        their extra Spark jobs run between no two measured rounds."""

    def layer_metrics(self, work: SparkWork, traced: list[int]) -> dict[str, float]:
        return {}

    def call_metrics(self, rounds: list[Round]) -> dict[str, float]:
        """Per-call figures of the untraced rounds: printed to standard
        error, and in a traced run reported with the per-layer metrics
        where BENCHMARK.json names them."""
        return {}


# ---------------------------------------------------------------------------
# extract_bulk: the resumable batch extraction job
# ---------------------------------------------------------------------------
class ExtractBulk(Workload):
    """``ExtractionPipeline.run`` from an empty output dir: a first leg
    cut short with ``max_waves``, then a resume leg to all-Success."""

    name = "extract_bulk"
    sizes = {
        "full": {"docs": 2500, "mega_every": 400, "buckets": 4, "wave": 2,
                 "first_waves": 1, "sample": 40},
        "tiny": {"docs": 200, "mega_every": 100, "buckets": 2, "wave": 1,
                 "first_waves": 1, "sample": 10},
    }

    def build_inputs(self, out: Path) -> None:
        from srag_spark.operators.parse import DEFAULT_SALT_THRESHOLD
        from srag_spark.synth import generate_rows

        rows = generate_rows(self.p["docs"], seed=self.seed, mega_every=self.p["mega_every"])
        # the docs extract_documents sends down its salted slice path
        mega = [d for d, spans in rows if len(spans) > DEFAULT_SALT_THRESHOLD]
        write_parquet(rows, docs_schema(), out / "docs")
        (out / "ids.json").write_text(json.dumps({"docs": [d for d, _ in rows], "mega": mega}))

    def load(self) -> None:
        self.docs = self.spark.read.parquet(str(self.cache / "docs"))
        ids = json.loads((self.cache / "ids.json").read_text())
        self.doc_ids, self.mega_ids = ids["docs"], ids["mega"]
        self.n_docs = len(self.doc_ids)
        self.input_bytes = dir_bytes(self.cache / "docs")

    def round(self, i: int) -> Round:
        from srag_spark.plans.pipeline import ExtractionPipeline

        rnd = Round(docs=self.n_docs)
        pipe = ExtractionPipeline(self.spark, self.run_dir(f"r{i}"),
                                  n_buckets=self.p["buckets"], wave_size=self.p["wave"])
        if self.tracer.active:
            self.tracer.wrap(pipe, "pending_buckets", "pipeline.resume_plan")
            self.tracer.wrap(pipe, "_process_wave", "pipeline.wave")
        with self.tracer.span("pipeline.run"):
            first = rnd.timed("first_leg", lambda: pipe.run(self.docs,
                                                            max_waves=self.p["first_waves"]))
            second = rnd.timed("resume_leg", lambda: pipe.run(self.docs))
        rnd.failed += len(first["failed"] + first["dead_lettered"]
                          + second["failed"] + second["dead_lettered"])
        self.last = pipe, first, second
        return rnd

    def check(self, i: int) -> None:
        pipe, leg1, leg2 = self.last
        self.errors += gates.resume_skips(leg1["succeeded"], leg2["skipped"],
                                          leg2["succeeded"], self.p["buckets"])
        ck = pipe.latest_checkpoints().agg(F.sum("docs_processed")).first()[0] or 0
        self.errors += gates.checkpoint_docs(int(ck), self.n_docs)
        self.spark.catalog.clearCache()
        if i > 0:  # the last round's output stays for final_check
            shutil.rmtree(self.work / "runs" / f"{self.name}-r{i - 1}", ignore_errors=True)

    def final_check(self, counts: bool) -> None:
        from srag_spark import golden

        pipe, _, leg2 = self.last
        rng = random.Random(f"{self.seed}:sample")
        ids = sorted(set(rng.sample(self.doc_ids, self.p["sample"])) | set(self.mega_ids))
        want = {r["doc_id"]: golden.extract_document(r["spans"])[0]
                for r in cached_rows(self.cache / "docs", ids)}
        got: dict[str, list] = {}
        for r in (pipe.spans().filter(F.col("doc_id").isin(ids))
                  .orderBy("doc_id", "seq").collect()):
            got.setdefault(r.doc_id, []).append((r.kind, r.text, r.media_ref))
        self.errors += gates.span_sequences(want, got)
        if counts:
            self.exact = self._exact_counts(pipe, leg2)

    def _exact_counts(self, pipe, leg2) -> dict[str, float]:
        ck = pipe.latest_checkpoints().agg(
            *[F.sum(c).alias(c) for c in ("docs_processed", "blocks_kept",
                                          "blocks_dropped", "parse_failures")]).first()
        return {
            "parse.docs_in": ck.docs_processed,
            "parse.mega_docs": len(self.mega_ids),
            "parse.spans_out": pipe.spans().count(),
            "parse.blocks_kept": ck.blocks_kept,
            "parse.blocks_dropped": ck.blocks_dropped,
            "parse.failures": ck.parse_failures,
            "pipeline.buckets_skipped": leg2["skipped"],
            "pipeline.output_bytes_per_input_byte":
                dir_bytes(Path(pipe.spans_dir)) / self.input_bytes,
        }

    def layer_metrics(self, work: SparkWork, traced: list[int]) -> dict[str, float]:
        t = self.tracer
        runs = [t.subtree(s.sid) for op in traced for s in t.named("pipeline.run", op)]
        waves = [{s.sid for s in t.named("pipeline.wave", op)} for op in traced]
        salted = lambda e: any(n.name == "FlatMapGroupsInPandas" for n in e.nodes)  # noqa: E731
        return {
            **self.exact,
            "parse.python_s": median(work.node_sum(w, WAVE_NODES, "time to run Python workers")
                                     for w in waves),
            "parse.task_skew": median(work.task_skew(w) for w in waves),
            "parse.salted_shuffle_bytes": median(
                work.node_sum(w, ("Exchange",), "shuffle bytes written", where=salted)
                for w in waves),
            "pipeline.run_s": median(s.seconds for s in t.named("pipeline.run")),
            "pipeline.jobs_per_wave": median(
                len(work.jobs_of(r)) / max(1, len(w)) for r, w in zip(runs, waves)),
            "pipeline.resume_plan_s": median(
                sum(s.seconds for s in t.named("pipeline.resume_plan", op)) for op in traced),
        }


# ---------------------------------------------------------------------------
# curate_neardup: curation gates + MinHash, and the SimHash pair pass
# ---------------------------------------------------------------------------
class CurateNeardup(Workload):
    """``curate_corpus`` (language → quality → exact → MinHash) and
    ``simhash_signatures`` → ``simhash_near_pairs`` over text rebuilt
    from synth docs, with planted exact and near copies."""

    name = "curate_neardup"
    LANGS, MIN_QUALITY, BANDS = ("en",), 0.45, 4  # curation gates; SimHash bands
    sizes = {
        "full": {"docs": 1000, "exact": 50, "near": 50},
        "tiny": {"docs": 200, "exact": 10, "near": 10},
    }

    def build_inputs(self, out: Path) -> None:
        import pyarrow as pa

        from srag_spark.golden import extract_document
        from srag_spark.synth import _VOCAB, generate_rows

        # golden extraction in this process: the same span sequence the
        # engine emits, joined like operators.chunk.reconstruct_text
        base = [
            (doc, " ".join(t for _, t, _ in extract_document(spans)[0] if t is not None))
            for doc, spans in generate_rows(self.p["docs"], seed=self.seed, mega_every=0)
        ]
        rng = random.Random(f"{self.seed}:copies")
        rows = [(d, t, "") for d, t in base]
        picks = rng.sample(range(len(base)), self.p["exact"] + self.p["near"])
        for k, i in enumerate(picks):
            doc, text = base[i]
            if k < self.p["exact"]:
                rows.append((f"x-{doc}", text, "exact"))
            else:
                words = text.split(" ")
                for j in range(0, len(words), 25):
                    words[j] = rng.choice(_VOCAB)
                rows.append((f"n-{doc}", " ".join(words), "near"))
        schema = pa.schema([("doc_id", pa.string()), ("text", pa.string()),
                            ("planted", pa.string())])
        write_parquet(rows, schema, out / "docs")
        (out / "ids.json").write_text(json.dumps({
            "docs": len(rows), "exact": [d for d, _, kind in rows if kind == "exact"]}))

    def load(self) -> None:
        self.docs = self.spark.read.parquet(str(self.cache / "docs")).select("doc_id", "text")
        ids = json.loads((self.cache / "ids.json").read_text())
        self.n_docs, self.planted_exact = ids["docs"], set(ids["exact"])

    def round(self, i: int) -> Round:
        from srag_spark.operators.dedup import release, simhash_near_pairs, simhash_signatures
        from srag_spark.plans.curation import curate_corpus

        rnd = Round(docs=self.n_docs)
        docs, held = self.docs, []
        first = execution_count(self.spark)
        with self.tracer.span("curation.run"):
            survivors = rnd.timed("curate", lambda: {
                r.doc_id for r in curate_corpus(docs, lang_whitelist=self.LANGS,
                                              min_quality=self.MIN_QUALITY, persisted=held)
                .select("doc_id").collect()})
        curate_execs = (first, execution_count(self.spark))
        release(held)
        with self.tracer.span("dedup.simhash"):
            def near():
                sigs = simhash_signatures(docs)
                pairs = simhash_near_pairs(sigs, bands=self.BANDS, persisted=held).collect()
                release(held)
                return pairs
            pairs = rnd.timed("simhash", near)
        self.last = (survivors, curate_execs, [tuple(p) for p in pairs])
        return rnd

    def check(self, i: int) -> None:
        survivors, _, pairs = self.last
        self.errors += gates.no_exact_copy(survivors, self.planted_exact)
        sample = random.Random(f"{self.seed}:{i}:pairs").sample(pairs, min(50, len(pairs)))
        ids = {d for a, b, _ in sample for d in (a, b)}
        sig = {r["doc_id"]: gates.simhash_signature(r["text"])
               for r in cached_rows(self.cache / "docs", ids)}
        self.errors += gates.simhash_pairs(sample, sig)
        self.spark.catalog.clearCache()

    # the curation plan's funnel, as plan nodes of curate_corpus's own run:
    # (stage, node class, a fragment of the node's plan string)
    FUNNEL = (("curation.input", "Scan parquet", ""),
              ("curation.after_quality", "Filter", "quality_r >="),
              ("curation.after_exact", "Filter", "_cid"))

    def funnel(self, first: int, stop: int) -> dict[str, int]:
        """Row counts at each curation stage, read from the 'number of
        output rows' of the plan nodes of the executions the curate call
        ran.  A stage whose node is not found (the plan changed shape) is
        left out and named on standard error."""
        nodes = [n for e in read_executions(self.spark, first, stop) for n in e.nodes]
        out = {}
        for stage, cls, frag in self.FUNNEL:
            rows = [n.metrics["number of output rows"] for n in nodes
                    if n.name.startswith(cls) and frag in n.desc
                    and "number of output rows" in n.metrics]
            if rows:
                # a cached subtree shows once per reference, with one value
                out[stage] = int(max(rows))
            else:
                print(f"curation funnel: no {cls} node for {stage} in the run's plan",
                      file=sys.stderr)
        return out

    def final_check(self, counts: bool) -> None:
        from srag_spark.operators.dedup import simhash_signatures

        survivors, curate_execs, pairs = self.last
        n_pairs = len(pairs)
        funnel = {**self.funnel(*curate_execs), "curation.survivors": len(survivors)}
        if funnel.get("curation.input", self.n_docs) != self.n_docs:
            self.errors.append(f"curation read {funnel['curation.input']} docs, "
                               f"the input has {self.n_docs}")
        self.errors += gates.monotone_funnel(list(funnel.items()))
        if not counts:
            return
        width = 32 // self.BANDS
        blocks = (
            simhash_signatures(self.docs)
            .select(F.posexplode(F.array(*[F.substring("simhash", width * b + 1, width)
                                           for b in range(self.BANDS)])).alias("band", "block"))
            .groupBy("band", "block").count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cand"),
                 F.max("count").alias("hot")).first()
        )
        self.exact = {
            **{k: v for k, v in funnel.items() if k != "curation.input"},
            "dedup.candidate_pairs": int(blocks.cand),
            "dedup.hot_block_max": blocks.hot,
            "dedup.pairs_out": n_pairs,
            "dedup.pair_yield": n_pairs / max(1, int(blocks.cand)),
        }

    def layer_metrics(self, work: SparkWork, traced: list[int]) -> dict[str, float]:
        t = self.tracer
        simhash = [{s.sid for s in t.named("dedup.simhash", op)} for op in traced]
        return {
            **self.exact,
            "dedup.task_skew": median(work.task_skew(s) for s in simhash),
            "dedup.python_s": median(work.node_sum(s, PY_NODES, "time to run Python workers")
                                     for s in simhash),
            "dedup.simhash_s": median(s.seconds for s in t.named("dedup.simhash")),
            "curation.run_s": median(s.seconds for s in t.named("curation.run")),
        }


# ---------------------------------------------------------------------------
# engine_serve: the SragEngine facade under reads and writes
# ---------------------------------------------------------------------------
class EngineServe(Workload):
    """``SragEngine`` over a base knowledge base, then rounds of one
    ``ingest`` (new docs plus re-ingested existing ones), hybrid ``query``
    calls and ``get_transcript`` lookups.  Per-call fixed cost dominates,
    so the corpus is small.

    The base corpus is the same for every seed.  The program's own
    ``SragEngine.ingest`` writes it into a knowledge base once per
    checkout and program source, in a process of its own, and each run
    starts from a copy.  The seed picks the new docs, the re-ingested
    docs and their new content, the query texts and the lookups."""

    name = "engine_serve"
    BASE_SEED = 0
    sizes = {
        "full": {"base": 40, "new": 4, "re": 2, "queries": 1, "lookups": 1,
                 "buckets": 4, "batches": 4, "limit": 5},
        "tiny": {"base": 20, "new": 2, "re": 1, "queries": 1, "lookups": 1,
                 "buckets": 2, "batches": 4, "limit": 5},
    }
    WRAPPED = (("upsert_by_key", "tables.upsert"), ("delete_by_key", "tables.delete"),
               ("extract_documents", "parse.plan"), ("build_chunks", "indexing.chunks"),
               ("build_embeddings", "indexing.embeddings"))

    def __init__(self, seed: int, size: str, work: Path) -> None:
        super().__init__(seed, size, work)
        # keyed by the base size and the program's source: tables written
        # by another version of the program are never reused
        key = {k: self.p[k] for k in ("base", "buckets")}
        digest = hashlib.sha1(json.dumps(key, sort_keys=True).encode())
        for f in sorted((work.parent / "srag_spark").rglob("*.py")):
            digest.update(str(f.relative_to(work.parent)).encode() + f.read_bytes())
        self.base_cache = work / "cache" / f"{self.name}-base-{size}-{digest.hexdigest()[:10]}"

    def base_rows(self) -> list:
        from srag_spark.synth import generate_rows

        return generate_rows(self.p["base"], seed=self.BASE_SEED, mega_every=0)

    def build_inputs(self, out: Path) -> None:
        import pyarrow as pa

        from srag_spark.synth import generate_doc

        rng = random.Random(f"{self.seed}:updates")
        base_ids = [d for d, _ in self.base_rows()]
        updates = []
        for b in range(self.p["batches"]):
            for k in range(self.p["new"]):
                doc = f"new-{b:04d}-{k:02d}"
                updates.append((b, doc, generate_doc(doc, seed=self.seed)))
            # re-ingest: existing ids with fresh content (another seed)
            for doc in rng.sample(base_ids, self.p["re"]):
                updates.append((b, doc, generate_doc(doc, seed=self.seed + 1000 + b)))
        write_parquet(updates, docs_schema(("batch", pa.int32())), out / "updates")

    def ensure_inputs(self) -> None:
        super().ensure_inputs()
        if not (self.base_cache / "_COMPLETE").exists():
            subprocess.run([sys.executable, "-m", "perfbench.workloads", "build-base",
                            str(self.seed), self.size], cwd=self.work.parent, check=True)

    def build_base(self) -> None:
        """Ingest the base corpus into a new knowledge base in the cache."""
        from srag_spark.api import SragEngine

        tmp = self.base_cache.with_name(self.base_cache.name + ".building")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        rows = self.base_rows()
        write_parquet(rows, docs_schema(), tmp / "docs")
        engine = SragEngine(self.spark, str(tmp / "kb"), n_buckets=self.p["buckets"])
        engine.ingest(self.spark.read.parquet(str(tmp / "docs")))
        (tmp / "base.json").write_text(json.dumps({
            "ids": [d for d, _ in rows],
            "user_bytes": sum(len((s["text"] or "").encode()) + len((s["media_ref"] or "").encode())
                              for _, spans in rows for s in spans),
        }))
        (tmp / "_COMPLETE").touch()
        shutil.rmtree(self.base_cache, ignore_errors=True)
        tmp.rename(self.base_cache)

    def load(self) -> None:
        from srag_spark.api import SragEngine
        from srag_spark.synth import _VOCAB

        self.root = self.run_dir("kb")
        shutil.copytree(self.base_cache / "kb", self.root)
        self.engine = SragEngine(self.spark, self.root, n_buckets=self.p["buckets"])
        self.updates = self.spark.read.parquet(str(self.cache / "updates"))
        base = json.loads((self.base_cache / "base.json").read_text())
        self.base_ids, self.user_bytes = base["ids"], base["user_bytes"]
        self.chunks_out = 0
        self.result_rows = 0
        rng = random.Random(f"{self.seed}:calls")
        self.texts = [" ".join(rng.sample(_VOCAB, 3)) for _ in range(64)]
        self.rng = rng

    def attach(self, spark) -> None:
        import srag_spark.api as api

        super().attach(spark)
        for attr, name in self.WRAPPED:
            fn = getattr(api, attr)
            setattr(api, attr, getattr(fn, "__wrapped__", fn))
            self.tracer.wrap(api, attr, name)

    def _ingest(self, batch, rnd: Round) -> dict:
        rows = batch.collect()
        self.user_bytes += sum(len((s.text or "").encode()) + len((s.media_ref or "").encode())
                               for r in rows for s in r.spans)
        with self.tracer.span("api.ingest"):
            out = rnd.timed("ingest", lambda: self.engine.ingest(batch))
        self.chunks_out += out["chunks"]
        return out

    def _query(self, rnd: Round) -> None:
        text = self.rng.choice(self.texts)
        with self.tracer.span("api.query"):
            rows = rnd.timed("query", lambda: self.engine.query(
                text, limit=self.p["limit"]).collect())
        self.errors += gates.query_limit(text, rows, self.p["limit"])
        self.result_rows += len(rows)

    def _lookup(self, rnd: Round) -> None:
        doc = self.rng.choice(self.base_ids)
        with self.tracer.span("api.lookup"):
            rows = rnd.timed("lookup", lambda: self.engine.get_transcript(doc).collect())
        self.errors += gates.lookup_rows(doc, rows)

    def round(self, i: int) -> Round:
        rnd = Round()
        batch = self.updates.filter(F.col("batch") == i % self.p["batches"]).drop("batch")
        rnd.docs += self._ingest(batch, rnd)["documents"]
        self.last_batch = batch
        for _ in range(self.p["queries"]):
            self._query(rnd)
        for _ in range(self.p["lookups"]):
            self._lookup(rnd)
        self.cached_rdds = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return rnd

    def check(self, i: int) -> None:
        from srag_spark.golden import extract_document, recursive_chunk

        re_docs = {r.doc_id: r.spans for r in self.last_batch.collect()
                   if not r.doc_id.startswith("new-")}
        want = {}
        for doc, spans in re_docs.items():
            text = " ".join(t for _, t, _ in extract_document([s.asDict() for s in spans])[0]
                            if t is not None)
            want[doc] = [k for k, c in enumerate(recursive_chunk(text, max_chars=1000, overlap=200))
                         if len(c) > 0]
        stored: dict[str, list[int]] = {}
        for r in (self.engine.chunks().filter(F.col("doc_id").isin(sorted(want)))
                  .select("doc_id", "segment_index").collect()):
            stored.setdefault(r.doc_id, []).append(r.segment_index)
        self.errors += gates.fresh_chunks(stored, want)

    def call_metrics(self, rounds: list[Round]) -> dict[str, float]:
        from perfbench.trace import percentile_tail

        calls: dict[str, list[float]] = {}
        for r in rounds:
            for kind, sec in r.calls:
                calls.setdefault(kind, []).append(sec)
        out = {f"{k}_p50_s": median(v) for k, v in sorted(calls.items())}
        tail = percentile_tail(calls.get("query", []))
        if tail is not None:
            out["query_tail_s"], out["query_tail_pct"] = tail[1], tail[0]
        return out

    def layer_metrics(self, work: SparkWork, traced: list[int]) -> dict[str, float]:
        t = self.tracer
        tree = lambda name: [t.subtree(s.sid) for s in t.named(name)]  # noqa: E731
        ingests, queries, lookups = tree("api.ingest"), tree("api.query"), tree("api.lookup")
        scan = ("Scan parquet",)
        results = max(1, self.result_rows)
        return {
            "api.jobs_per_ingest": median(len(work.jobs_of(s)) for s in ingests),
            "api.jobs_per_query": median(len(work.jobs_of(s)) for s in queries),
            "api.jobs_per_lookup": median(len(work.jobs_of(s)) for s in lookups),
            "api.cached_rdds_after": self.cached_rdds,
            "tables.upsert_s": median(sum(x.seconds for x in t.spans if x.sid in s
                                          and x.name == "tables.upsert") for s in ingests),
            "tables.delete_s": median(sum(x.seconds for x in t.spans if x.sid in s
                                          and x.name == "tables.delete") for s in ingests),
            "tables.bytes_per_user_byte": dir_bytes(Path(self.root)) / max(1, self.user_bytes),
            "tables.files_read_per_lookup": median(
                work.node_sum(s, scan, "number of files read") for s in lookups),
            "tables.manifest_versions": len(self.engine.snapshot_versions()),
            "indexing.python_s": median(work.node_sum(
                s, ("ArrowEvalPython", "BatchEvalPython"), "time to run Python workers")
                for s in ingests),
            "indexing.chunks_out": self.chunks_out,
            "parse.python_s": median(work.node_sum(s, WAVE_NODES, "time to run Python workers")
                                     for s in ingests),
            "retrieval.sql_execs_per_query": median(len(work.execs_of(s)) for s in queries),
            "retrieval.rows_scanned_per_result": sum(
                work.node_sum(s, scan, "number of output rows") for s in queries) / results,
            "retrieval.python_s": median(work.node_sum(s, PY_NODES, "time to run Python workers")
                                         for s in queries),
        }


# ---------------------------------------------------------------------------
# batch: extract_bulk then curate_neardup in one session
# ---------------------------------------------------------------------------
class Batch(Workload):
    """The two batch jobs one after the other in one session: the
    resumable extraction pipeline, then corpus curation and the SimHash
    pass.  Each run pays one session start for both."""

    name = "batch"
    sizes = {"full": {}, "tiny": {}}
    parts = (ExtractBulk, CurateNeardup)

    def __init__(self, seed: int, size: str, work: Path) -> None:
        super().__init__(seed, size, work)
        self.jobs = [cls(seed, size, work) for cls in self.parts]
        for job in self.jobs:
            job.errors = self.errors  # one list: the gates of both jobs

    def ensure_inputs(self) -> None:
        for job in self.jobs:
            job.ensure_inputs()

    def attach(self, spark) -> None:
        super().attach(spark)
        for job in self.jobs:
            job.spark, job.tracer = spark, self.tracer

    def load(self) -> None:
        for job in self.jobs:
            job.load()

    def round(self, i: int) -> Round:
        rnd = Round()
        for job in self.jobs:
            part = job.round(i)
            rnd.docs += part.docs
            rnd.calls += part.calls
            rnd.attempted += part.attempted
            rnd.failed += part.failed
        return rnd

    def check(self, i: int) -> None:
        for job in self.jobs:
            job.check(i)

    def final_check(self, counts: bool) -> None:
        for job in self.jobs:
            job.final_check(counts)

    def layer_metrics(self, work: SparkWork, traced: list[int]) -> dict[str, float]:
        return {k: v for job in self.jobs for k, v in job.layer_metrics(work, traced).items()}


WORKLOADS = {w.name: w for w in (ExtractBulk, CurateNeardup, EngineServe, Batch)}


if __name__ == "__main__":
    # python3 -m perfbench.workloads build-base <seed> <size>, from the
    # checkout root: builds engine_serve's base knowledge base in a session
    # of its own, so no measured run is warmed by it
    import os

    from perfbench.run import WORK, become_subreaper, start_session, stop_session

    _, cmd, seed, size = sys.argv
    assert cmd == "build-base", cmd
    wl = EngineServe(int(seed), size, WORK)
    become_subreaper()
    try:
        wl.spark = start_session(len(os.sched_getaffinity(0)))
        wl.build_base()
    finally:
        stop_session(wl.spark)
