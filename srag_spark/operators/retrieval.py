"""Retrieval operators Q1–Q11 (SURVEY.md §2.4).

The reference delegates vector search to Qdrant, lexical search to
OpenSearch BM25, and fuses the two top-200 lists in memory
(QueryService.scala:95-266).  Here the two searches are Spark scans and
the fusion runs on the driver over their collected rows:

* Q2 exact cosine top-k — native ``zip_with``/``aggregate`` dot product
  (unit-norm vectors ⇒ cosine) ending in a sort-limit, no UDF;
* Q3 BM25 — two passes: one aggregate returns N, avgdl and each query
  term's df and idf; one scoring scan, with those as literals, ends in a
  sort-limit that carries the chunk text;
* Q4 RRF fusion, Q5 candidate-text resolution and Q6/Q7 rerank + gates
  (QueryService.scala:137-266) — plain Python over the ≤ pool (200)
  rows of each list.  Candidates without a lexical text get theirs from
  one broadcast-keyed fetch; the reranker (stub or ``rerank_fn``) is
  called on the driver, as :func:`embed_query` is;
* Q9 listing filter/sort (MainHandlers.scala:62-90), Q10 top-k, Q11
  distinct — trivially native.

The driver-side stages copy Spark's ordering and comparison rules, so
they return what the equivalent DataFrame plans return: under
``desc(score)`` NaN sorts above +inf and nulls sort last; keys sort
ascending with nulls first; NaN equals NaN and exceeds every other value
in ``>=``; a comparison with null is false; ``max`` is NaN when any
score is, ``min`` only when all are, and both skip nulls.

Determinism: the reference relies on Scala's stable sort for ties; every
rank/top-k here adds the secondary key ``(doc_id, segment_index)``
(SURVEY.md §4.2.3).  Keys are unique per chunk, as the engine's upserts
keep them.

Scale notes: a query runs three scans — the embeddings once, the chunks
twice (BM25 statistics, then scoring) — plus a keyed fetch whose ≤ pool
keys broadcast.  Each scan ends in an aggregate or a per-partition
top-k, so what reaches the driver is one stats row and ≤ pool rows per
list, whatever the table size.  BM25 reads each chunk through one regex
pass that extracts only the query terms' occurrences; nothing is
exploded, shuffled by key or cached.
"""

from __future__ import annotations

import math
import re

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, StructField, StructType

from srag_spark.functions.embedding import embed_query, stable_unit_score

FUSION_POOL_SIZE = 200   # QueryService.scala:65
RERANKER_POOL_SIZE = 200
RRF_K = 60               # QueryService.scala:68
MIN_CANDIDATES_FOR_RERANK = 5
RERANK_TOP_K_RATIO = 0.2
MIN_ACCEPTABLE_GAP = 0.5
MIN_ABSOLUTE_SCORE = 0.3

_KEY = ("doc_id", "segment_index")


# ---------------------------------------------------------------------------
# metadata filter (VectorStoreFilter: conjunctive equality,
# QdrantAdapter.scala:173-181 / OpenSearchAdapter.scala:216-224)
# ---------------------------------------------------------------------------
def apply_metadata_filter(df: DataFrame, flt: dict[str, str] | None) -> DataFrame:
    if not flt:
        return df
    for k, v in flt.items():
        df = df.filter(F.col("metadata").getItem(k) == F.lit(v))
    return df


# ---------------------------------------------------------------------------
# Q2 — exact cosine top-k (replaces the ANN server with an exact scan)
# ---------------------------------------------------------------------------
def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = FUSION_POOL_SIZE,
    flt: dict[str, str] | None = None,
) -> DataFrame:
    """(doc_id, segment_index, vector[, metadata]) → top-k by cosine.

    Dot product entirely JVM-side: ``aggregate(zip_with(v, q, *), +)``
    (the higher-order fold is the FASTER JVM form — a 64-term unrolled
    sum exceeds the JVM's huge-method JIT limit and runs interpreted,
    measured 6-10× slower; see ``dedup.dot_lit_sql``).  The query
    vector is a literal array — effectively broadcast.  Top-k is a
    global sort-limit (Spark performs it as per-partition top-k +
    driver merge — no full shuffle).
    """
    from srag_spark.operators.dedup import lit_vec

    q = lit_vec(query_vec)  # ONE py4j round trip, not 384 per-element lit()s
    scored = apply_metadata_filter(embeddings, flt).select(
        "doc_id",
        "segment_index",
        F.aggregate(
            F.zip_with("vector", q, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), *_KEY).limit(k)


# ---------------------------------------------------------------------------
# Q3 — BM25 lexical top-k, in-engine
# ---------------------------------------------------------------------------
LEX_TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize_lex(text: str) -> list[str]:
    """Frozen lexical analyzer (≈ OpenSearch standard analyzer):
    lowercase, split on non-alphanumeric runs, drop empties.
    Python twin of the ``[a-z0-9]+`` token runs :func:`_term_hits`
    counts and matches."""
    return [t for t in re.split(LEX_TOKEN_SPLIT, (text or "").lower()) if t]


def _term_hits(chunks: DataFrame, terms: list[str]) -> DataFrame:
    """``chunks`` plus ``dl`` (the chunk's token count) and ``_hits`` (its
    occurrences of ``terms``, in text order).

    One alternation-regex pass per chunk extracts only the query terms'
    occurrences, so ``_hits`` is as short as the match count.  The
    lookarounds pin each alternative to a maximal [a-z0-9] run: a hit is
    a token equal to a term, and ``size(filter(_hits, = t))`` is the
    term's tf in the tokenizer's sense (terms are alnum-only, so the
    alternation is injection-safe).  ``dl`` counts token runs, which
    equals ``size`` of the tokenized text."""
    hit_pat = f"(?<![a-z0-9])({'|'.join(terms)})(?![a-z0-9])"
    return chunks.select(
        "*",
        F.expr("CAST(regexp_count(lower(text), '[a-z0-9]+') AS INT)").alias("dl"),
        F.expr(f"regexp_extract_all(lower(text), '{hit_pat}', 1)").alias("_hits"),
    )


def _tf(term: str) -> "F.Column":
    # single-parameter lambda: a two-parameter form is bound by pyspark
    # as the (element, index) lambda
    return F.size(F.filter("_hits", lambda h: h == F.lit(term))).cast("double")


def bm25_topk(
    chunks: DataFrame,
    query_text: str,
    k: int = FUSION_POOL_SIZE,
    k1: float = 1.2,
    b: float = 0.75,
    flt: dict[str, str] | None = None,
) -> DataFrame:
    """BM25 (Lucene formulation) top-k over the chunks table:
    (doc_id, segment_index, text, score), best first.

    Two passes over the chunks:
      1. statistics — one aggregate returns N (every chunk row), avgdl
         (over non-null texts) and each query term's df, and computes
         idf = ln(1 + (N-df+0.5)/(df+0.5)) (the Lucene/OpenSearch form)
         in the same Spark projection, so its bits are Spark's ``log``;
         this pass runs when the function is called;
      2. scoring — the returned frame: one scan that adds, per chunk,
         the term scores of the terms it contains, in term order from
         0.0, with idf and avgdl as literals, and ends in a sort-limit
         that carries ``text``.  A chunk with no query term scores null,
         and nulls sort last, so the null rows that fill a short top-k
         are cut after the limit.  Terms no chunk contains are dropped
         from the scoring pass; when none is left the frame is empty and
         its actions start no job.

    Empty query → all chunks at score 0.0 (zero_terms_query: all,
    OpenSearchAdapter.scala:205-235), deterministic order, no stats pass.

    Filtered-scoring semantics (frozen, = OpenSearch): a metadata filter
    restricts the RESULT set but never the SCORING statistics.  N, avgdl
    and per-term df are computed over the WHOLE corpus — OpenSearch
    scores the ``match`` clause with index-wide stats and puts the
    metadata terms in non-scoring filter context
    (OpenSearchAdapter.scala:205-235 bool.must(match)+bool.filter), so a
    chunk's score is identical with or without a filter.  The filter
    applies to the scoring pass only.  Pinned by the
    ``q3_bm25_filtered`` oracle entry (VERDICT r4 #3).
    """
    terms = sorted(set(tokenize_lex(query_text)))
    if not terms:
        base = apply_metadata_filter(chunks, flt).select(*_KEY, "text")
        return (
            base.select(*_KEY, "text", F.lit(0.0).alias("score"))
            .orderBy(*_KEY)
            .limit(k)
        )

    ids = range(len(terms))
    stats = (
        _term_hits(chunks, terms)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            *[
                F.count(F.when(F.array_contains("_hits", terms[i]), 1)).cast("double").alias(f"df{i}")
                for i in ids
            ],
        )
        .select(
            "avgdl",
            *[F.col(f"df{i}") for i in ids],
            *[
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                    / (F.col(f"df{i}") + F.lit(0.5))
                ).alias(f"idf{i}")
                for i in ids
            ],
        )
        .first()
    )
    idf = {terms[i]: stats[f"idf{i}"] for i in ids if stats[f"df{i}"] > 0}
    live = [t for t in terms if t in idf]
    scoring = apply_metadata_filter(chunks, flt)
    if not live:
        return scoring.select(*_KEY, "text", F.lit(0.0).alias("score")).limit(0)

    avgdl = F.lit(stats["avgdl"])
    term_scores = [
        F.when(
            _tf(t) > 0,
            F.lit(idf[t])
            * (_tf(t) * (k1 + 1.0))
            / (_tf(t) + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        )
        for t in live
    ]
    score = F.when(
        F.size("_hits") > 0,
        F.aggregate(
            F.filter(F.array(*term_scores), lambda s: s.isNotNull()),
            F.lit(0.0),
            lambda acc, s: acc + s,
        ),
    )
    return (
        _term_hits(scoring, live)
        .select(*_KEY, "text", score.alias("score"))
        .orderBy(F.desc("score"), *_KEY)
        .limit(k)
        .filter(F.col("score").isNotNull())
    )


# ---------------------------------------------------------------------------
# driver-side fusion core: rows are (key, score, *payload) tuples
# ---------------------------------------------------------------------------
def _desc_nulls_last(score) -> tuple:
    if score is None:
        return (2, 0.0)
    if math.isnan(score):
        return (0, 0.0)
    return (1, -score)


def _asc_nulls_first(value) -> tuple:
    return (value is not None, value)


def _by_score(rows: list[tuple]) -> list[tuple]:
    """``rows`` in Spark's ``orderBy(desc(score), *key)`` order."""
    return sorted(
        rows,
        key=lambda r: (_desc_nulls_last(r[1]), tuple(_asc_nulls_first(v) for v in r[0])),
    )


def _ge(a: float, b: float) -> bool:
    """Spark's ``a >= b`` for non-null doubles: NaN equals NaN and
    exceeds every other value."""
    if math.isnan(a):
        return True
    if math.isnan(b):
        return False
    return a >= b


def _rrf(semantic: list[tuple], lexical: list[tuple], rrf_k: int, pool: int) -> list[tuple]:
    """Q4 over two (key, score, ...) lists: each list's first ``pool`` rows by
    score are ranked from 1; fused = Σ 1/(rrf_k + rank), semantic term
    first; keep > 0; the first ``pool`` (key, fused) rows by fused."""
    sem = {r[0]: i for i, r in enumerate(_by_score(semantic)[:pool], 1)}
    lex = {r[0]: i for i, r in enumerate(_by_score(lexical)[:pool], 1)}
    fused = []
    for key in dict.fromkeys([*sem, *lex]):
        s = (1.0 / (rrf_k + sem[key]) if key in sem else 0.0) + (
            1.0 / (rrf_k + lex[key]) if key in lex else 0.0
        )
        if s > 0.0:
            fused.append((key, s))
    return _by_score(fused)[:pool]


def _gate(scored: list[tuple], limit: int) -> list[tuple]:
    """Q7 over (key, score, ...) rows: reject ALL if top < 0.3 or
    (top−worst) < 0.5; else keep score ≥ top − 0.2·(top−worst), best
    first, take ``limit``."""
    scores = [r[1] for r in scored if r[1] is not None]
    if not scores:
        return []
    numbers = [s for s in scores if not math.isnan(s)]
    top = math.nan if len(numbers) < len(scores) else max(numbers)
    worst = min(numbers) if numbers else math.nan
    if not (_ge(top, MIN_ABSOLUTE_SCORE) and _ge(top - worst, MIN_ACCEPTABLE_GAP)):
        return []
    cut = top - RERANK_TOP_K_RATIO * (top - worst)
    return _by_score([r for r in scored if r[1] is not None and _ge(r[1], cut)])[:limit]


def _scored_rows(df: DataFrame, key_cols, score_col: str, *payload: str) -> list[tuple]:
    """``df`` collected as (key, score, *payload) tuples."""
    return [
        (tuple(r[c] for c in key_cols), r[score_col], *(r[c] for c in payload))
        for r in df.select(*key_cols, score_col, *payload).collect()
    ]


def _local(spark, schema: StructType, rows: list[tuple]) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as an Arrow-backed local
    relation: the caller's actions on it start no Spark job."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------------------------------
# Q4 — RRF rank fusion (QueryService.scala:137-167)
# ---------------------------------------------------------------------------
def rrf_fuse(
    semantic: DataFrame,
    lexical: DataFrame,
    rrf_k: int = RRF_K,
    pool: int = FUSION_POOL_SIZE,
    key_cols: tuple[str, ...] = _KEY,
) -> DataFrame:
    """Fuse two (key..., score) relations by reciprocal rank:
    rank = position+1 by score desc; fused = Σ 1/(rrf_k + rank);
    keep > 0; sort desc; take pool.  Returns (key..., fused_score) as a
    local relation.

    Each input is sort-limited to ``pool`` rows in Spark and collected;
    the ranking and the merge run on the driver (the core
    :func:`retrieve_context` uses), so an unlimited input frame costs
    one per-partition top-k, never a sort of the world."""

    def top(df: DataFrame) -> list[tuple]:
        return _scored_rows(df.orderBy(F.desc("score"), *key_cols).limit(pool), key_cols, "score")

    fused = _rrf(top(semantic), top(lexical), rrf_k, pool)
    schema = StructType(
        [semantic.schema[c] for c in key_cols] + [StructField("fused_score", DoubleType())]
    )
    return _local(semantic.sparkSession, schema, [(*key, s) for key, s in fused])


# ---------------------------------------------------------------------------
# Q7 — rerank result filtering (QueryService.scala:238-266)
# ---------------------------------------------------------------------------
def filter_reranked(scored: DataFrame, limit: int) -> DataFrame:
    """Gates over a rerank pool (doc_id, segment_index, text, score): reject
    ALL if top < 0.3 or (top−worst) < 0.5; else keep score ≥ top −
    0.2·(top−worst), sorted desc, take limit.  ``scored`` is collected
    (it is a candidate pool, ≤ ``RERANKER_POOL_SIZE`` rows) and gated on
    the driver; the result is a local relation."""
    cols = scored.select(*_KEY, "text", "score")
    kept = _gate(_scored_rows(cols, _KEY, "score", "text"), limit)
    return _local(scored.sparkSession, cols.schema, [(*key, t, s) for key, s, t in kept])


# ---------------------------------------------------------------------------
# Q5 — candidate text resolution (QueryService.scala:169-199)
# ---------------------------------------------------------------------------
def _resolve_texts(
    fused: list[tuple], lex_text: dict, chunks: DataFrame
) -> list[tuple]:
    """(key, fused_score) → (key, fused_score, text): the lexical hit's
    text if non-empty, else the chunk table's; rows with neither are
    dropped.  The chunk texts come from one scan of the chunks filtered
    to the keys that need them (one job), and only when some do.  A key
    with a null part matches nothing, as in a join."""

    def usable(t) -> bool:
        return t is not None and len(t) > 0

    need = [
        key for key, _ in fused if not usable(lex_text.get(key)) and None not in key
    ]
    fetched = {}
    if need:
        types = [chunks.schema[c].dataType for c in _KEY]
        keys = [
            F.struct(*[F.lit(v).cast(t).alias(c) for v, t, c in zip(key, types, _KEY)])
            for key in need
        ]
        fetched = {
            (r[0], r[1]): r[2]
            for r in chunks.filter(F.struct(*_KEY).isin(keys)).select(*_KEY, "text").collect()
        }
    out = []
    for key, s in fused:
        text = lex_text.get(key)
        text = text if usable(text) else fetched.get(key)
        if text is not None:
            out.append((key, s, text))
    return out


# ---------------------------------------------------------------------------
# Q6 — rerank scores
# ---------------------------------------------------------------------------
def _rerank(
    candidates: list[tuple], query_text: str, rerank_col, rerank_fn, chunks: DataFrame
) -> list[tuple]:
    """(key, fused_score, text) → (key, score, text).

    ``rerank_col`` is evaluated by Spark over the candidates' local
    relation (doc_id, segment_index, fused_score, text); a native column
    folds into that relation and starts no job.  Otherwise the stub or
    ``rerank_fn`` scores the texts here on the driver, in one call.  A
    NaN from ``rerank_fn`` counts as no score (null), as it did when the
    reranker ran as an Arrow pandas UDF, whose conversion turns NaN into
    null."""
    if rerank_col is not None:
        schema = StructType(
            [chunks.schema[c] for c in _KEY]
            + [StructField("fused_score", DoubleType()), chunks.schema["text"]]
        )
        rows = [(*key, s, t) for key, s, t in candidates]
        local = _local(chunks.sparkSession, schema, rows)
        return _scored_rows(
            local.select(*_KEY, "text", rerank_col.cast("double").alias("score")),
            _KEY, "score", "text",
        )
    texts = [t for _, _, t in candidates]
    if rerank_fn is None:
        scores = [stable_unit_score(query_text, t) for t in texts]
    else:
        scores = [float(s) for s in rerank_fn(query_text, pd.Series(texts))]
        scores = [None if math.isnan(s) else s for s in scores]
    return [(key, s, t) for (key, _, t), s in zip(candidates, scores, strict=True)]


# ---------------------------------------------------------------------------
# Q1 — hybrid retrieval orchestrator (QueryService.retrieveContext)
# ---------------------------------------------------------------------------
def retrieve_context(
    chunks: DataFrame,
    embeddings: DataFrame,
    query_text: str,
    limit: int = 5,
    flt: dict[str, str] | None = None,
    query_vec=None,
    rerank_col=None,
    embed_fn=None,
    rerank_fn=None,
) -> DataFrame:
    """embed query → vector top-200 ∥ BM25 top-200 → RRF → resolve text →
    rerank gate (≥5 candidates) → gated filter.

    Returns (doc_id, segment_index, text, score) as an Arrow-backed local
    relation: the caller's actions start no job, and nothing is cached.
    Spark runs the cosine top-k, the two BM25 passes and the text fetch;
    everything after the two collected lists runs on the driver over
    ≤ ``FUSION_POOL_SIZE`` candidates.

    Fallback semantics (QueryService.scala:95-133): fusion-score results
    are returned when there are <5 candidates OR when the reranker FAILS
    (rerankWithFallback's recover path).  When the reranker succeeds and
    the gates reject everything (filterRerankedResults → List.empty on
    topScore < 0.3, gap < 0.5, or an empty post-threshold set), the
    result is EMPTY — low-confidence queries are suppressed, not padded
    with fusion scores.

    ``query_vec`` overrides the query embedding (default: the engine's
    embed function applied to the query text); ``rerank_col`` overrides
    the reranker with a numeric Column over the candidate rows
    (doc_id, segment_index, fused_score, text), read as a double — a
    deterministic rerank_col makes the whole path oracle-checkable
    cross-engine.

    ``embed_fn`` / ``rerank_fn`` inject REAL models (batch-callable
    contract in functions.embedding): the query is embedded through the
    same ``embed_fn`` that produced the chunk vectors, and ``rerank_fn``
    scores the ≤ ``RERANKER_POOL_SIZE`` candidate texts in one driver
    call.  Defaults are the deterministic stubs, so injection changes no
    oracle entry.
    """
    qvec = query_vec if query_vec is not None else embed_query(query_text, embed_fn)
    semantic = _scored_rows(cosine_topk(embeddings, qvec, FUSION_POOL_SIZE, flt), _KEY, "score")
    lexical = _scored_rows(
        bm25_topk(chunks, query_text, FUSION_POOL_SIZE, flt=flt), _KEY, "score", "text"
    )
    fused = _rrf(semantic, lexical, RRF_K, FUSION_POOL_SIZE)
    candidates = _resolve_texts(fused, {r[0]: r[2] for r in lexical}, chunks)
    schema = StructType(
        [chunks.schema[c] for c in (*_KEY, "text")] + [StructField("score", DoubleType())]
    )

    def result(rows: list[tuple]) -> DataFrame:
        return _local(chunks.sparkSession, schema, [(*key, t, s) for key, s, t in rows])

    fusion_results = _by_score(candidates)[:limit]
    if len(candidates) < MIN_CANDIDATES_FOR_RERANK:
        return result(fusion_results)
    try:
        scored = _rerank(candidates, query_text, rerank_col, rerank_fn, chunks)
    except Exception:  # noqa: BLE001 — reranker failure → fusion fallback
        return result(fusion_results)
    return result(_gate(scored, limit))


# ---------------------------------------------------------------------------
# Q9 — transcript listing filter + sort (MainHandlers.scala:62-90)
# ---------------------------------------------------------------------------
def listing(
    transcripts: DataFrame,
    flt: dict[str, str] | None = None,
    sort_by: str = "created_at",
    metadata_key: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    df = apply_metadata_filter(transcripts, flt)
    key = (
        F.col("metadata").getItem(metadata_key)
        if metadata_key is not None
        else F.col(sort_by)
    )
    key = key.asc() if ascending else key.desc()
    return df.orderBy(key, F.col("doc_id").asc())


# Q10 top-k and Q11 distinct are one-liners at call sites:
#   df.orderBy(...).limit(k)        df.select("doc_id").distinct()
