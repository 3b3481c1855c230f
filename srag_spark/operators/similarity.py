"""Approximate-nearest-neighbor search over embedding columns.

Two strategies, one contract (query_id, vec_id, score rank ≤ k):

* ``brute_force_topk`` — exact baseline: broadcast the (small) query set
  against the full embedding table, native dot product, per-query window
  top-k.  Cost O(|Q|·N·d) but fully codegen'd and shuffle-free except the
  final per-query top-k (a partial top-k per partition feeds the window);
* ``lsh_topk`` — scale path: random-hyperplane signed buckets; candidates
  share the query's bucket (with multi-probe via Hamming-adjacent
  buckets optional at the caller); exact re-rank inside the bucket.  The
  bucket join replaces the N-row scan with an equi-join keyed on small
  bucket codes — at 10^9+ vectors this is the difference between a full
  pass and a pruned probe.

Hyperplanes must be deterministic and engine-independent: we reuse the
deterministic hash embedder (sha256-seeded) to generate them, so the
DuckDB oracle can reproduce the exact same bucketing from the same seed
strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from srag_spark.functions.planning import (
    bind_col,
    nondet_col,
    owns_ledger,
    persist,
    spread_input,
)
from srag_spark.operators.dedup import dot_col, dot_lit_sql


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k per query by cosine (assumes unit-norm inputs: dot =
    cosine).  Queries broadcast; ranks deterministic (score desc, id).
    Pass ``dim=`` to use the dim-unrolled codegen'd dot product
    (bit-identical; see ``dedup.dot_sql``) — the fold form stays the
    fallback for callers that cannot know the vector length."""
    from srag_spark.operators.dedup import dot_sql

    q = F.broadcast(
        queries.select(F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("qv"))
    )
    score = (
        F.round(F.expr(dot_sql("v", "qv", dim)), 6)
        if dim is not None
        else F.round(dot_col(F.col("v"), F.col("qv")), 6)
    )
    scored = spread_input(emb).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).crossJoin(q).select(
        "query_id",
        "vec_id",
        score.alias("score_r"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_r"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score_r", "rank")
    )


def hyperplane_bucket_col(vec_sql: str, hyperplanes: list[list[float]]) -> "F.Column":
    """Signed-projection LSH bucket code: one char per hyperplane
    ('1' if dot(v, h) > 0 else '0').  Native, deterministic.

    ``vec_sql`` is the vector column as SQL text (a column name or
    expression).  The whole code — every plane's dot product — is built
    as ONE ``F.expr`` parse: constructing it Column-by-Column costs
    hundreds of py4j round trips (4 higher-order lambdas per dot ≈ 9 ms
    each), which dominated these operators' driver-side latency."""
    cases = "".join(
        f", CASE WHEN {dot_lit_sql(vec_sql, h)} > 0.0D THEN '1' ELSE '0' END"
        for h in hyperplanes
    )
    return F.expr(f"concat({cases[2:]})")


def band_width(n_planes: int, bands: int) -> int:
    """Validated LSH band width.  A zero width (bands > n_planes) makes
    every band block the empty string — the band equi-join silently
    degenerates to an all-pairs product; a non-dividing ``bands`` drops
    the trailing bits from every code.  Both are configuration errors at
    any scale: fail loudly."""
    if bands <= 0 or n_planes % bands != 0:
        raise ValueError(
            f"bands={bands} must be a positive divisor of n_planes={n_planes} "
            "(zero-width or truncated band blocks degenerate the LSH join)"
        )
    return n_planes // bands


def make_hyperplanes(n_planes: int, dim: int, seed_prefix: str = "lsh-plane") -> list[list[float]]:
    """Deterministic hyperplanes from the hash embedder (engine-agnostic:
    derivable from the same seed strings anywhere)."""
    from srag_spark.functions.embedding import hash_embed

    return [
        [float(x) for x in hash_embed(f"{seed_prefix}-{i}", dim=dim)]
        for i in range(n_planes)
    ]


def make_centroids(
    n_centroids: int, dim: int, seed_prefix: str = "ivf-centroid"
) -> list[list[float]]:
    """Deterministic unit-vector coarse-quantizer centroids from the hash
    embedder — engine-agnostic (the DuckDB oracle rebuilds them from the
    same seed strings).  A production IVF trains k-means offline; the
    assign/probe machinery below is identical either way — swap this
    function for trained centroids without touching the plan."""
    from srag_spark.functions.embedding import hash_embed

    return [
        [float(x) for x in hash_embed(f"{seed_prefix}-{i}", dim=dim)]
        for i in range(n_centroids)
    ]


def train_centroids_kmeans(
    emb: DataFrame,
    n_centroids: int,
    dim: int,
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd k-means over the embedding table, expressed natively — the
    trained-centroid path for :func:`ivf_topk`'s documented swap point:

      * assignment = ``ivf_cell_col`` (nearest-centroid column expression,
        shuffle-free, codegen'd);
      * update = ONE groupBy per iteration with ``dim`` avg-aggregates
        (map-side partial aggregation; only n_centroids × dim numbers
        ever reach the driver — no row data);
      * new centroids are re-unit-normalized (assignment uses dot = cosine
        on unit vectors); cells that captured no vectors keep their
        previous centroid.

    Seeded deterministically from :func:`make_centroids`, so training is
    reproducible across runs and cluster sizes."""
    import math

    cents = make_centroids(n_centroids, dim)
    v = F.col(vec_col)
    # malformed embeddings (null vector, wrong dimension) would yield a
    # null cell / null avg aggregates and crash the driver-side update —
    # drop them once, before training (ADVICE r3)
    emb = emb.filter(v.isNotNull() & (F.size(v) == dim))
    for _ in range(iters):
        assigned = emb.select(ivf_cell_col(vec_col, cents).alias("cell"), v.alias("v"))
        aggs = [F.avg(F.element_at("v", i + 1)).alias(f"d{i}") for i in range(dim)]
        rows = assigned.groupBy("cell").agg(*aggs).collect()
        new = [list(c) for c in cents]
        for r in rows:
            if r["cell"] is None:
                continue  # belt-and-braces: nulls inside a valid-size vec
            vec = [float(r[f"d{i}"]) if r[f"d{i}"] is not None else 0.0 for i in range(dim)]
            norm = math.sqrt(sum(x * x for x in vec)) or 1.0
            new[r["cell"] - 1] = [x / norm for x in vec]
        cents = new
    return cents


def _centroid_dots_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    return (
        "array(" + ",".join(dot_lit_sql(vec_sql, c) for c in centroids) + ")"
    )


def ivf_cell_col(vec_sql: str, centroids: list[list[float]]) -> "F.Column":
    """IVF cell assignment: 1-based index of the nearest centroid (max
    dot for unit vectors; first index wins ties).  Native, deterministic.
    The centroid-dot array is let-bound (``dedup.bind_col``, r6) so the
    n_centroids interpreted fold-dots evaluate once per row — the
    ``array_position(dots, array_max(dots))`` form otherwise evaluates
    the whole dot array twice."""
    return ivf_assign_struct(vec_sql, centroids)["cell"]


def ivf_assign_struct(vec_sql: str, centroids: list[list[float]]) -> "F.Column":
    """(cell, csim) assignment struct — nearest-centroid index plus the
    RAW max centroid dot, from ONE evaluation of the dot array.
    Consumers needing both (SemDeDup, cluster-balanced sampling) select
    this once and unpack fields; ``csim`` is unrounded so callers apply
    their own rounding."""
    dots_arr = F.expr(_centroid_dots_sql(vec_sql, centroids))

    def _build(d):
        m = F.array_max(d)
        return F.struct(
            F.array_position(d, m).cast("int").alias("cell"),
            m.alias("csim"),
        )

    return bind_col(dots_arr, _build)


def ivf_probe_cells_col(
    vec_sql: str, centroids: list[list[float]], nprobe: int
) -> "F.Column":
    """The query's ``nprobe`` nearest cells, by centroid dot desc (ties:
    lower cell index) — classic IVF multi-cell probing.  The dot array
    is let-bound (r6): inlined inside the per-element lambda it was
    re-evaluated once per cell — n_centroids² fold-dots per query row."""
    n = len(centroids)
    dots = _centroid_dots_sql(vec_sql, centroids)
    return F.expr(
        f"element_at(transform(array({dots}), d -> "
        "transform(slice(array_sort(transform(sequence(1, "
        f"{n}), i -> named_struct('nd', -element_at(d, i), "
        "'cell', CAST(i AS INT)))), 1, "
        f"{int(nprobe)}), s -> s.cell)), 1)"
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their nearest coarse-
    quantizer cell (one shuffle-free column expression); each query
    probes its ``nprobe`` nearest cells via an equi-join on the cell id;
    exact cosine re-rank inside the probed cells.  At 10⁹+ vectors the
    probed fraction is nprobe/n_centroids of the corpus instead of a full
    scan — and unlike hyperplane LSH the cells partition the space, so
    recall degrades gracefully as nprobe grows.  ``dim`` is required (no
    driver-side data peek).  ``centroids`` overrides the deterministic
    seeded quantizer with trained ones (:func:`train_centroids_kmeans`)
    — the assign/probe plan is identical either way."""
    if dim is None:
        raise ValueError("ivf_topk requires an explicit dim= (vector length)")
    if centroids is None:
        centroids = make_centroids(n_centroids, dim)
    elif len(centroids) != n_centroids:
        raise ValueError(
            f"got {len(centroids)} centroids for n_centroids={n_centroids}"
        )

    emb = spread_input(emb)  # guide §2.5; no-op at scale
    # nondet_col pins the n_centroids-dot assignment in THIS projection:
    # the probe equi-join otherwise pushes its implicit isnotnull(cell)
    # through the projection and the spread exchange onto the serialized
    # scan, evaluating the full dot array there AND here (r6 measured:
    # join+score 2.7 s → 0.9 s at sfx10)
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        nondet_col(ivf_cell_col(vec_col, centroids)).alias("cell"),
    )
    q = F.broadcast(
        queries.select(
            F.col(q_id_col).alias("query_id"),
            F.col(q_vec_col).alias("qv"),
            F.explode(
                ivf_probe_cells_col(q_vec_col, centroids, nprobe)
            ).alias("cell"),
        )
    )
    from srag_spark.operators.dedup import dot_sql

    scored = e.join(q, "cell").select(
        "query_id",
        "vec_id",
        F.round(F.expr(dot_sql("v", "qv", dim)), 6).alias("score_r"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score_r", "rank")
    )


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    method: str = "lsh",
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Self-kNN graph over an embedding table: for every vector, its (up
    to) ``k`` nearest neighbors by cosine — ``(vec_id, nbr_id, score_r,
    rank)``, self-edges excluded, ranks deterministic (score desc,
    nbr_id asc).  The kNN graph is the input artifact of the
    embedding-curation family — SemDeDup-style cluster pruning, dataset
    cartography, graph-based diversity sampling all start from it
    (Abbas et al. 2023 build exactly this neighborhood structure).

    ``method="lsh"`` (the scale path) mirrors
    :func:`~srag_spark.operators.dedup.embedding_neardup_pairs`:
    ``n_planes`` signed hyperplane projections banded into ``bands``
    blocks, DIRECTED candidate pairs share ≥1 block (an equi-join keyed
    on short block strings — never an all-pairs product), exact cosine
    re-rank inside each node's candidate set.  Recall < 1 by LSH
    construction (a true neighbor differing in every band is missed);
    raise ``n_planes``/``bands`` with log N to hold candidate density —
    the per-block population is N/2^(n_planes/bands) in expectation, so
    band width is the knob that keeps the join linear at 10⁹ vectors.

    ``method="brute"`` is the exact quadratic baseline (the oracle
    twin): full self-product + per-node window top-k — correct at any
    recall cost, usable only at audit scale.

    Output is O(N·k) rows either way — the graph, not a score matrix.
    Assumes unit-norm vectors (dot = cosine).  ``dim`` is REQUIRED for
    the LSH path (a wrong dim degenerates every bucket code to all-'0'
    and the band join to a silent all-pairs product — fail loudly)."""
    from srag_spark.operators.dedup import dot_sql

    if method == "brute":
        e_src = emb.select(
            F.col(id_col).alias("src_id"), F.col(vec_col).alias("sv")
        )
        e_nbr = emb.select(
            F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nv")
        )
        cands = e_src.crossJoin(e_nbr).filter(
            F.col("src_id") != F.col("nbr_id")
        )
        score = (
            F.round(F.expr(dot_sql("sv", "nv", dim)), 6)
            if dim is not None
            else F.round(dot_col(F.col("sv"), F.col("nv")), 6)
        )
        scored = cands.select(
            F.col("src_id").alias("vec_id"), "nbr_id", score.alias("score_r")
        )
    elif method == "lsh":
        if dim is None:
            raise ValueError("knn_graph(method='lsh') requires an explicit dim=")
        # r6 restructure (guide §2.3/§2.4/§4.2): the old shape shuffled
        # the O(Σ block²) directed candidate relation four times (pair
        # distinct + two vector join-backs + the global window) and paid
        # an interpreted ~5.7 µs dot per pair.  Now the vector rides
        # with the banded code and each (band, block) group scores its
        # own quadratic candidate set INSIDE a numpy kernel
        # (functions/pairkernels): BLAS selection with a safety margin,
        # exact fold-order re-scoring of the ≤ (k+ties) survivors per
        # node, rounding and rank re-verified in Spark SQL — the
        # quadratic relation never exists as rows, and only ~N·bands·k
        # candidate rows leave Python.  Exactness: per-(band, block)
        # candidates are a subset of the global candidate set, so any
        # pair in the global top-k under (score desc, nbr asc) has < k
        # predecessors in every block it appears in — the per-block
        # top-k-with-margin union is a superset of the global top-k, and
        # ranks over the deduped union equal global ranks for every
        # surviving row.
        import pandas as pd  # noqa: PLC0415

        from srag_spark.functions import pairkernels as pk

        width = band_width(n_planes, bands)
        planes = make_hyperplanes(n_planes, dim)
        coded = spread_input(emb).select(
            F.col(id_col).alias("doc_id"),
            F.col(vec_col).alias("v"),
            hyperplane_bucket_col(vec_col, planes).alias("code"),
        )
        banded = coded.select(
            "doc_id",
            "v",
            F.posexplode(
                F.array(
                    *[
                        F.substring("code", b * width + 1, width)
                        for b in range(bands)
                    ]
                )
            ).alias("band_id", "block"),
        )
        id_field = banded.schema["doc_id"].dataType.simpleString()
        out_schema = (
            f"vec_id {id_field}, nbr_id {id_field}, score double"
        )
        kk = int(k)
        dd = int(dim)

        def _blk_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
            ok, M = pk.block_matrix(pdf, "v", dd)
            ids = pdf["doc_id"].to_numpy()[ok]
            if len(ids) < 2:
                import numpy as np  # noqa: PLC0415

                return pd.DataFrame(
                    {
                        "vec_id": ids[:0],
                        "nbr_id": ids[:0],
                        "score": np.array([], dtype=np.float64),
                    }
                )
            src, nbr = pk.topk_candidate_pairs(ids, M, kk)
            return pd.DataFrame(
                {
                    "vec_id": ids[src],
                    "nbr_id": ids[nbr],
                    "score": pk.exact_pair_scores(M[src], M[nbr]),
                }
            )

        pairs = banded.groupBy("band_id", "block").applyInPandas(
            _blk_topk, out_schema
        )
        scored = (
            pairs.select(
                "vec_id",
                "nbr_id",
                F.round(F.col("score"), 6).alias("score_r"),
            )
            .distinct()
        )
    else:
        raise ValueError(f"unknown knn_graph method {method!r}")
    w = Window.partitionBy("vec_id").orderBy(F.desc("score_r"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "nbr_id", "score_r", "rank")
    )


_PR_UNIT = 10**9


@owns_ledger
def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    persisted: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in exact integer fixed-point — the
    TextRank/LexRank centrality (Mihalcea & Tarau 2004; Erkan & Radev
    2004) over a similarity graph such as :func:`knn_graph`'s output:
    which documents sit at the center of the corpus's neighborhood
    structure (extractive summarization, prototype selection, and
    quality priors all rank on it; at web scale the same iteration over
    a host link graph is the classic URL-quality prior).

    Unnormalized convention: every node starts at rank 1.0 held as
    ``10^9`` integer units; each of the ``n_iter`` rounds applies::

        r'(u) = (100 - d100)/100 + d100/100 · Σ_{v→u} (r(v) // outdeg(v))

    entirely in long arithmetic (``d100 = round(100·damping)``;
    floor divisions lose < 1 unit per step — an error of 1e-9 rank,
    identical on every engine).  Integer sums are exactly associative,
    so the result is independent of partitioning, aggregation order,
    and engine — a float PageRank cannot promise any of those.  Long
    range is safe to ~9·10^9 nodes (total mass N·10^9 < 2^63).
    Dangling mass is dropped (a kNN graph has none — every node emits
    k edges); document the convention when feeding other graphs.

    Plan shape per round: one join of the (src, dst, outdeg) relation
    against the current rank (co-keyed on src), one map-side-combinable
    groupBy(dst) sum, one left join back to the node set.  Pass
    a ``persisted`` list to keep the pinned edge/node relations and each
    round's rank (they cut the ``n_iter``-deep lineage) until the caller
    releases them — the functions.planning contract.

    Returns ``(node, rank_u, rank_r)`` — the exact integer rank and its
    6-decimal real form.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    d100 = int(round(damping * 100))
    if not 0 <= d100 <= 100:
        raise ValueError("damping must be in [0, 1]")
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    es = e.join(outdeg, "_s")
    nodes = persist(nodes, persisted)
    es = persist(es, persisted)
    rank = nodes.withColumn("_ru", F.lit(_PR_UNIT).cast("long"))
    base = (100 - d100) * _PR_UNIT
    for _ in range(n_iter):
        contrib = (
            es.join(
                rank.select(F.col("node").alias("_s"), "_ru"), "_s"
            )
            .select("_d", F.expr("_ru div _deg").alias("_c"))
            .groupBy("_d")
            .agg(F.sum("_c").alias("_in"))
        )
        rank = (
            nodes.join(
                contrib.withColumnRenamed("_d", "node"), "node", "left"
            )
            .select(
                "node",
                F.expr(
                    f"({base}L + {d100}L * coalesce(_in, 0L)) div 100"
                ).alias("_ru"),
            )
        )
        rank = persist(rank, persisted)
    return rank.select(
        "node",
        F.col("_ru").alias("rank_u"),
        F.round(F.col("_ru") / F.lit(float(_PR_UNIT)), 6).alias("rank_r"),
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one — the tuning measurement behind every n_planes/probes/
    nprobe choice (``(query_id, hits, recall_r)``, recall = |approx ∩
    exact|/k).  Both inputs use the ANN contract ``(query_id, vec_id,
    score_r, rank)`` with rank ≤ k (:func:`brute_force_topk` /
    :func:`lsh_topk` / :func:`ivf_topk` / :func:`knn_graph` renamed).

    One inner join on (query_id, vec_id) + one tiny groupBy keyed by
    query — the exact side is the expensive input (quadratic by
    construction), so at scale this runs over a SAMPLED query set, which
    is standard recall-evaluation practice.  Queries the approximate
    side missed entirely still appear (recall 0) via the exact side's
    query census."""
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    queries = exact.select("query_id").distinct()
    return (
        queries.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.round(F.coalesce("hits", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall_r"
            ),
        )
        .orderBy("query_id")
    )


def probe_buckets_col(bucket_col, n_planes: int, probes: int) -> "F.Column":
    """Array of probe bucket codes for a query: the bucket itself, plus —
    when ``probes`` ≥ 2 — every Hamming-1 neighbor (one bit flipped).
    Multi-probe rescues near-boundary vectors whose sign flipped on one
    hyperplane (the classic LSH recall cliff) at the cost of ``n_planes``
    extra equi-join probes per query — still never a scan.

    The bucket code is let-bound (``dedup.bind_col``, r6): each of the
    ``n_planes`` variants references it up to 3× (prefix, bit, suffix),
    so the un-bound form inlined the full ``n_planes``-dot code
    expression ~3·n_planes times — a plan-size/evaluation blowup that
    measured 1.5 s on a 5-row query side at sfx10."""
    def _variants(code):
        variants = [code]
        if probes >= 2:
            for i in range(n_planes):
                prefix = F.substring(code, 1, i) if i else F.lit("")
                bit = F.substring(code, i + 1, 1)
                flipped = F.when(bit == "1", F.lit("0")).otherwise(F.lit("1"))
                suffix = (
                    F.substring(code, i + 2, n_planes - i - 1)
                    if i < n_planes - 1
                    else F.lit("")
                )
                variants.append(F.concat(prefix, flipped, suffix))
        return F.array(*variants)

    return bind_col(bucket_col, _variants)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Bucketed ANN: candidates share one of the query's probe buckets
    (``probes=1`` → exact bucket only; ``probes≥2`` → plus all Hamming-1
    neighbors); exact cosine re-rank within the candidates.  Recall < 1
    by construction — returns up to k per query.  ``dim`` is required (no
    driver-side data peek: the operator must stay lazily plannable)."""
    if dim is None:
        raise ValueError("lsh_topk requires an explicit dim= (vector length)")

    planes = make_hyperplanes(n_planes, dim)
    emb = spread_input(emb)  # guide §2.5; no-op at scale
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        hyperplane_bucket_col(vec_col, planes).alias("bucket"),
    )
    q = F.broadcast(
        queries.select(
            F.col(q_id_col).alias("query_id"),
            F.col(q_vec_col).alias("qv"),
            F.explode(
                probe_buckets_col(
                    hyperplane_bucket_col(q_vec_col, planes), n_planes, probes
                )
            ).alias("bucket"),
        )
    )
    from srag_spark.operators.dedup import dot_sql

    scored = e.join(q, "bucket").select(
        "query_id",
        "vec_id",
        F.round(F.expr(dot_sql("v", "qv", dim)), 6).alias("score_r"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score_r", "rank")
    )
