"""Deduplication operators for large-scale training-data pipelines.

All operators here are **pure native DataFrame plans** — no Python UDFs —
so they whole-stage-codegen, push down, and scale like any relational
workload.  Cross-engine-deterministic hashing uses ``md5`` of strings
(identical hex in Spark, DuckDB, and Python), so every operator has an
exact DuckDB oracle.

Scale notes (the part that matters at 100 TB):

* exact dedup is one hash-groupBy with map-side combine;
* MinHash/LSH: the shingle explosion is the big intermediate — it is
  aggregated per (doc, seed) with partial aggregation before any join;
  candidate pairs come from an equi-join on (band_id, band_value), i.e.
  a shuffle keyed on tiny band hashes, never an all-pairs product;
* SimHash computes all 32 bit-sums in ONE groupBy pass (32 agg columns,
  not 32 passes, not a per-bit explode);
* n-gram Jaccard joins docs only through shared shingles (inverted-index
  join), with a configurable document-frequency cap to drop stop-shingles
  that would otherwise create quadratic hot keys — the classic skew
  guard for similarity self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from srag_spark.functions.planning import (
    bind_col,
    held,
    owns_ledger,
    persist,
    release,  # noqa: F401 — re-exported: perfbench/workloads.py imports it from here
    spread_input,
)


# ---------------------------------------------------------------------------
# shared text normalization (frozen; mirrors oracle SQL in __spark_entry__)
# ---------------------------------------------------------------------------


def norm_text_col(c) -> "F.Column":
    """lowercase, collapse non-alphanumerics to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def words_col(c) -> "F.Column":
    return F.array_remove(F.split(norm_text_col(c), " "), "")


def shingles_col(c, n: int = 3) -> "F.Column":
    """Distinct word n-gram shingles of a text column (native).  The
    word array is let-bound (:func:`bind_col`) so the normalization +
    split runs once per row, not once per shingle."""

    def _build(w):
        return F.array_distinct(
            F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - n),
                    lambda i: F.array_join(F.slice(w, i + 1, n), " "),
                ),
            ).otherwise(
                # short docs: whole text as the single shingle (if non-empty)
                F.filter(
                    F.array(F.array_join(w, " ")), lambda s: F.length(s) > 0
                )
            )
        )

    return bind_col(words_col(c), _build)


# ---------------------------------------------------------------------------
# exact dedup — hash groupBy
# ---------------------------------------------------------------------------
def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, canonical_id, is_dup): canonical = min id per normalized text.

    One shuffle on the normalized-text hash with map-side combine.  At
    scale, group on ``md5(norm)`` instead of the full text to shrink
    shuffle keys — semantics identical modulo md5 collisions."""
    norm = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(norm_text_col(F.col(text_col))).alias("k")
    )
    canon = norm.groupBy("k").agg(F.min("doc_id").alias("canonical_id"))
    return norm.join(canon, "k").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sig: array<string>) — sig[i] = min over shingles of
    md5(i || ':' || shingle).  Engine-agnostic (md5 hex + lexicographic
    min).  One explode + one groupBy with ``n_hashes`` min-aggregates.

    Scale note: the explode never shuffles the expanded relation — each
    doc's shingles live in one scan partition, so hash aggregation
    combines map-side to one signature row per doc before the exchange
    (only (doc_id, sig) rows move).  The tempting zero-shuffle
    alternative (array_min over a transform per permutation) computes
    identical values but measured ~4× slower: nested higher-order
    expressions evaluate interpreted, while the exploded form stays
    inside codegen'd hash aggregation.  (If you do write higher-order
    lambdas here: pyspark counts ALL lambda parameters when choosing the
    unary (element) vs binary (element, index) form, so a default-arg
    closure like ``lambda s, _i=i`` silently binds the index column.)"""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), shingle_n)).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sigs = sh.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs sharing ≥1 LSH band.

    band value = concat of its signature rows; pairs come from a self
    equi-join on (band_id, band_value) with doc_a < doc_b, then distinct.
    The join key is a short hash — a well-distributed shuffle."""
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.array_join(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band), "|"
                ),
            )
        ).alias("band_id", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@owns_ledger
def minhash_dedup_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """End-to-end MinHash/LSH near-dup candidates with estimated Jaccard
    (= fraction of matching signature rows).

    ``materialize`` persists the signature table (one short row per doc)
    before the band/join stages: three consumers reference it (the band
    explode and both join-back sides), and without persistence Spark
    re-executes the full shingle→md5 aggregation per consumer — the
    dominant cost ×3.  Pass False to keep the plan fully lazy; pass a
    ``persisted`` list to ``planning.release`` the cache after consumption."""
    sigs = minhash_signatures(docs, n_hashes, shingle_n, text_col, id_col)
    if materialize:
        sigs = persist(sigs, persisted)
    pairs = lsh_candidate_pairs(sigs, bands, n_hashes // bands)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches.cast("double") / F.lit(float(n_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit, hex-digit high bits — engine-agnostic)
# ---------------------------------------------------------------------------
_HI_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash: string of 32 bits).

    Bit j of a token's hash = high bit of the j-th hex digit of
    md5(token).  Per doc, bit j of the signature = majority vote
    (sum of ±1 > 0).  All 32 sums happen in ONE groupBy."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_col(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    aggs = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*_HI_HEX), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(32)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(32)]
    )
    return sums.select("doc_id", bits.alias("simhash"))


def simhash_hamming(col_a, col_b) -> "F.Column":
    """Hamming distance between two 32-char bit strings (native)."""
    return F.size(
        F.filter(
            F.zip_with(F.split(col_a, ""), F.split(col_b, ""), lambda x, y: x != y),
            lambda d: d,
        )
    )


@owns_ledger
def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int = 3, bands: int = 4,
    materialize: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 32 bits into ``bands`` byte
    blocks; pairs sharing ≥1 block are candidates (any pair within
    hamming ≤ bands-1 must share a block); verify exact hamming.

    ``materialize`` persists the signature input once — both the band
    groups and any caller re-reads otherwise re-execute whatever plan
    produced it (for simhash_signatures: the token explode + 32-sum
    aggregation); pass a ``persisted`` list to ``planning.release`` the
    cache after consumption.

    r6 restructure (guide §4.2/§8, same device as
    ``embedding_neardup_pairs``): the former band SELF-JOIN materialized
    the O(Σ block²) candidate relation as JVM rows and evaluated an
    interpreted HOF hamming per pair — with only 2^(32/bands) distinct
    block values, real corpora (boilerplate-heavy, near-copy clusters)
    make blocks dense and the relation quadratic (measured 258 s at the
    sfx10 proxy).  Now each (band_id, block) group computes its own
    pairwise hammings INSIDE a numpy kernel — uint32 XOR + popcount,
    exact integer arithmetic, bit-identical to the string form — and
    only pairs within ``max_hamming`` ever become rows; the global
    ``distinct`` then dedups band collisions over that tiny survivor
    set.  Chunked like functions/pairkernels so a degenerate block
    stays at memory bandwidth, never OOM."""
    import pandas as pd  # noqa: PLC0415

    if materialize:
        sigs = persist(sigs, persisted)
    width = 32 // bands
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.substring("simhash", b * width + 1, width),
            )
        ).alias("band_id", "block"),
    )
    id_field = banded.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_a {id_field}, doc_b {id_field}, hamming int"
    mh = int(max_hamming)

    def _blk_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np  # noqa: PLC0415

        ids = pdf["doc_id"].to_numpy()
        sig = np.array(
            [int(s, 2) for s in pdf["simhash"]], dtype=np.uint32
        )
        m = len(ids)
        if m < 2:
            return pd.DataFrame(
                {"doc_a": ids[:0], "doc_b": ids[:0],
                 "hamming": np.array([], dtype=np.int32)}
            )
        # ascending doc order so a<b is a pure index condition
        order = np.argsort(ids, kind="stable")
        ids, sig = ids[order], sig[order]
        from srag_spark.functions.pairkernels import pop16_table

        out_a, out_b, out_h = [], [], []
        step = max(1, (4 * 1024 * 1024) // m)
        pop16 = pop16_table()  # built once per worker process
        for lo in range(0, m, step):
            hi = min(m, lo + step)
            x = sig[lo:hi, None] ^ sig[None, :]
            h = pop16[x & np.uint32(0xFFFF)] + pop16[x >> np.uint32(16)]
            rows, cols = np.nonzero(h <= mh)
            keep = rows + lo < cols  # strict upper triangle: doc_a < doc_b
            keep &= ids[rows + lo] != ids[cols]  # a repeated doc_id is no pair
            rows, cols = rows[keep], cols[keep]
            out_a.append(ids[rows + lo])
            out_b.append(ids[cols])
            out_h.append(h[rows, cols].astype(np.int32))
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "hamming": np.concatenate(out_h),
            }
        )

    pairs = banded.groupBy("band_id", "block").applyInPandas(
        _blk_pairs, out_schema
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    ).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index self-join)
# ---------------------------------------------------------------------------
@owns_ledger
def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with Jaccard ≥ threshold over
    distinct word n-grams.  Joins docs only via shared shingles; shingles
    appearing in > ``max_shingle_df`` docs are dropped first (skew guard —
    a stop-shingle in k docs would emit k² join rows).

    ``materialize`` persists the (capped) inverted index once: four
    consumers reference it (the df-cap aggregate, per-doc sizes, and
    both self-join sides), each otherwise re-running the shingle explode
    (+ cap join); pass a ``persisted`` list to ``planning.release`` the caches
    after consumption.  At extreme corpus sizes prefer writing the index
    to a table between stages instead of caching it (MEMORY_AND_DISK
    spill)."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )
    if max_shingle_df:
        if materialize:
            sh = persist(sh, persisted)
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    if materialize:
        sh = persist(sh, persisted)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# C4-style corpus-wide line dedup
# ---------------------------------------------------------------------------
def line_dedup_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "window",
) -> DataFrame:
    """(doc_id, pos, line, keep) — corpus-wide line-level dedup verdicts,
    the C4 pipeline's "discard any duplicated line" rule (the classic
    boilerplate killer: navigation text, cookie banners, 'subscribe'
    footers repeat across millions of pages).

    Frozen spec (mirrored by the DuckDB oracle):
      * lines = text split on ``\\.\\s+`` (sentence-ish units; both
        engines' regex dialects agree on this pattern), trimmed,
        empties dropped; ``pos`` = 0-based unit index;
      * two lines duplicate iff their normalizations match
        (:func:`norm_text_col`), compared via md5;
      * ``keep`` = this occurrence is the GLOBAL first (min (doc_id,
        pos)) of its group — one occurrence of every line survives, so
        reassembling kept lines loses no unique content.

    Plan shape at 100 TB — two selectable forms, bit-identical output:

    * ``mode="window"`` (default): one explode + one window over the
      line-hash.  Every copy of one line lands in ONE partition's sort —
      fine at normal duplication, a straggler when one boilerplate line
      has astronomically many copies (exactly the case C4 line dedup
      exists for), because WindowExec cannot split a partition key.
    * ``mode="agg"`` (the skew guard, VERDICT r3 #6): ``groupBy(hash).
      agg(min(struct(doc_id, pos)))`` + equi-join back.  The min is a
      partial aggregate — each task pre-reduces its copies of the hot
      hash to ONE row before the shuffle — and the join-back is an
      AQE-splittable equi-join (skew-join splits the fat side and
      replicates the 1-row-per-key firsts), neither of which the window
      form allows.  Costs one extra shuffle at uniform duplication; wins
      whenever a single line dominates.

    Reassembly is the caller's ``array_join(collect_list(...))``."""
    # guide §2.5: the line explode + per-line md5 normalization run on
    # the scan's partitioning; spread an under-partitioned input (no-op
    # at corpus scale).  The exploded relation is deliberately NOT
    # persisted for the agg mode's two consumers — line-granular caching
    # is corpus-sized (same two-pass-over-persist call as substrings).
    docs = spread_input(docs)
    lines = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), r"\.\s+")).alias("pos", "raw"),
        )
        .select("doc_id", "pos", F.trim("raw").alias("line"))
        .filter(F.length("line") > 0)
    )
    line_hash = F.md5(norm_text_col(F.col("line")))
    if mode == "agg":
        hashed = lines.withColumn("_lh", line_hash)
        firsts = hashed.groupBy("_lh").agg(
            # struct min = lexicographic (doc_id, pos) — the same global
            # first the window's ORDER BY doc_id, pos selects
            F.min(F.struct("doc_id", "pos")).alias("_first")
        )
        return (
            hashed.join(firsts, "_lh")
            .select(
                "doc_id",
                "pos",
                "line",
                (
                    (F.col("doc_id") == F.col("_first.doc_id"))
                    & (F.col("pos") == F.col("_first.pos"))
                ).alias("keep"),
            )
        )
    if mode != "window":
        raise ValueError(f"unknown line-dedup mode {mode!r}")
    from pyspark.sql import Window

    w = Window.partitionBy(line_hash).orderBy("doc_id", "pos")
    return lines.select(
        "doc_id",
        "pos",
        "line",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# connected-components canonicalization over a near-dup pair graph
# ---------------------------------------------------------------------------
def cluster_canonical(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """(doc_id, canonical_id) for every doc appearing in ``pairs``:
    canonical_id = MIN doc id of the doc's connected component — the
    transitive-closure alternative to greedy pair suppression (greedy
    over-keeps chain clusters: in 1—5—3, greedy keeps both 1 and 3
    because 3 is never the greater id of a pair; CC keeps only 1).

    Iterative min-label propagation, all native joins:

      * per round, every node takes min(own label, neighbors' labels,
        label-of-its-label);  the third term is pointer jumping, which
        cuts convergence from O(diameter) to O(log diameter) rounds;
      * each round is one equi-join shuffle keyed on node ids over a
        relation bounded by the PAIR GRAPH (docs that near-dup anything),
        not the corpus — at 100 TB this is the small minority of docs;
      * lineage is truncated per round (eager localCheckpoint of the tiny
        label table); on a real cluster with executor churn, point
        ``spark.sparkContext.setCheckpointDir`` at durable storage and
        swap for ``checkpoint()`` — one line, noted here on purpose;
      * convergence check = one count per round (labels that changed);
        stops early, ``max_iters`` bounds the worst case.

    Exact DuckDB oracle: recursive CTE (min reachable id).
    """
    def _lbl_t(lbls):
        return lbls.schema["label"].dataType.simpleString()

    with held() as ledger:
        edges = persist(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
            )
            .distinct(),
            ledger,
        )
        labels = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
            .localCheckpoint(eager=True)
        )
        for it in range(max_iters):
            nbr = edges.join(
                labels.withColumnRenamed("doc_id", "src"), "src"
            ).select(F.col("dst").alias("doc_id"), "label")
            if it == 0:
                # pointer jumping is an identity in the first round (every
                # label IS its own doc_id, so label-of-label = label) — skip
                # the self-join, one less shuffle on round 1 (r6)
                hop = labels.limit(0)
            else:
                hop = labels.join(
                    labels.select(
                        F.col("doc_id").alias("label"), F.col("label").alias("jumped")
                    ),
                    "label",
                ).select("doc_id", F.col("jumped").alias("label"))
            # the node's previous label rides the union as ``_old`` (non-null
            # only on the labels branch; every doc_id appears there exactly
            # once, so max() recovers it), which folds the convergence check
            # into the SAME groupBy shuffle + checkpoint — the former
            # separate new⋈labels changed-count join cost one extra shuffle
            # and one extra join job per round (guide §2.4)
            new = (
                labels.withColumn("_old", F.col("label"))
                .unionByName(nbr.withColumn("_old", F.lit(None).cast(_lbl_t(labels))))
                .unionByName(hop.withColumn("_old", F.lit(None).cast(_lbl_t(labels))))
                .groupBy("doc_id")
                .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
                .localCheckpoint(eager=True)
            )
            changed = new.filter(~F.col("label").eqNullSafe(F.col("_old"))).count()
            labels = new.select("doc_id", "label")
            if changed == 0:
                break
    return labels.withColumnRenamed("label", "canonical_id")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
def lit_vec_sql(values) -> str:
    """SQL text for a literal double array.  ``repr(float)`` is
    shortest-roundtrip, so the parsed doubles are bit-identical to the
    Python values."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"


def lit_vec(values) -> "F.Column":
    """Literal double-array column in ONE py4j round trip.

    ``F.lit(list)`` (and ``F.array(*[F.lit(x) ...])``) issue a py4j call
    PER ELEMENT; at 16 planes/centroids × 64 dims × 2 call sites that is
    ~13k gateway round trips ≈ 2 s of driver time per operator call
    (measured — it dominated ann_ivf_topk's steady-state latency).  A
    SQL-text ``array(...)`` parses JVM-side in one call."""
    return F.expr(lit_vec_sql(values))


def dot_lit_sql(vec_sql: str, values) -> str:
    """SQL text of :func:`dot_col` against a literal vector — identical
    operation order (cast-to-double both sides, sequential left fold), so
    results are bit-identical to the Column form; exists so operators
    that embed MANY literal dots (16 hyperplanes / centroids per call)
    can build the whole expression in ONE ``F.expr`` parse instead of
    hundreds of py4j lambda constructions (~9 ms each, measured).

    Measured note (r6): an "unrolled" variant (``0.0D + v[1]*c1 + …``,
    64 literal terms) was tried to get the dot into whole-stage codegen
    — it benchmarked 6-10× SLOWER than this fold (17-28 s vs 2.9-3.6 s
    per 2M rows), because the generated method exceeds the JVM's
    -XX:HugeMethodLimit (8000 bytecodes) and runs in the bytecode
    interpreter.  The interpreted higher-order fold is the faster form
    on the JVM; do not "optimize" it back."""
    return (
        f"aggregate(zip_with(transform({vec_sql}, x -> CAST(x AS DOUBLE)), "
        f"transform({lit_vec_sql(values)}, x -> CAST(x AS DOUBLE)), "
        "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def dot_sql(a_sql: str, b_sql: str, dim: int | None = None) -> str:
    """SQL text of :func:`dot_col` over two vector columns given by SQL
    text — ONE ``F.expr`` parse instead of py4j lambda construction.
    ``dim`` is accepted for interface symmetry with callers that know
    the vector length; the evaluated form is the same sequential fold
    either way (see :func:`dot_lit_sql`'s measured note on why the
    dim-unrolled variant is slower, not faster)."""
    return (
        f"aggregate(zip_with(transform({a_sql}, x -> CAST(x AS DOUBLE)), "
        f"transform({b_sql}, x -> CAST(x AS DOUBLE)), "
        "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def dot_col(a, b) -> "F.Column":
    """Sequential-order dot product of two array<float|double> columns,
    computed in double (identical operation order in the DuckDB oracle)."""
    return F.aggregate(
        F.zip_with(
            F.transform(a, lambda x: x.cast("double")),
            F.transform(b, lambda x: x.cast("double")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_neardup_pairs_brute(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos_r) pairs with cosine ≥ threshold — brute-force
    all-pairs baseline (exact, O(n²)).  Small-N only: the theta-join is a
    BroadcastNestedLoopJoin.  At scale use
    :func:`embedding_neardup_pairs` (LSH-bucketed equi-join)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(dot_col(F.col("va"), F.col("vb")), 6).alias("cos_r")
        )
        .filter(F.col("cos_r") >= threshold)
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos_r) near-dup pairs with cosine ≥ threshold, found
    via hyperplane-LSH banding — the 100 TB-safe plan (the same shape as
    :func:`simhash_near_pairs` / ``similarity.lsh_topk``):

      1. bucket code: ``n_planes`` signed projections onto deterministic
         hyperplanes (engine-agnostic — reproducible in the DuckDB oracle
         from the same seed strings);
      2. band the code into ``bands`` blocks; candidate pairs share ≥1
         block — an **equi-join keyed on short block strings**, never an
         all-pairs product.  Any pair whose codes differ in < ``bands``
         bits is guaranteed to be a candidate (multi-probe by banding);
         exact duplicates always share all blocks (recall 1.0 for them);
      3. verify exact cosine inside the candidate set (two id equi-joins
         back to the vectors).

    Recall < 1 for near-boundary pairs by LSH construction; raise
    ``n_planes``/``bands`` to trade shuffle for recall.  Assumes
    unit-norm vectors (dot = cosine).  ``dim`` is REQUIRED (like the
    sibling ANN operators): a wrong dim would make ``zip_with`` pad with
    nulls, every bucket code degenerate to all-'0', and the band join
    blow up to a silent all-pairs product — fail loudly instead."""
    from srag_spark.operators.similarity import (
        band_width, hyperplane_bucket_col, make_hyperplanes,
    )

    if dim is None:
        raise ValueError(
            "embedding_neardup_pairs requires an explicit dim= (vector length)"
        )

    import pandas as pd  # noqa: PLC0415

    from srag_spark.functions import pairkernels as pk

    width = band_width(n_planes, bands)
    planes = make_hyperplanes(n_planes, dim)
    # r6 restructure (guide §2.3/§2.4/§4.2): the old shape self-joined
    # the banded codes into the O(Σ block²) candidate relation and
    # shuffled it four times (pair distinct + two vector join-backs)
    # with an interpreted ~5.7 µs dot per pair.  Now the vector rides
    # with the banded code and each (band, block) group scores its own
    # candidate set inside a numpy kernel (functions/pairkernels): BLAS
    # selection with a safety margin below the threshold, exact
    # fold-order re-scoring of the (rare) survivors, and the rounded
    # ≥ threshold verdict re-applied in Spark SQL — same candidate set,
    # same scores, same output; the quadratic relation never exists as
    # rows.
    coded = spread_input(emb).select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("v"),
        hyperplane_bucket_col(vec_col, planes).alias("code"),
    )
    banded = coded.select(
        "doc_id",
        "v",
        F.posexplode(
            F.array(*[F.substring("code", b * width + 1, width) for b in range(bands)])
        ).alias("band_id", "block"),
    )
    id_field = banded.schema["doc_id"].dataType.simpleString()
    out_schema = f"id_a {id_field}, id_b {id_field}, score double"
    thr = float(threshold)
    dd = int(dim)

    def _blk_neardups(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np  # noqa: PLC0415

        ok, M = pk.block_matrix(pdf, "v", dd)
        ids = pdf["doc_id"].to_numpy()[ok]
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "id_a": ids[:0],
                    "id_b": ids[:0],
                    "score": np.array([], dtype=np.float64),
                }
            )
        src, nbr = pk.threshold_candidate_pairs(
            M, thr, lambda rows, cols: ids[rows] < ids[cols]
        )
        return pd.DataFrame(
            {
                "id_a": ids[src],
                "id_b": ids[nbr],
                "score": pk.exact_pair_scores(M[src], M[nbr]),
            }
        )

    return (
        banded.groupBy("band_id", "block")
        .applyInPandas(_blk_neardups, out_schema)
        .select(
            "id_a", "id_b", F.round(F.col("score"), 6).alias("cos_r")
        )
        .filter(F.col("cos_r") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# incremental dedup — new batch vs an already-signed base corpus
# ---------------------------------------------------------------------------
def build_dedup_index(
    docs: DataFrame,
    n_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, text_hash, sig) — one index row per doc: the exact-dup
    key (``md5(norm text)``, :func:`exact_dedup`'s key) plus the MinHash
    signature (:func:`minhash_signatures`).  Commit it once with
    ``sources.tables.upsert_by_key`` and every future batch dedups
    against the corpus WITHOUT re-reading base text — the daily-crawl
    top-up path (reference parity: none; public incremental-dedup
    practice, e.g. CCNet's per-snapshot hash sets).

    Docs whose text yields no shingles (empty after normalization) keep
    a null ``sig`` — they still participate in exact dedup by hash.
    One explode + one groupBy + one co-keyed join; signatures are never
    recomputed for docs already in the index."""
    keys = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm_text_col(F.col(text_col))).alias("text_hash"),
    )
    sigs = minhash_signatures(docs, n_hashes, shingle_n, text_col, id_col)
    return keys.join(sigs, "doc_id", "left")


def _bands_from_sig(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band_id, band_val) regenerated from stored signatures —
    pure column work, no shingling."""
    return sigs.filter(F.col("sig").isNotNull()).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.array_join(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band), "|"
                ),
            )
        ).alias("band_id", "band_val"),
    )


@owns_ledger
def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted: list | None = None,
    persist_index: bool = False,
    max_band_df: int | None = None,
    exact_index: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an existing :func:`build_dedup_index`
    table plus itself, touching base TEXT never and base SIGNATURES only
    for band-matched candidates.  ``max_band_df`` (optional) drops base
    band values shared by more than that many index docs before the
    candidate join — the stop-shingle skew guard at band granularity
    (degenerate short-text bands; exact dups still caught by hash).

    Returns one row per new doc::

        (doc_id, text_hash, sig, dup_exact, dup_near, dup_in_batch, keep)

    * ``dup_exact`` — the doc's ``text_hash`` already exists in the
      index;
    * ``dup_near`` — it shares an LSH band with an index doc whose
      signature agreement (est. Jaccard) reaches ``jaccard_tau``;
    * ``dup_in_batch`` — within the batch: an earlier (smaller-id) doc
      has the same hash, or a smaller-id band-matched partner reaches
      ``jaccard_tau`` (the greedy one-round rule of
      ``plans.curation.curate_corpus`` — the partner itself need not
      survive);
    * ``keep = NOT (dup_exact | dup_near | dup_in_batch)``.  Append the
      kept rows' ``(doc_id, text_hash, sig)`` back to the index table
      and the next batch sees them.

    Scale shape (base ≫ batch, the intended regime): base band values
    regenerate from stored ``sig`` arrays by a column transform — the
    shingle→md5 aggregation, the dominant signature cost, runs only on
    the new batch.  Both joins against the base (text-hash equi-join,
    band equi-join) have the SMALL batch side marked broadcast, so the
    base index is ONE scan with no shuffle; est-Jaccard verification
    reads base signatures only for band-matched candidate rows.

    ``persist_index=True`` caches the ``index`` frame for the three
    base-side consumers (hash semi-join, band derivation, candidate
    sig join) — use it when ``index`` is NOT already a materialized
    table (e.g. built inline from raw docs); when the index comes from
    a committed table, leave it False — each consumer is then one
    cheap table scan and caching it would only evict hotter data.

    ``exact_index`` (optional) substitutes the relation scanned by the
    exact-hash path ONLY — the Bloom-prefilter hook
    (:mod:`srag_spark.operators.bloom`): when the caller has probed the
    batch's hashes against the index's bloom sidecar, passing the index
    pruned to the probe-hit buckets here is semantics-preserving (a
    bloom miss has no false negatives, so non-hit buckets cannot hold a
    matching hash) and turns the exact path's base scan into a read of
    only the hit buckets — zero base I/O for an all-new batch.  The
    band (near-dup) path still scans ``index``."""
    new_idx = build_dedup_index(new_docs, n_hashes, shingle_n, text_col, id_col)
    new_idx = persist(new_idx, persisted)
    if persist_index:
        index = persist(index, persisted)
    if max_band_df is not None:
        # skew guard (the ngram_jaccard df-cap, at band granularity): a
        # degenerate band value carried by millions of base docs (short
        # boilerplate collapses signatures) would explode the candidate
        # join; such bands are near-dup noise, and identical texts are
        # still caught by the exact hash path.  One extra bounded agg.
        rpb0 = n_hashes // bands
        hot = (
            _bands_from_sig(index.select("doc_id", "sig"), bands, rpb0)
            .groupBy("band_id", "band_val")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_band_df)
            .select("band_id", "band_val")
        )
    else:
        hot = None
    rpb = n_hashes // bands

    exact_base = (
        (exact_index if exact_index is not None else index).join(
            F.broadcast(new_idx.select("text_hash").distinct()), "text_hash"
        )
        .select("text_hash")
        .distinct()
        .withColumn("_e_base", F.lit(True))
    )

    new_bands = _bands_from_sig(new_idx, bands, rpb)
    base_bands = _bands_from_sig(
        index.select("doc_id", "sig"), bands, rpb
    ).withColumnRenamed("doc_id", "base_id")
    if hot is not None:
        base_bands = base_bands.join(
            F.broadcast(hot), ["band_id", "band_val"], "left_anti"
        )
    cand = (
        base_bands.join(F.broadcast(new_bands), ["band_id", "band_val"])
        .select("doc_id", "base_id")
        .distinct()
    )
    matches = F.size(
        F.filter(F.zip_with("sig", "bsig", lambda x, y: x == y), lambda eq: eq)
    )
    near_base = (
        cand.join(
            index.select(F.col("doc_id").alias("base_id"), F.col("sig").alias("bsig")),
            "base_id",
        )
        .join(F.broadcast(new_idx.select("doc_id", "sig")), "doc_id")
        .filter(
            F.round(matches.cast("double") / F.lit(float(n_hashes)), 6)
            >= F.lit(jaccard_tau)
        )
        .select("doc_id")
        .distinct()
        .withColumn("_n_base", F.lit(True))
    )

    w = Window.partitionBy("text_hash")
    exact_batch = F.col("doc_id") > F.min("doc_id").over(w)

    pairs = lsh_candidate_pairs(
        new_idx.filter(F.col("sig").isNotNull()).select("doc_id", "sig"),
        bands,
        rpb,
    )
    sa = new_idx.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig"))
    sb = new_idx.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("bsig"))
    near_batch = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.round(matches.cast("double") / F.lit(float(n_hashes)), 6)
            >= F.lit(jaccard_tau)
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_n_batch", F.lit(True))
    )

    out = (
        new_idx.join(F.broadcast(exact_base), "text_hash", "left")
        .join(F.broadcast(near_base), "doc_id", "left")
        .join(F.broadcast(near_batch), "doc_id", "left")
        .select(
            "doc_id",
            "text_hash",
            "sig",
            F.coalesce("_e_base", F.lit(False)).alias("dup_exact"),
            F.coalesce("_n_base", F.lit(False)).alias("dup_near"),
            (
                exact_batch | F.coalesce("_n_batch", F.lit(False))
            ).alias("dup_in_batch"),
        )
    )
    return out.withColumn(
        "keep",
        ~(F.col("dup_exact") | F.col("dup_near") | F.col("dup_in_batch")),
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over embedding clusters (Abbas et al. 2023)
# ---------------------------------------------------------------------------
@owns_ledger
def semdedup_flags(
    emb: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    dim: int | None = None,
    centroids: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persisted: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning within-cluster
    near-identical points.  Returns one row per valid input vector:
    ``(id, cell, csim_r, keep)``.

    The public recipe, exactly:

      1. assign every vector to its nearest centroid (``cell``);
      2. within a cluster, order points by similarity-to-centroid DESC
         (tie: id asc) — centroid-nearest points are the cluster's
         "prototypes" and survive first;
      3. a point is a semantic duplicate iff its cosine with ANY
         earlier-ranked point in the same cluster is ≥ ``threshold``
         (the reference implementation compares against all preceding
         points, kept or not — which is what makes the rule a pure
         pair predicate, no iteration); ``keep`` = not duplicate.

    Complements :func:`embedding_neardup_pairs`: LSH banding finds
    near-EXACT copies (recall driven by bit agreement), SemDeDup prunes
    semantic redundancy at lower thresholds where hyperplane bands lose
    recall — the cluster restricts the comparison set instead.

    Centroids: pass ``centroids=`` (e.g. ``similarity.
    train_centroids_kmeans`` — the documented trained-quantizer swap
    point shared with ``ivf_topk``) or let it default to the
    deterministic hash-seeded ``make_centroids`` (engine-agnostic; the
    DuckDB oracle rebuilds them from the same seed strings).

    Scale shape: assignment is one row-local codegen'd expression
    (n_clusters × dim literal dots); the only shuffle is the
    ``cell``-keyed self-join, O(Σ cell²) pairwise work — the SemDeDup
    design point: n_clusters grows with the corpus (the paper uses 50k
    clusters for LAION) to keep cells small and bounded; hot cells are
    AQE-skew-splittable since the join key is the cell id.  The ranked
    relation feeds both join sides plus the output, so it is persisted
    (register a ``persisted=[]`` list and ``planning.release`` it after the
    action)."""
    from srag_spark.operators.similarity import ivf_assign_struct, make_centroids

    if dim is None:
        raise ValueError("semdedup_flags requires an explicit dim= (vector length)")
    cents = centroids if centroids is not None else make_centroids(n_clusters, dim)
    v = F.col(vec_col)
    # malformed embeddings (null / wrong dim) would land in a null cell
    # and silently skew the self-join — drop them once, like the ANN ops.
    # spread_input: the assignment dots run on the scan's partitioning
    # (guide §2.5; no-op at scale); the (cell, csim) pair is ONE
    # assignment-struct evaluation per row (ivf_assign_struct, r6).
    valid = spread_input(emb).filter(v.isNotNull() & (F.size(v) == dim))
    assigned = valid.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        ivf_assign_struct(vec_col, cents).alias("_a"),
    ).select(
        "id",
        "v",
        F.col("_a.cell").alias("cell"),
        F.round(F.col("_a.csim"), 6).alias("csim_r"),
    )
    rank_w = Window.partitionBy("cell").orderBy(F.desc("csim_r"), F.asc("id"))
    ranked = persist(
        assigned.select("id", "v", "cell", "csim_r", F.row_number().over(rank_w).alias("rk")),
        persisted,
    )
    # r6 (guide §4.2, same device as embedding_neardup_pairs): the cell
    # self-join emitted O(Σ cell²) pairs each paying an interpreted
    # ~5.7 µs dot.  Each cell now scores its own pairs inside a numpy
    # kernel — BLAS selection with a safety margin below the threshold,
    # exact fold-order re-scoring of the (rare) candidate pairs, the
    # a.rk < b.rk ordering applied as the pair mask — and the rounded
    # ≥ threshold verdict is re-applied in Spark SQL, so the duplicate
    # set is identical to the join form's.
    import pandas as pd  # noqa: PLC0415

    from srag_spark.functions import pairkernels as pk

    id_field = ranked.schema["id"].dataType.simpleString()
    thr = float(threshold)
    dd = int(dim)

    def _cell_dups(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np  # noqa: PLC0415

        ok, M = pk.block_matrix(pdf, "v", dd)
        ids = pdf["id"].to_numpy()[ok]
        rks = pdf["rk"].to_numpy()[ok]
        if len(ids) < 2:
            return pd.DataFrame(
                {"id": ids[:0], "score": np.array([], dtype=np.float64)}
            )
        src, nbr = pk.threshold_candidate_pairs(
            M, thr, lambda rows, cols: rks[rows] < rks[cols]
        )
        return pd.DataFrame(
            {"id": ids[nbr], "score": pk.exact_pair_scores(M[src], M[nbr])}
        )

    dup = (
        ranked.groupBy("cell")
        .applyInPandas(_cell_dups, f"id {id_field}, score double")
        .filter(F.round(F.col("score"), 6) >= F.lit(thr))
        .select("id")
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return ranked.join(dup, "id", "left").select(
        F.col("id").alias(id_col),
        "cell",
        "csim_r",
        F.col("_dup").isNull().alias("keep"),
    )


def embedding_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_l, id_r, cos_r) pairs ACROSS two embedding sets with cosine
    ≥ threshold — the cross-corpus form of
    :func:`embedding_neardup_pairs` (same hyperplane-LSH banding, but
    left/right are different relations, so no ``id <`` ordering and
    every (l, r) combination is eligible).

    The driving use is EMBEDDING-BASED DECONTAMINATION: flag training
    docs semantically near an eval/benchmark item even when no 13-gram
    matches (paraphrased leaks, translated leaks) — the semantic
    complement of ``corpus.find_contamination``'s exact n-gram scrub;
    both checks run in production evals (e.g. the contamination
    analyses in public LLM reports).  Filter the training corpus with
    an anti-join on ``id_l``.

    Scale shape: identical to the self-join form — band equi-join,
    never a cross product; the (typically tiny) eval side's banded
    codes broadcast, so at corpus scale this is one map-side join plus
    the verify joins.  Same recall caveat near the threshold (raise
    n_planes/bands); exact copies always collide in every band."""
    from srag_spark.operators.similarity import (
        band_width, hyperplane_bucket_col, make_hyperplanes,
    )

    if dim is None:
        raise ValueError("embedding_cross_pairs requires an explicit dim=")

    width = band_width(n_planes, bands)
    planes = make_hyperplanes(n_planes, dim)

    # r6 restructure (see embedding_neardup_pairs): vectors ride with the
    # banded codes, the cosine + threshold filter run inside the (map-
    # side, right-broadcast) band join's output, and the pair dedup runs
    # over only the surviving pairs — the candidate relation is never
    # shuffled.  Same candidate set, same scores, same output.
    def _banded(df, side):
        coded = df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(vec_col).alias(f"v{side}"),
            hyperplane_bucket_col(vec_col, planes).alias("code"),
        )
        return coded.select(
            f"id_{side}",
            f"v{side}",
            F.posexplode(
                F.array(
                    *[F.substring("code", b * width + 1, width) for b in range(bands)]
                )
            ).alias("band_id", "block"),
        )

    # the broadcast join is map-side, so its parallelism is the LEFT
    # scan's partition count — spread the left input BEFORE the bucket
    # codes are computed (a repartition after them would leave the
    # n_planes fold-dots on the serialized scan side; guide §2.5)
    return (
        _banded(spread_input(left), "l")
        .join(F.broadcast(_banded(right, "r")), ["band_id", "block"])
        .select(
            "id_l",
            "id_r",
            F.round(F.expr(dot_sql("vl", "vr", dim)), 6).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= F.lit(float(threshold)))
        .distinct()
    )


def host_boilerplate_flags(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    frac_permille: int = 500,
) -> DataFrame:
    """(doc_id, host, pos, line, keep) — per-HOST template-line verdicts,
    the site-boilerplate complement of :func:`line_dedup_flags`: a line
    recurring across a large fraction of ONE SITE's pages is template
    chrome (nav, cookie banner, footer) even when it is globally rare,
    and C4's global keep-first rule would still keep its first copy on
    every site.  The CCNet/DataTrove per-shard rationale, keyed on the
    host explicitly.

    Frozen spec (mirrored by the DuckDB oracle):
      * lines/pos = the line_dedup_flags convention (split ``\\.\\s+``,
        trim, drop empties, 0-based pos);
      * a line's host support = the number of DISTINCT docs of that
        host containing it (within-doc repeats count once), compared
        against the host's distinct-doc census;
      * boilerplate iff support >= ``min_docs`` AND
        ``support * 1000 >= frac_permille * host_docs`` — the fraction
        threshold compared in INTEGER permille arithmetic, so the
        boundary is engine-exact (a float ratio could flip a
        boundary-sitting line across engines);
      * ``keep`` = NOT boilerplate — ALL copies of template chrome
        drop (unlike global line dedup's keep-first: chrome carries no
        unique content worth one surviving copy).

    Plan shape at 100 TB: one line explode; support via the two-phase
    exact-distinct groupBy on (host, line-hash) — map-side combinable,
    never a per-host window; the host census is a
    tiny-key groupBy joined onto the support relation on the host
    equi-key (AQE picks broadcast when the census fits — it is bounded
    by distinct hosts, which at full web scale is ~10^8 rows, so the
    hint is deliberately NOT forced); verdicts join back to the line stream on the
    (host, hash) equi-key — AQE-splittable under hot-line skew.  No
    window over a host's full line set anywhere.
    """
    lines = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(host_col).alias("host"),
            F.posexplode(F.split(F.col(text_col), r"\.\s+")).alias(
                "pos", "raw"
            ),
        )
        .select(
            "doc_id",
            "host",
            "pos",
            F.trim("raw").alias("line"),
        )
        .filter(F.length("line") > 0)
        .withColumn("lh", F.md5(norm_text_col(F.col("line"))))
    )
    support = (
        lines.select("host", "lh", "doc_id")
        .distinct()
        .groupBy("host", "lh")
        .agg(F.count(F.lit(1)).alias("n_support"))
    )
    census = (
        docs.select(F.col(host_col).alias("host"), F.col(id_col))
        .distinct()
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_host_docs"))
    )
    verdict = support.join(census, "host").select(
        "host",
        "lh",
        (
            (F.col("n_support") >= int(min_docs))
            & (
                F.col("n_support") * 1000
                >= int(frac_permille) * F.col("n_host_docs")
            )
        ).alias("_bp"),
    )
    return (
        lines.join(verdict, ["host", "lh"], "left")
        .select(
            "doc_id",
            "host",
            "pos",
            "line",
            (~F.coalesce(F.col("_bp"), F.lit(False))).alias("keep"),
        )
    )
