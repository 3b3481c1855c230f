"""Hyperlink extraction from HTML payloads — the link-graph miner.

The web-scale complement of the P11 block scorer: the same anchor
elements the boilerplate heuristic counts for link density, mined as
``(doc, anchor_index, href, anchor_text, nofollow)`` edges — the raw
material of host/page link graphs and the PageRank-class quality
signals web curation derives from them (the public CommonCrawl
host-graph recipe).  The reference service stores documents but builds
no link graph; this operator has no reference counterpart and follows
the frozen spec in :func:`srag_spark.golden.extract_links` (the
pure-Python twin, pinned equal by tests/test_links.py).

Scale shape: ALL native column expressions — two ``regexp_extract_all``
passes over the same anchor pattern (group 1 = opening-tag attributes,
group 2 = inner HTML, guaranteed length-aligned), ``arrays_zip`` +
``posexplode`` for the stable anchor ordinal, a fixed 7-step entity
replace chain, and whitespace normalization.  Zero Python, row-local,
zero shuffles: at 100 TB this runs at scan speed on whatever
partitioning the source provides, and whole-stage codegen fuses it into
the scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# one pattern, two capture groups — extracting each group with the SAME
# pattern guarantees the two arrays align element-for-element
_ANCHOR_PATTERN = r"(?is)<a\b([^>]*)>(.*?)</a\s*>"
_COMMENT_PATTERN = r"(?s)<!--.*?-->"
_SCRIPT_STYLE_PATTERN = r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>"

# golden._ENTITIES, same order — &amp; first, so double-escaped entities
# resolve one level per pass exactly like the golden chain
_ENTITY_CHAIN = (
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
)


def _unescape_col(col):
    for ent, ch in _ENTITY_CHAIN:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def _normalize_ws(col):
    # (?U) = Java UNICODE_CHARACTER_CLASS: \s matches Unicode whitespace
    # (NBSP, U+3000, ...), matching the frozen golden spec's Python
    # str.split() semantics — Java's default ASCII-only \s diverged on
    # 'foo\xa0bar' (ADVICE r5).  str.split() also splits on the
    # separators U+001C-U+001F, which no Java \s class matches, so they
    # are listed explicitly.  ASCII-whitespace inputs are unchanged.
    return F.array_join(
        F.array_remove(F.split(col, r"(?U)[\s\x1c-\x1f]+"), ""), " "
    )


def extract_links(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "text",
    drop_nofollow: bool = False,
) -> DataFrame:
    """``(id, anchor_index, href, anchor_text, nofollow)`` per hyperlink.

    Frozen semantics (golden.extract_links): comments and script/style
    elements are removed first (a commented-out anchor is not a link);
    every ``<a ...>...</a>`` element gets a 0-based ``anchor_index``
    ordinal — elements without a non-empty double-quoted ``href``
    attribute consume an index but emit no row, so the ordinal is stable
    under filtering; ``nofollow`` is true iff the opening tag's
    double-quoted ``rel`` value contains ``nofollow``; ``anchor_text``
    is the inner HTML tag-stripped, entity-unescaped, whitespace-
    normalized.  ``drop_nofollow=True`` additionally drops rel=nofollow
    links (what a link-graph build feeds PageRank).
    """
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(html_col), _COMMENT_PATTERN, " "),
        _SCRIPT_STYLE_PATTERN,
        " ",
    )
    pat = F.lit(_ANCHOR_PATTERN)
    pairs = F.arrays_zip(
        F.regexp_extract_all(cleaned, pat, 1).alias("attrs"),
        F.regexp_extract_all(cleaned, pat, 2).alias("inner"),
    )
    exploded = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(pairs).alias("anchor_index", "a"),
    ).select(
        "id",
        "anchor_index",
        F.regexp_extract(F.col("a.attrs"), r'(?i)href="([^"]*)"', 1).alias(
            "href"
        ),
        _normalize_ws(
            _unescape_col(
                F.regexp_replace(F.col("a.inner"), r"<[^>]+>", " ")
            )
        ).alias("anchor_text"),
        # closing-quote tail matches golden's _NOFOLLOW_RE: an
        # unterminated rel attribute (rel="nofollow with no closing
        # quote) is NOT a nofollow marker (ADVICE r5)
        F.col("a.attrs").rlike(r'(?i)rel="[^"]*nofollow[^"]*"').alias("nofollow"),
    )
    out = exploded.filter(F.col("href") != "")
    if drop_nofollow:
        out = out.filter(~F.col("nofollow"))
    return out.withColumnRenamed("id", id_col)


_URL_PARTS = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$"


def resolve_href_col(href_col, base_scheme_col, base_host_col):
    """Native-expression twin of :func:`srag_spark.golden.resolve_href`
    (the frozen bounded-RFC-3986 spec): fragment stripped, scheme-ful
    hrefs as-is, protocol-relative on the base scheme, root-relative and
    bare-relative against the base authority root; then canonicalized —
    scheme/host lowercased, default port stripped, empty path → ``/``,
    bare trailing ``?`` dropped.  NULL in → NULL out; an href that is
    only a fragment resolves to NULL.  Pure column expression: zero
    Python, row-local — composes with :func:`extract_links` +
    :func:`link_edges` into a host/page graph build that runs at scan
    speed."""
    h = F.split(href_col, "#", 2)[0]
    url = (
        F.when(h == "", F.lit(None).cast("string"))
        .when(
            h.startswith("//"), F.concat(base_scheme_col, F.lit(":"), h)
        )
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), h)
        .when(
            h.startswith("/"),
            F.concat(base_scheme_col, F.lit("://"), base_host_col, h),
        )
        .otherwise(
            F.concat(
                base_scheme_col, F.lit("://"), base_host_col, F.lit("/"), h
            )
        )
    )
    scheme = F.lower(F.regexp_extract(url, _URL_PARTS, 1))
    host = F.lower(F.regexp_extract(url, _URL_PARTS, 2))
    rest = F.regexp_extract(url, _URL_PARTS, 3)
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    rest = F.regexp_replace(rest, r"\?$", "")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        url.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"),
        F.concat(scheme, F.lit("://"), host, rest),
    ).otherwise(url)


def link_edges(
    links: DataFrame,
    src_col,
    dst_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct ``(src, dst)`` edge relation from an extract_links
    output: ``src_col``/``dst_col`` are column expressions deriving the
    graph's node key from the linking document and the href (page ids,
    hosts, ...).  Null/empty dst rows (hrefs that don't parse into a
    node key) are dropped; self-loops kept — PageRank handles them.
    One distinct (map-side-combinable) over the linear link stream."""
    return (
        links.select(src_col.alias("src"), dst_col.alias("dst"))
        .filter(
            F.col("dst").isNotNull() & (F.col("dst").cast("string") != "")
        )
        .distinct()
    )


def anchor_text_index(
    links: DataFrame,
    url_col: str = "url",
    src_col: str = "doc_id",
    idx_col: str = "anchor_index",
    text_col: str = "anchor_text",
    max_texts: int = 64,
) -> DataFrame:
    """Inbound anchor-text index per link target — the classic IR signal
    (a page is well described by the anchor texts of links POINTING AT
    it; search engines have indexed anchor text onto targets since
    Brin & Page 1998 §2.2).  Returns one row per distinct ``url_col``::

        (url, n_inbound, anchor_texts array<string>)

    ``n_inbound`` counts ALL inbound links; ``anchor_texts`` carries the
    first ``max_texts`` texts in deterministic (src, anchor_index)
    order, so a popular target's row stays bounded — the full inbound
    set of a hub URL can be millions of rows, and an unbounded
    collect_list is the canonical skew OOM.  Plan shape: the cap is a
    rank predicate (rk <= max_texts) under a (src, idx)-ordered window,
    which Spark rewrites to WindowGroupLimit — per-partition partial
    top-k BEFORE the shuffle, so a mega-URL never funnels its full
    inbound set through one task; the census is a separate map-side-
    combinable count.  Output is a pure function of the link set —
    engine- and partition-independent."""
    w = Window.partitionBy(url_col).orderBy(src_col, idx_col)
    capped = (
        links.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(max_texts))
        .groupBy(url_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(src_col, idx_col, text_col))
            ).alias("_t")
        )
        .select(
            url_col,
            F.transform("_t", lambda s: s[text_col]).alias("anchor_texts"),
        )
    )
    counts = links.groupBy(url_col).agg(
        F.count(F.lit(1)).alias("n_inbound")
    )
    return counts.join(capped, url_col)


_META_TAG_PATTERN = r"(?is)<meta\b([^>]*)>"
_LINK_TAG_PATTERN = r"(?is)<link\b([^>]*)>"
_NAME_ATTR = r'(?i)name="([^"]*)"'
_CONTENT_ATTR = r'(?i)content="([^"]*)"'
_REL_ATTR = r'(?i)rel="([^"]*)"'
_HREF_ATTR = r'(?i)href="([^"]*)"'


def extract_meta(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "text",
) -> DataFrame:
    """Head-metadata extraction — ``(id, title, description, canonical,
    robots_noindex)`` per document, the curation-relevant head signals:
    title/description feed quality scoring and snippet indexes,
    ``rel=canonical`` is the publisher-declared duplicate key (canonical
    -URL grouping runs BEFORE content dedup in web curation pipelines),
    and ``robots noindex`` is the publisher opt-out a compliant corpus
    build honors.  No reference counterpart (the service stores
    documents; it mines no head metadata); frozen spec in
    :func:`srag_spark.golden.extract_meta`, pinned equal by
    tests/test_meta.py.

    Frozen semantics: comments then script/style removed; ``title`` =
    first ``<title>`` inner HTML tag-stripped/entity-unescaped/ws-
    normalized (NULL when absent or empty); ``description`` = content of
    the first ``<meta>`` whose double-quoted ``name`` equals
    ``description`` case-insensitively AND whose content is non-empty,
    unescaped + ws-normalized; ``canonical`` = the raw href of the
    FIRST ``<link>`` whose ``rel`` equals ``canonical`` (NULL when that
    tag lacks a non-empty href — later canonical tags do not rescue it);
    ``robots_noindex`` true iff ANY ``name="robots"`` meta content
    contains ``noindex``.  Attribute order within a tag is free; only
    double-quoted attributes participate (the extract_links convention).

    Scale shape: all native column expressions — ``regexp_extract`` for
    the title, ``regexp_extract_all`` + array HOFs (filter / exists /
    element_at) for the meta and link tags, the shared entity chain.
    Zero Python, zero shuffles, zero explodes: one output row per input
    row at scan speed, codegen-fused into the scan stage at 100 TB.
    """
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(html_col), _COMMENT_PATTERN, " "),
        _SCRIPT_STYLE_PATTERN,
        " ",
    )
    title = _normalize_ws(
        _unescape_col(
            F.regexp_replace(
                F.regexp_extract(
                    cleaned, r"(?is)<title\b[^>]*>(.*?)</title\s*>", 1
                ),
                r"<[^>]+>",
                " ",
            )
        )
    )
    metas = F.regexp_extract_all(cleaned, F.lit(_META_TAG_PATTERN), 1)

    def _name(a):
        return F.lower(F.regexp_extract(a, _NAME_ATTR, 1))

    def _content(a):
        return F.regexp_extract(a, _CONTENT_ATTR, 1)

    desc_raw = F.try_element_at(
        F.filter(
            metas,
            lambda a: (_name(a) == "description") & (_content(a) != ""),
        ),
        F.lit(1),
    )
    description = _normalize_ws(_unescape_col(_content(desc_raw)))
    noindex = F.coalesce(
        F.exists(
            metas,
            lambda a: (_name(a) == "robots")
            & F.lower(_content(a)).contains("noindex"),
        ),
        F.lit(False),
    )
    can_tag = F.try_element_at(
        F.filter(
            F.regexp_extract_all(cleaned, F.lit(_LINK_TAG_PATTERN), 1),
            lambda a: F.lower(F.regexp_extract(a, _REL_ATTR, 1))
            == "canonical",
        ),
        F.lit(1),
    )
    can_href = F.regexp_extract(can_tag, _HREF_ATTR, 1)
    return docs.select(
        F.col(id_col),
        F.when(title == "", F.lit(None).cast("string"))
        .otherwise(title)
        .alias("title"),
        F.when(description == "", F.lit(None).cast("string"))
        .otherwise(description)
        .alias("description"),
        F.when(can_href == "", F.lit(None).cast("string"))
        .otherwise(can_href)
        .alias("canonical"),
        noindex.alias("robots_noindex"),
    )


def canonical_dedup(
    meta: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "canonical",
    order_col: str | None = None,
) -> DataFrame:
    """Canonical-URL dedup verdicts — the curation step ``rel=canonical``
    exists for: crawls see the same article under tracking-parameter /
    mirror / pagination URLs, and the publisher-declared canonical
    groups them BEFORE any content-similarity pass (cheaper and exact
    where declared).  One row per input row::

        (id, canonical_group, canonical_keep)

    ``canonical_group`` is ``url_col`` where declared (non-null,
    non-empty) else NULL — undeclared docs form no group and are always
    kept (a NULL canonical asserts nothing; content dedup handles
    them).  Within a group the single row minimizing
    ``(order_col, id)`` (``id`` alone when order_col is None) keeps;
    the deterministic keep-first convention of dedup.exact_dedup.

    Scale shape: the dedup_lines_agg recipe — one map-side-combinable
    groupBy-min over declared rows + one co-keyed join-back, no window
    over the group (a mega-group — a site canonicalizing millions of
    pages to one URL — never funnels through one task's sort).
    """
    key = F.when(
        F.col(url_col).isNotNull() & (F.col(url_col) != ""), F.col(url_col)
    )
    ords = [order_col, id_col] if order_col else [id_col]
    rows = meta.withColumn("canonical_group", key)
    declared = rows.filter(F.col("canonical_group").isNotNull())
    winners = declared.groupBy("canonical_group").agg(
        F.min(F.struct(*ords)).alias("_w")
    )
    return (
        rows.join(winners, "canonical_group", "left")
        .withColumn(
            "canonical_keep",
            F.col("_w").isNull()
            | (F.struct(*ords) == F.col("_w")),
        )
        .drop("_w")
    )


def host_of(url_col):
    """Lowercased authority of a ``scheme://host[/...]`` URL (port kept —
    canonicalize first via :func:`resolve_href_col` to strip default
    ports); NULL for non-hierarchical or NULL URLs.  Pure column
    expression."""
    h = F.lower(F.regexp_extract(url_col, _URL_PARTS, 2))
    return F.when(h != "", h)


def host_stats(
    docs: DataFrame,
    url_col: str = "url",
    noindex_col: str | None = None,
    metric_col: str | None = None,
    metric_decimals: int = 6,
) -> DataFrame:
    """Per-host census — the site-level prior web curation keys on
    (RefinedWeb's URL filtering and C4's blocklists act on domains;
    per-host document mass, opt-out fraction and mean quality decide
    whether a whole site is worth crawling/keeping).  One row per
    distinct host of ``url_col``::

        (host, n_docs, n_paths[, n_noindex][, metric_mean])

    ``n_paths`` counts distinct full URLs under the host (a 1-path
    host with a million docs is a crawler trap signal); ``noindex_col``
    (boolean) adds the publisher opt-out census; ``metric_col`` adds a
    mean computed in DECIMAL(28,10) — exact, summation-order-independent
    — then rounded to ``metric_decimals`` as a double, so the figure is
    a pure function of the value multiset (a float sum's order
    dependence could flip the last bit across engines/partitionings).
    Rows whose URL yields no host are dropped (un-hosted docs have no
    site).  One map-side-combinable groupBy over the linear doc
    stream; output bounded by the distinct-host count.
    """
    rows = docs.withColumn("host", host_of(F.col(url_col))).filter(
        F.col("host").isNotNull()
    )
    # n_paths counts URLs with scheme and AUTHORITY lowercased (paths
    # stay case-sensitive): case variants of one resource land in one
    # host group, so they must not count as two paths (ADVICE r5).  The
    # group key is the lowercased host already; scheme and authority of
    # the counted URL are normalized to match, as in resolve_href_col.
    canon_url = F.concat(
        F.lower(F.regexp_extract(F.col(url_col), _URL_PARTS, 1)),
        F.lit("://"),
        F.lower(F.regexp_extract(F.col(url_col), _URL_PARTS, 2)),
        F.regexp_extract(F.col(url_col), _URL_PARTS, 3),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(canon_url).alias("n_paths"),
    ]
    if noindex_col:
        aggs.append(
            F.sum(F.col(noindex_col).cast("int")).alias("n_noindex")
        )
    if metric_col:
        dec = F.col(metric_col).cast("decimal(28,10)")
        aggs.append(
            F.round(
                (F.sum(dec) / F.count(dec)).cast("double"), metric_decimals
            ).alias("metric_mean")
        )
    return rows.groupBy("host").agg(*aggs)


_PROP_ATTR = r'(?i)property="([^"]*)"'
_TIME_DATETIME = r'(?is)<time\b[^>]*\bdatetime="([^"]*)"'
_DATE_META_KEYS = (
    "article:published_time",
    "datepublished",
    "date",
    "dc.date.issued",
)
# leading YYYY-MM-DD with the golden lexical bounds baked in:
# (19|20)\d{2} == years 1900-2099, 0[1-9]|1[0-2] == months, 01-31 days
_VALID_DATE_PREFIX = r"^((?:19|20)\d{2}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01]))"
_URL_DATE = r"/((?:19|20)\d{2})/(\d{2})(?:/(\d{2}))?(?:/|$)"


def extract_pubdate(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "text",
    url_col: str | None = None,
) -> DataFrame:
    """``(id, pub_date, date_source)`` — publication-date extraction,
    the freshness signal (trafilatura-class, the frozen bounded spec in
    :func:`srag_spark.golden.extract_pubdate`, pinned equal by
    tests/test_pubdate.py): priority meta (article:published_time /
    datePublished / date / dc.date.issued via name= or property=, the
    FIRST keyed tag with non-empty content deciding) → first
    ``<time datetime=>`` → URL ``/YYYY/MM[/DD]/`` path segment; dates
    validated by LEXICAL year/month/day bounds, invalid candidates
    falling through to the next source.  All native regexp + array-HOF
    expressions: zero Python, zero shuffles, one output row per input
    row at scan speed.
    """
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(html_col), _COMMENT_PATTERN, " "),
        _SCRIPT_STYLE_PATTERN,
        " ",
    )
    metas = F.regexp_extract_all(cleaned, F.lit(_META_TAG_PATTERN), 1)

    def _keyed(a):
        return (
            F.lower(F.regexp_extract(a, _NAME_ATTR, 1)).isin(*_DATE_META_KEYS)
            | F.lower(F.regexp_extract(a, _PROP_ATTR, 1)).isin(
                *_DATE_META_KEYS
            )
        ) & (F.regexp_extract(a, _CONTENT_ATTR, 1) != "")

    meta_val = F.regexp_extract(
        F.try_element_at(F.filter(metas, _keyed), F.lit(1)),
        _CONTENT_ATTR,
        1,
    )
    meta_date = F.nullif(
        F.regexp_extract(meta_val, _VALID_DATE_PREFIX, 1), F.lit("")
    )
    time_date = F.nullif(
        F.regexp_extract(
            F.regexp_extract(cleaned, _TIME_DATETIME, 1),
            _VALID_DATE_PREFIX,
            1,
        ),
        F.lit(""),
    )
    if url_col is not None:
        u = F.col(url_col)
        y = F.regexp_extract(u, _URL_DATE, 1)
        mo = F.regexp_extract(u, _URL_DATE, 2)
        d = F.when(
            F.regexp_extract(u, _URL_DATE, 3) == "", F.lit("01")
        ).otherwise(F.regexp_extract(u, _URL_DATE, 3))
        url_date = F.when(
            (y != "")
            & mo.rlike(r"^(0[1-9]|1[0-2])$")
            & d.rlike(r"^(0[1-9]|[12][0-9]|3[01])$"),
            F.concat_ws("-", y, mo, d),
        )
    else:
        url_date = F.lit(None).cast("string")
    return docs.select(
        F.col(id_col),
        F.coalesce(meta_date, time_date, url_date).alias("pub_date"),
        F.when(meta_date.isNotNull(), F.lit("meta"))
        .when(time_date.isNotNull(), F.lit("time"))
        .when(url_date.isNotNull(), F.lit("url"))
        .alias("date_source"),
    )
