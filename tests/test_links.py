"""extract_links: Spark operator ≡ frozen golden spec, edge cases."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from srag_spark.golden import extract_links as golden_links
from srag_spark.operators.links import extract_links, link_edges

CASES = [
    # basic + multiple links
    '<p><a href="https://a.test/x">first link</a> text '
    '<a href="/rel/path">second</a></p>',
    # no-href and empty-href anchors consume an index but emit nothing
    '<a name="top">skip</a><a href="">skip</a><a href="/ok">kept</a>',
    # nofollow detection, attrs before and after href
    '<a rel="nofollow" href="/n1">n1</a>'
    '<a href="/n2" rel="external nofollow noopener">n2</a>'
    '<a rel="author" href="/f">follow</a>',
    # nested tags + entities inside anchor text
    '<a href="/e"><b>Bold</b> &amp; <i>ital</i>&nbsp;end</a>',
    # commented-out and scripted anchors are not links
    '<!-- <a href="/c">ghost</a> --><script>x="<a href=\'/s\'>y</a>"'
    '</script><a href="/live">live</a>',
    # uppercase tag/attr, multiline inner
    '<A HREF="/up">line1\nline2</A>',
    # single-quoted href is NOT a double-quoted href attribute → skipped
    "<a href='/sq'>skip</a><a href=\"/dq\">kept</a>",
    # non-ASCII whitespace (NBSP, ideographic space) in anchor text:
    # golden's tokenize_ws (Python str.split) is Unicode-aware, so the
    # operator's split must be too (ADVICE r5)
    '<a href="/u">foo\xa0bar　baz</a>',
    # unterminated rel attribute: golden requires the closing quote, so
    # this is NOT nofollow (ADVICE r5)
    '<a href="/x" rel="nofollow>unterminated</a>',
    # empty / tag-free payloads
    "",
    "no anchors at all",
]


def test_operator_matches_golden_on_cases(spark):
    rows = [(str(i), h) for i, h in enumerate(CASES)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["doc_id"], r["anchor_index"], r["href"], r["anchor_text"],
         r["nofollow"])
        for r in extract_links(df).collect()
    }
    want = {
        (str(i), idx, href, text, nf)
        for i, h in enumerate(CASES)
        for (idx, href, text, nf) in golden_links(h)
    }
    assert got == want
    # spot-pin the spec facts the set equality hides
    assert ("1", 2, "/ok", "kept", False) in want  # index stable under skips
    assert ("2", 0, "/n1", "n1", True) in want
    assert ("2", 1, "/n2", "n2", True) in want
    assert ("2", 2, "/f", "follow", False) in want
    assert ("3", 0, "/e", "Bold & ital end", False) in want
    assert ("4", 0, "/live", "live", False) in want  # ghosts removed
    assert not any(k[0] == "6" and k[2] == "/sq" for k in want)


def test_anchor_text_splits_on_information_separators(spark):
    """Python str.split() (the golden spec) treats U+001C-U+001F as
    whitespace; Java's Unicode \\s does not, so the operator lists them."""
    html = '<a href="/s">a\x1fb\x1c c\x1d\x1e</a>'
    want = [("/s", "a b c")]
    assert [(h, t) for _, h, t, _ in golden_links(html)] == want
    df = spark.createDataFrame([("d", html)], "doc_id string, text string")
    got = [(r["href"], r["anchor_text"]) for r in extract_links(df).collect()]
    assert got == want


def test_drop_nofollow_and_edges(spark):
    html = (
        '<a href="doc://7">x</a><a rel="nofollow" href="doc://8">y</a>'
        '<a href="doc://7">again</a><a href="mailto:z">not a doc</a>'
    )
    df = spark.createDataFrame([("1", html)], "doc_id string, text string")
    links = extract_links(df, drop_nofollow=True)
    assert {r["href"] for r in links.collect()} == {"doc://7", "mailto:z"}

    from pyspark.sql import functions as F

    edges = link_edges(
        links,
        src_col=F.col("doc_id"),
        dst_col=F.regexp_extract("href", r"^doc://([0-9]+)$", 1),
    ).collect()
    # dedup of the repeated doc://7 link, mailto dropped (empty dst)
    assert {(r["src"], r["dst"]) for r in edges} == {("1", "7")}


URL_CASES = [
    # (href, base_scheme, base_host)
    ("https://UP.Test:443/Path?q=1", "http", "base.test"),
    ("http://a.test:80/x", "http", "base.test"),
    ("http://a.test:8080/x", "http", "base.test"),
    ("//cdn.Test/lib.js", "https", "base.test"),
    ("/rooted/path", "https", "Base.TEST"),
    ("relative/page", "http", "base.test"),
    ("mailto:someone@a.test", "http", "base.test"),
    ("javascript:void(0)", "http", "base.test"),
    ("#frag-only", "http", "base.test"),
    ("", "http", "base.test"),
    ("/path#frag", "https", "base.test"),
    ("https://a.test?", "http", "base.test"),
    ("https://a.test", "http", "base.test"),
    ("HTTPS://A.Test:443", "http", "base.test"),
    (None, "http", "base.test"),
]


def test_resolve_href_matches_golden(spark):
    from srag_spark.golden import resolve_href
    from srag_spark.operators.links import resolve_href_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(str(i), h, s, b) for i, (h, s, b) in enumerate(URL_CASES)],
        "i string, href string, scheme string, host string",
    )
    got = {
        r["i"]: r["u"]
        for r in df.select(
            "i",
            resolve_href_col(
                F.col("href"), F.col("scheme"), F.col("host")
            ).alias("u"),
        ).collect()
    }
    for i, (h, s, b) in enumerate(URL_CASES):
        want = None if h is None else resolve_href(h, s, b)
        assert got[str(i)] == want, (h, got[str(i)], want)
    # spot-pin the spec facts the equality hides
    assert got["0"] == "https://up.test/Path?q=1"   # :443 + case, path kept
    assert got["1"] == "http://a.test/x"            # :80 stripped
    assert got["2"] == "http://a.test:8080/x"       # non-default port kept
    assert got["3"] == "https://cdn.test/lib.js"    # protocol-relative
    assert got["4"] == "https://base.test/rooted/path"  # host lowercased
    assert got["5"] == "http://base.test/relative/page"
    assert got["6"] == "mailto:someone@a.test"      # non-hierarchical as-is
    assert got["8"] is None and got["9"] is None    # fragment-only / empty
    assert got["10"] == "https://base.test/path"    # fragment stripped
    assert got["11"] == "https://a.test/"           # bare ? dropped, / path
    assert got["12"] == "https://a.test/"           # empty path -> /
    assert got["13"] == "https://a.test/"           # scheme lowered too
    assert got["14"] is None


def test_anchor_text_index_cap_and_order(spark):
    from srag_spark.operators.links import anchor_text_index

    rows = [
        # hub target: 7 inbound from docs 0..6 (strings sort "0".."6")
        *[(str(i), 0, "hub", f"t{i}") for i in range(7)],
        # second link from doc 0 to hub — (src, idx) order within a src
        ("0", 3, "hub", "t0-late"),
        # quiet target
        ("9", 1, "rare", "only"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, anchor_index int, url string, anchor_text string"
    )
    out = {r["url"]: r for r in anchor_text_index(df, max_texts=5).collect()}
    assert out["hub"]["n_inbound"] == 8          # census counts ALL inbound
    assert out["hub"]["anchor_texts"] == [
        "t0", "t0-late", "t1", "t2", "t3"        # (src, idx) order, capped
    ]
    assert out["rare"]["n_inbound"] == 1
    assert out["rare"]["anchor_texts"] == ["only"]
