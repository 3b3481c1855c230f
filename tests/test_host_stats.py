"""host_of / host_stats: per-host census semantics."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from srag_spark.operators.links import host_of, host_stats


def test_host_of_branches(spark):
    rows = [
        ("https://Ex.Test/p", "ex.test"),
        ("http://a.test:8080/x?q=1", "a.test:8080"),
        ("mailto:x@y.test", None),       # non-hierarchical → no host
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(u,) for u, _ in rows], "url string"
    ).withColumn("host", host_of(F.col("url")))
    got = [r["host"] for r in df.collect()]
    assert got == [w for _, w in rows]


def test_host_stats_census(spark):
    rows = [
        ("https://s.test/a", False, 1.0),
        ("https://s.test/a", True, 2.0),   # same path, dup doc
        ("https://s.test/b", False, 6.0),
        ("https://t.test/only", True, 10.0),
        ("mailto:x@y", False, 99.0),       # hostless → dropped
    ]
    df = spark.createDataFrame(
        rows, "url string, noindex boolean, q double"
    )
    out = {
        r["host"]: (r["n_docs"], r["n_paths"], r["n_noindex"],
                    r["metric_mean"])
        for r in host_stats(
            df, noindex_col="noindex", metric_col="q"
        ).collect()
    }
    assert out == {
        "s.test": (3, 2, 1, 3.0),
        "t.test": (1, 1, 1, 10.0),
    }


def test_host_stats_case_variant_hosts_one_path(spark):
    # https://A.test/p and https://a.test/p are ONE resource: they land
    # in one (lowercased) host group and must count as one path — the
    # raw-URL countDistinct counted two (ADVICE r5).  A case-variant
    # PATH stays two paths (paths are case-sensitive).
    df = spark.createDataFrame(
        [
            ("https://A.test/p",),
            ("https://a.test/p",),
            ("https://a.test/P",),
        ],
        "url string",
    )
    out = host_stats(df).collect()
    assert len(out) == 1
    assert out[0]["host"] == "a.test"
    assert out[0]["n_docs"] == 3
    assert out[0]["n_paths"] == 2


def test_host_stats_case_variant_scheme_one_path(spark):
    # the scheme is case-insensitive too (RFC 3986 §3.1): HTTP://a.test/p
    # and http://a.test/p share the host group and are one path
    df = spark.createDataFrame(
        [("HTTP://a.test/p",), ("http://a.test/p",)], "url string"
    )
    out = host_stats(df).collect()
    assert len(out) == 1
    assert out[0]["host"] == "a.test"
    assert out[0]["n_docs"] == 2
    assert out[0]["n_paths"] == 1


def test_host_stats_minimal_columns(spark):
    df = spark.createDataFrame(
        [("https://s.test/a",), ("https://s.test/b",)], "url string"
    )
    out = host_stats(df).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["n_paths"] == 2
    assert set(out[0].asDict()) == {"host", "n_docs", "n_paths"}
