"""Z-order compaction: Morton-code correctness, manifest lifecycle, and
the clustering property itself — contiguous row runs of a z-ordered file
span a small min/max rectangle in EVERY z-dimension, where a
lexicographic sort serves only its leading column (Iceberg
``zorder(a, b)`` / Delta ``OPTIMIZE ... ZORDER BY``)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from srag_spark.functions import zorder as Z
from srag_spark.sources.tables import (
    read_manifest,
    read_table,
    rewrite_table,
    scan_range,
    table_history,
    upsert_by_key,
)


def _morton2(a: int, b: int, bits: int = 8) -> int:
    """Reference bit interleave: column 0's bit i at 2i+1, column 1's at 2i."""
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zvalue_matches_reference_morton(spark):
    # boundaries chosen so value v bins to exactly v (edges at 1..15 for
    # values 0..15: bin = #edges <= v = v)
    edges = [float(i) for i in range(1, 16)]
    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = (
        df.withColumn(
            "z",
            Z.zvalue_col({"a": edges, "b": edges}, {"a": "int", "b": "int"}, bits=4),
        )
        .collect()
    )
    for r in got:
        assert r["z"] == _morton2(r["a"], r["b"], bits=4), (r["a"], r["b"])


def test_zvalue_null_bins_to_zero(spark):
    df = spark.createDataFrame([(None, 7)], "a int, b int")
    z = df.select(
        Z.zvalue_col(
            {"a": [1.0, 2.0], "b": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]},
            {"a": "int", "b": "int"},
            bits=3,
        ).alias("z")
    ).collect()[0]["z"]
    assert z == _morton2(0, 7, bits=3)


def test_boundaries_reject_strings_and_unknown(spark):
    df = spark.createDataFrame([(1, "x")], "a int, s string")
    with pytest.raises(ValueError, match="unsupported type"):
        Z.compute_boundaries(df, ["s"])
    with pytest.raises(ValueError, match="not in schema"):
        Z.compute_boundaries(df, ["nope"])


def _grid_table(spark, path, n=2048):
    # deterministic 2-D grid, shuffled by the hash bucketing itself
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).cast("int").alias("x"),
        (F.pmod(F.xxhash64("id"), F.lit(64))).cast("int").alias("y"),
        F.col("id").cast("double").alias("v"),
    )
    upsert_by_key(spark, path, df, ["k"], n_buckets=1)
    return df


def test_zorder_rewrite_identity_manifest_and_scan(spark, tmp_path):
    path = str(tmp_path / "t")
    _grid_table(spark, path)
    before = {r["k"]: (r["x"], r["y"]) for r in read_table(spark, path).collect()}

    out = rewrite_table(spark, path, zorder_by=["x", "y"])
    assert out["buckets"] == 1
    m = read_manifest(spark, path)
    assert m["zorder_by"] == ["x", "y"] and m["sort_by"] is None
    # zone maps recorded for BOTH z-columns
    assert set(m["stats"]["0"]) == {"x", "y"}

    after = {r["k"]: (r["x"], r["y"]) for r in read_table(spark, path).collect()}
    assert after == before  # logical content untouched

    # scan_range exact on either dimension
    got = sorted(r["k"] for r in scan_range(spark, path, "y", 10, 20).collect())
    want = sorted(k for k, (x, y) in before.items() if 10 <= y <= 20)
    assert got == want

    # a later plain compaction PRESERVES the z-order (manifest inheritance)
    rewrite_table(spark, path)
    m2 = read_manifest(spark, path)
    assert m2["zorder_by"] == ["x", "y"]
    hist = table_history(spark, path).orderBy("version").collect()
    assert hist[-1]["zorder_by"] == ["x", "y"]

    # switching to a lexicographic sort clears it; both at once rejected
    rewrite_table(spark, path, sort_by=["x"])
    m3 = read_manifest(spark, path)
    assert m3["zorder_by"] is None and m3["sort_by"] == ["x"]
    with pytest.raises(ValueError, match="not both"):
        rewrite_table(spark, path, sort_by=["x"], zorder_by=["x", "y"])


def _chunk_ranges(rows, chunk=128):
    """Mean per-dimension min/max span over contiguous row runs — the
    proxy for what a parquet row group's column statistics would cover,
    i.e. what a range predicate on that column can skip."""
    xr, yr = [], []
    for i in range(0, len(rows) - chunk + 1, chunk):
        xs = [r["x"] for r in rows[i : i + chunk]]
        ys = [r["y"] for r in rows[i : i + chunk]]
        xr.append(max(xs) - min(xs) + 1)
        yr.append(max(ys) - min(ys) + 1)
    return sum(xr) / len(xr), sum(yr) / len(yr)


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """The property z-ordering exists for: a lexicographic sort_by=["x"]
    makes contiguous 128-row runs tight on x but leaves y UNCONSTRAINED
    (stats span ~the full 64-value domain → a predicate on y skips
    nothing), while the z-order bounds BOTH dimensions, trading a wider
    x-span for a y-span a fraction of the domain."""
    pa = str(tmp_path / "lex")
    pz = str(tmp_path / "zed")
    _grid_table(spark, pa)
    _grid_table(spark, pz)
    rewrite_table(spark, pa, sort_by=["x"])
    rewrite_table(spark, pz, zorder_by=["x", "y"])

    def file_order(path):
        m = read_manifest(spark, path)
        d = f"{path}/{m['buckets']['0']}"
        # one file, one read task → collect() preserves the file row order
        return spark.read.parquet(d).coalesce(1).collect()

    xr_lex, yr_lex = _chunk_ranges(file_order(pa))
    xr_z, yr_z = _chunk_ranges(file_order(pz))
    # the lexicographic layout serves only its leading column
    assert xr_lex <= 8 and yr_lex > 55, (xr_lex, yr_lex)
    # the z layout bounds BOTH: each 128-row run is ~2 adjacent cells of
    # a 16x16-bin grid over the 64x64 domain → both spans ~16-32
    assert yr_z < 0.6 * yr_lex, (yr_z, yr_lex)
    assert xr_z < 40 and yr_z < 40, (xr_z, yr_z)


def test_zorder_rewrite_with_non_finite_values(spark, tmp_path):
    """A double column holding ±Infinity and NaN yields non-finite
    quantile edges; the bin-search SQL must render them as casts (a
    ``<repr>D`` literal like ``infD`` does not parse).  Content stays
    identical and the non-finite rows bin after every finite one."""
    path = str(tmp_path / "t")
    specials = [float("inf"), float("-inf"), float("nan")]
    rows = [
        (f"k{i:04d}", specials[i % 3] if i % 3 == 0 or i % 7 == 0 else float(i))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, x double")
    upsert_by_key(spark, path, df, ["k"], n_buckets=1)

    bnds = Z.compute_boundaries(df, ["x"])
    assert float("inf") in bnds["x"]
    rewrite_table(spark, path, zorder_by=["x"])
    after = {r["k"]: r["x"] for r in read_table(spark, path).collect()}
    assert after.keys() == {k for k, _ in rows}
    for k, x in rows:
        assert after[k] == x or (math.isnan(x) and math.isnan(after[k]))

    z = {
        r["x"]: r["z"]
        for r in df.select("x", Z.zvalue_col(bnds, {"x": "double"}).alias("z"))
        .filter(F.col("x") != float("inf"))
        .filter(~F.isnan("x"))
        .collect()
    }
    z_inf = df.filter(F.col("x") == float("inf")).select(
        Z.zvalue_col(bnds, {"x": "double"}).alias("z")
    ).first()["z"]
    assert z_inf >= max(z.values())
    assert z[float("-inf")] == min(z.values())
