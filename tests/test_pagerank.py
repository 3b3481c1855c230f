"""Integer fixed-point PageRank (similarity.pagerank): pure-python
twin equality, mass conservation on dangling-free graphs, damping and
hub structure, partition independence, and the driver entry vs its
unrolled-CTE oracle."""

from __future__ import annotations

import collections

import duckdb
import pytest

from pyspark.sql import functions as F

from srag_spark.functions.planning import release
from srag_spark.operators.similarity import knn_graph, pagerank

SF_DIR = "/root/testdata/sf0.001"
UNIT = 10**9


def _py_pagerank(E, n_iter, d100):
    deg = collections.Counter(s for s, _ in E)
    nodes = sorted({s for s, _ in E} | {d for _, d in E})
    r = {n: UNIT for n in nodes}
    for _ in range(n_iter):
        acc = collections.defaultdict(int)
        for s, d in E:
            acc[d] += r[s] // deg[s]
        r = {n: ((100 - d100) * UNIT + d100 * acc.get(n, 0)) // 100
             for n in nodes}
    return r


def _edges_df(spark, E):
    return spark.createDataFrame(E, "src long, dst long")


def test_pagerank_matches_python_twin(spark):
    # a small graph with a hub (0), a chain, and a sink-feeder
    E = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1), (1, 2), (2, 3), (3, 4),
         (4, 5), (5, 1)]
    led: list = []
    got = {
        r["node"]: r["rank_u"]
        for r in pagerank(_edges_df(spark, E), n_iter=7, damping=0.85,
                          persisted=led).collect()
    }
    release(led)
    assert got == _py_pagerank(E, 7, 85)
    # node 1 drains the hub (0's whole rank) plus node 5 — the top;
    # the hub itself (four half-contributions) still beats chain middles
    assert got[1] == max(got.values())
    assert got[0] > got[3]


def test_pagerank_mass_and_damping(spark):
    E = [(i, (i + 1) % 6) for i in range(6)]  # a 6-cycle: perfect symmetry
    out = pagerank(_edges_df(spark, E), n_iter=5, damping=0.85).collect()
    # symmetry: every node identical; cycle conserves mass exactly
    assert len({r["rank_u"] for r in out}) == 1
    assert all(abs(r["rank_r"] - 1.0) < 1e-6 for r in out)
    # damping=0 collapses to the uniform base regardless of structure
    flat = pagerank(_edges_df(spark, E + [(0, 3)]), n_iter=3, damping=0.0)
    assert {r["rank_u"] for r in flat.collect()} == {UNIT}
    with pytest.raises(ValueError):
        pagerank(_edges_df(spark, E), n_iter=0)
    with pytest.raises(ValueError):
        pagerank(_edges_df(spark, E), damping=1.5)


def test_pagerank_partition_independence(spark):
    E = [(i, (i * 7 + 3) % 40) for i in range(40)] + [(i, (i + 1) % 40)
                                                      for i in range(40)]
    df = _edges_df(spark, E)
    a = {r["node"]: r["rank_u"]
         for r in pagerank(df.repartition(1), n_iter=5).collect()}
    b = {r["node"]: r["rank_u"]
         for r in pagerank(df.repartition(16), n_iter=5).collect()}
    assert a == b == _py_pagerank(E, 5, 85)


def test_pagerank_over_knn_graph_entry(spark):
    import __spark_entry__ as entrymod

    sdf = entrymod.queries()["graph_pagerank"](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    # the frozen oracle text inlines the kNN subquery into every unrolled
    # round (DuckDB re-derives it each time); build the graph ONCE and run
    # the same unrolled PageRank over it — same rows, a fraction of the time
    # (tools/check_oracle.py still replays the frozen text verbatim)
    con.execute(f"CREATE TABLE knn_t AS {entrymod._knn_graph_sql()}")
    orows = [
        tuple(r)
        for r in con.execute(
            entrymod._pagerank_sql(
                raw_cte="raw AS (SELECT vec_id AS s, nbr_id AS d FROM knn_t)"
            )
        ).fetchall()
    ]
    assert srows == orows
    assert len(srows) == 500
    # dangling-free kNN graph: total mass ~N (floor losses only)
    tot = sum(r[1] for r in srows)
    assert 0 < len(srows) * UNIT - tot < len(srows) * 40
