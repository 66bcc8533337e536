"""Link-graph citation priority: PageRank vs a numpy reference (incl.
dangling nodes), in-degree scoring and anchor top-k totality."""

from __future__ import annotations

import numpy as np
import pytest

from sandcrawler_spark.operators.linkgraph import (
    anchor_text_topk,
    indegree_citation,
    pagerank,
)

# small graph WITH a dangling node (4 has no outlinks) and a node that
# is only a source (0 has no inlinks)
EDGES = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (1, 4)]
N = 5


def _numpy_pagerank(edges, n, iters, d=0.85):
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out_deg == 0].sum()
        nxt = np.full(n, (1.0 - d) / n + d * dangling / n)
        for s, t in edges:
            nxt[t] += d * r[s] / out_deg[s]
        r = nxt
    return r


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_pagerank_matches_numpy_with_dangling(spark, edges_df):
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges_df, iterations=4).collect()
    }
    want = _numpy_pagerank(EDGES, N, 4)
    assert set(got) == set(range(N))
    for v in range(N):
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # mass conservation: dangling redistribution keeps sum(rank) == 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_deterministic_across_partitioning(spark, edges_df):
    a = pagerank(edges_df.repartition(1), iterations=3).collect()
    b = pagerank(edges_df.repartition(7), iterations=3).collect()
    ra = {r["node"]: round(r["rank"], 9) for r in a}
    rb = {r["node"]: round(r["rank"], 9) for r in b}
    assert ra == rb


def test_indegree_citation(spark, edges_df):
    got = {r["node"]: (r["in_deg"], r["citation"]) for r in
           indegree_citation(edges_df).collect()}
    # in-degrees: 0→0, 1→1, 2→2, 3→1, 4→2; max=2
    assert got == {
        0: (0, 0.0), 1: (1, 0.5), 2: (2, 1.0), 3: (1, 0.5), 4: (2, 1.0),
    }


def test_anchor_topk_total_order(spark):
    rows = [
        ("a", "x", "read more"), ("b", "x", "read more"),
        ("c", "x", "here"), ("d", "x", "appendix"),
        ("e", "y", "  "),  # blank anchor filtered
    ]
    df = spark.createDataFrame(rows, "src string, dst string, anchor string")
    got = [tuple(r) for r in
           anchor_text_topk(df, k=2).orderBy("url", "rk").collect()]
    # count desc then anchor asc: 'read more'(2) first, then
    # 'appendix' beats 'here' lexicographically at count 1
    assert got == [("x", "read more", 2, 1), ("x", "appendix", 1, 2)]
