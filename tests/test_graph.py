"""Link-graph analytics: PageRank vs a dense numpy reference, and its
argument guards."""

import numpy as np
import pytest


def _edges(spark):
    # a small directed graph incl. a dangling node (3) and a hub (0)
    rows = [
        ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"), ("c", "b"),
        ("a", "d"),  # d is dangling (no out-links)
        ("e", "a"),  # e feeds the hub
    ]
    return spark.createDataFrame(rows, "src string, dst string")


def _numpy_pagerank(edges, nodes, d=0.85, iters=20):
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    odeg = np.zeros(n)
    for s, t in edges:
        odeg[idx[s]] += 1
    for s, t in edges:
        M[idx[t], idx[s]] += 1.0 / odeg[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[odeg == 0].sum()
        r = (1 - d) / n + d * (M @ r + dangling / n)
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_dense_reference(spark):
    from enterprise_warp_spark.pipeline.graph import pagerank

    edges = _edges(spark)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = sorted({v for e in pairs for v in e})
    want = _numpy_pagerank(pairs, nodes)
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=20).collect()}
    assert set(got) == set(want)
    for v in nodes:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    # ranks form a distribution; the hub outranks the leaf feeder
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got["a"] > got["e"]


def test_pagerank_guards(spark):
    """Bad iterations or damping raise up front."""
    from enterprise_warp_spark.pipeline.graph import pagerank

    edges = _edges(spark)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping=1.5)
