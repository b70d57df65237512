"""Graph analytics: fixed-iteration PageRank vs a numpy reference,
degree stats, dangling-node semantics."""

from pytorch_ie_spark.operators.graph import graph_degree_stats, pagerank


def _edges(spark):
    # 1 -> 2, 1 -> 3, 2 -> 3, 3 -> 1, 4 -> 3   (4 has no in-edges)
    return spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)], "src long, dst long"
    )


def test_pagerank_matches_numpy_reference(spark):
    import numpy as np

    d, iters = 0.85, 3
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out_deg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    pr = {u: 1.0 / n for u in nodes}
    for _ in range(iters):
        sums = {u: 0.0 for u in nodes}
        for s, t in edges:
            # mirror the operator's DECIMAL(30,12) quantization pre-sum
            sums[t] += round(pr[s] / out_deg[s], 12)
        pr = {
            u: (1 - d) / n + d * sums[u]
            for u in nodes
        }
    expected = {u: round(v, 6) for u, v in pr.items()}

    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(_edges(spark), damping=d, iterations=iters).collect()
    }
    assert got == expected
    # node 3 has the most in-links -> highest rank; dangling mass dropped
    assert max(got, key=got.get) == 3
    assert abs(sum(got.values())) < 1.0 + 1e-6


def test_degree_stats(spark):
    got = {
        r["node"]: (r["out_degree"], r["in_degree"])
        for r in graph_degree_stats(_edges(spark)).collect()
    }
    assert got == {1: (2, 1), 2: (1, 1), 3: (1, 3), 4: (1, 0)}


def test_pagerank_duplicate_edges_collapse(spark):
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1)], "src long, dst long"
    )
    uniq = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    a = sorted(map(tuple, pagerank(dup).collect()))
    b = sorted(map(tuple, pagerank(uniq).collect()))
    assert a == b


def test_pagerank_converged_reaches_fixed_point(spark):
    import pytest

    from pytorch_ie_spark.operators.graph import pagerank_converged

    pr, sweeps = pagerank_converged(_edges(spark), tol=1e-9, max_iter=100)
    got = {r["node"]: r["pagerank"] for r in pr.collect()}
    assert 1 < sweeps <= 100
    # at the fixed point one more fixed sweep changes nothing (round 6)
    more = {
        r["node"]: r["pagerank"]
        for r in pagerank(_edges(spark), iterations=sweeps + 1).collect()
    }
    assert got == more
    # non-convergence must raise, not return silently
    with pytest.raises(RuntimeError, match="converge"):
        pagerank_converged(_edges(spark), tol=1e-15, max_iter=2)


def test_pagerank_empty_graph_is_typed_and_empty(spark):
    """No edges means no nodes: both variants return a typed empty frame
    instead of dividing by a zero node count."""
    from pytorch_ie_spark.operators.graph import pagerank_converged

    edges = spark.createDataFrame([], "src string, dst string")
    fixed = pagerank(edges)
    converged, sweeps = pagerank_converged(edges)
    for pr in (fixed, converged):
        assert pr.schema.simpleString() == "struct<node:string,pagerank:double>"
        assert pr.collect() == []
    assert sweeps == 0
