"""Triangle counting / clustering coefficients: the 18/34 golden fixture
(GlobalGTest.cpp:29-41) and brute-force oracle agreement."""

import numpy as np

from networkit_spark.graph import Graph
from networkit_spark.operators.triangles import (
    global_clustering_coefficient,
    local_clustering_coefficients,
    total_triangles,
    triangle_counts,
)
from tests.fixtures import F2_EDGES, F2_GLOBAL_CC, F2_N, F2_TOTAL_TRIANGLES, erdos_renyi
from tests.oracle.triangles import triangles_oracle


def test_golden_global_cc(spark):
    g = Graph.from_pairs(spark, F2_EDGES, directed=False, n=F2_N)
    assert abs(global_clustering_coefficient(g) - F2_GLOBAL_CC) < 1e-12


def test_golden_total(spark):
    g = Graph.from_pairs(spark, F2_EDGES, directed=False, n=F2_N)
    assert total_triangles(g) == F2_TOTAL_TRIANGLES


def test_golden_per_node(spark):
    g = Graph.from_pairs(spark, F2_EDGES, directed=False, n=F2_N)
    got = {r["id"]: r["triangles"] for r in triangle_counts(g).collect()}
    oracle = triangles_oracle(F2_N, F2_EDGES)["per_node"]
    assert got == oracle


def test_er_vs_oracle(spark):
    edges = erdos_renyi(40, 0.2, seed=5)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    oracle = triangles_oracle(40, edges)
    assert total_triangles(g) == oracle["total"]
    got = {r["id"]: r["triangles"] for r in triangle_counts(g).collect()}
    assert got == oracle["per_node"]
    assert abs(global_clustering_coefficient(g) - oracle["global_cc"]) < 1e-12


def test_local_cc(spark):
    edges = erdos_renyi(30, 0.25, seed=9)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    oracle = triangles_oracle(30, edges)
    per, adj_deg = oracle["per_node"], {}
    for u, v in edges:
        adj_deg[u] = adj_deg.get(u, 0) + 1
        adj_deg[v] = adj_deg.get(v, 0) + 1
    got = {r["id"]: r["score"] for r in local_clustering_coefficients(g).collect()}
    for u in range(30):
        d = adj_deg.get(u, 0)
        expect = 2.0 * per[u] / (d * (d - 1)) if d >= 2 else 0.0
        assert abs(got[u] - expect) < 1e-12, u


def test_multi_edges_and_self_loops_ignored(spark):
    """Triangle input is the simple undirected graph: self-loops dropped,
    multi-edges collapsed (LocalClusteringCoefficient.cpp:8-13)."""
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (2, 2)]
    g = Graph.from_pairs(spark, edges, directed=True, n=3)
    assert total_triangles(g) == 1


def test_triangle_edge_scores(spark):
    """TriangleEdgeScore.cpp parity on the golden 6-node graph: each
    triangle contributes 1 to each of its three edges."""
    from networkit_spark.operators.triangles import triangle_edge_scores

    g = Graph.from_pairs(spark, F2_EDGES, directed=False, n=F2_N)
    got = {(r["u"], r["v"]): r["triangles"] for r in triangle_edge_scores(g).collect()}
    # triangles: {1,2,3},{1,2,4},{2,3,5}
    expect = {
        (0, 1): 0, (1, 2): 2, (1, 3): 1, (1, 4): 1,
        (2, 3): 2, (2, 4): 1, (2, 5): 1, (3, 5): 1,
    }
    assert got == expect


def test_approx_global_cc(spark):
    from networkit_spark.operators.triangles import (
        approx_global_clustering_coefficient,
    )

    g = Graph.from_pairs(spark, F2_EDGES, directed=False, n=F2_N)
    est = approx_global_clustering_coefficient(g, n_samples=20000, seed=1)
    assert abs(est - F2_GLOBAL_CC) < 0.03
    # deterministic under a fixed seed
    est2 = approx_global_clustering_coefficient(g, n_samples=20000, seed=1)
    assert est == est2


def test_extract_largest_component(spark):
    from networkit_spark.operators.triangles import (
        extract_largest_connected_component,
    )
    from tests.fixtures import F1_EDGES, F1_N

    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    lcc = extract_largest_connected_component(g)
    ids = sorted(r["id"] for r in lcc.vertices().collect())
    assert ids == [0, 1, 2, 4, 8, 16, 19]
    compacted = extract_largest_connected_component(g, compact=True)
    assert sorted(r["id"] for r in compacted.vertices().collect()) == list(range(7))


def test_partition_matches_oracle(spark):
    """The partition-local color-triple plan must match the brute-force
    oracle exactly — canonical enumeration, corner counts, edge scores,
    totals — across several p values including p larger than the vertex
    color diversity."""
    from networkit_spark.operators.triangles import (
        triangle_edge_scores, triangles)

    edges = erdos_renyi(60, 0.15, seed=11)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    oracle = triangles_oracle(60, edges)
    want = oracle["triangles"]
    assert want  # the fixture must actually contain triangles
    for p in (3, 4, 7):
        tp = sorted(map(tuple, triangles(g, p=p).collect()))
        assert tp == want, p
    cp = {r["id"]: r["triangles"] for r in triangle_counts(g).collect()}
    assert cp == oracle["per_node"]
    ep = {(r["u"], r["v"]): r["triangles"]
          for r in triangle_edge_scores(g).collect()}
    assert ep == oracle["per_edge"]
    assert total_triangles(g) == oracle["total"] == len(want)


def test_partition_kernel_chunking(monkeypatch):
    """Drive the numpy subproblem kernel directly (no Spark) with the
    wedge chunker forced down to tiny chunks, so chunk boundaries inside
    a tail group are exercised; every chunk size must enumerate the same
    triangle set.  Single subproblem: one color class (p=1-style triple
    (0,0,0)) holds the whole graph, so the canonical filter passes all."""
    import pandas as pd

    import networkit_spark.operators.triangles as T

    edges = erdos_renyi(35, 0.3, seed=3)
    # orient by (degree, id) like _oriented_edges
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    lo, hi = [], []
    for u, v in edges:
        a, b = ((u, v) if (deg[u], u) < (deg[v], v) else (v, u))
        lo.append(a)
        hi.append(b)
    pdf = pd.DataFrame({
        "lo": np.array(lo, dtype=np.int64),
        "hi": np.array(hi, dtype=np.int64),
        "c_lo": np.zeros(len(lo), dtype=np.int64),
        "c_hi": np.zeros(len(lo), dtype=np.int64),
    })
    oracle = triangles_oracle(35, edges)

    def enumerate_all():
        tris = []
        for tail, bb, cc, verts, _, _, _, _ in T._local_triangle_chunks(
                pdf, (0, 0, 0)):
            tris += list(zip(verts[tail], verts[bb], verts[cc]))
        return sorted(tris)

    baseline = enumerate_all()
    assert len(baseline) == oracle["total"]
    for chunk in (1, 2, 7, 64):
        monkeypatch.setattr(T, "_TRI_CHUNK_PAIRS", chunk)
        assert enumerate_all() == baseline, chunk
