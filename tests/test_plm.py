"""PLM (Louvain) + ParallelPartitionCoarsening.

Reference assertions mirrored: proper clustering on real graphs
(CommunityGTest.cpp:284-305 asserts only isProperClustering for PLM,
plain and refined). We additionally assert planted-structure recovery,
the modularity-preservation invariant of contraction, and a hand-computed
coarse-graph fixture (ParallelPartitionCoarsening.cpp:22-108 semantics)."""

import math

from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.coarsening import coarsen, prolong
from networkit_spark.operators.plm import plm
from networkit_spark.operators.quality import (
    equal_clusterings,
    is_proper_clustering,
    modularity,
)
from tests.fixtures import KARATE_N, erdos_renyi, karate_edges, planted_cliques


# ---------------------------------------------------------------- coarsening
def test_coarsen_hand_fixture(spark):
    """4 nodes in 2 parts: inter weight, intra-once weight, self-loop
    pass-through (the `sv != su || u >= v` once-per-edge rule)."""
    g = Graph.from_pairs(
        spark,
        [(0, 1, 2.0), (1, 2, 1.0), (2, 3, 3.0), (3, 3, 5.0)],
        directed=False,
        weighted=True,
    )
    labels = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 20), (3, 20)], "id long, label long"
    )
    coarse, mapping = coarsen(g, labels)

    m = {r["id"]: r["coarse_id"] for r in mapping.collect()}
    assert m == {0: 0, 1: 0, 2: 1, 3: 1}

    rows = {(r["src"], r["dst"]): r["weight"] for r in coarse.edges.collect()}
    assert rows[(0, 1)] == 1.0 and rows[(1, 0)] == 1.0  # inter, symmetrized
    assert rows[(0, 0)] == 2.0  # intra edge (0,1) once
    assert rows[(1, 1)] == 3.0 + 5.0  # intra edge once + self-loop once
    # contraction preserves total edge weight
    assert math.isclose(coarse.total_edge_weight(), g.total_edge_weight())


def test_coarsen_preserves_modularity(spark):
    """Q(fine, partition) == Q(coarse, singletons) — the invariant Louvain
    recursion relies on."""
    edges, planted = planted_cliques(36, 4)
    # add a few inter-clique edges so the partition is non-trivial
    edges = edges + [(0, 1), (2, 3), (5, 10)]
    g = Graph.from_pairs(spark, edges, directed=False, n=36)
    labels = spark.createDataFrame(
        [(v, l) for v, l in planted.items()], "id long, label long"
    )
    coarse, _ = coarsen(g, labels)
    singletons = coarse.vertices().select("id", F.col("id").alias("label"))
    assert math.isclose(
        modularity(g, labels), modularity(coarse, singletons), rel_tol=1e-9
    )


def test_coarsen_isolated_vertex_kept(spark):
    """A subset whose nodes have no edges still yields a coarse vertex."""
    g = Graph.from_pairs(spark, [(0, 1)], directed=False, n=3)  # node 2 isolated
    labels = spark.createDataFrame([(0, 7), (1, 7), (2, 9)], "id long, label long")
    coarse, mapping = coarsen(g, labels)
    assert coarse.num_vertices() == 2
    assert {r["coarse_id"] for r in mapping.collect()} == {0, 1}


def test_prolong_roundtrip(spark):
    edges, planted = planted_cliques(20, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=20)
    labels = spark.createDataFrame(
        [(v, l) for v, l in planted.items()], "id long, label long"
    )
    coarse, mapping = coarsen(g, labels)
    # identity partition on the coarse graph prolongs back to the original
    ident = coarse.vertices().select("id", F.col("id").alias("label"))
    fine = prolong(ident, mapping)
    assert equal_clusterings(g, fine, labels)


# ---------------------------------------------------------------------- PLM
def test_plm_two_triangles_distributed(spark):
    """Barbell of two triangles: the unambiguous 2-community optimum —
    forced through the DISTRIBUTED move phase (local_threshold=0)."""
    g = Graph.from_pairs(
        spark,
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        directed=False,
    )
    res = plm(g, local_threshold=0)
    assert res.number_of_communities() == 2
    expected = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)], "id long, label long"
    )
    assert equal_clusterings(g, res.labels, expected)


def test_plm_planted_cliques_both_paths(spark):
    """Cross-implementation equivalence on planted structure: the
    distributed hash-gated move phase and the driver-local sequential
    solver (reference parallelism="none" semantics) must both recover
    the planted cliques exactly."""
    edges, planted = planted_cliques(48, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=48)
    planted_df = spark.createDataFrame(
        [(v, l) for v, l in planted.items()], "id long, label long"
    )
    for threshold in (0, 100_000):  # distributed / local
        res = plm(g, local_threshold=threshold)
        assert res.number_of_communities() == 4
        assert equal_clusterings(g, res.labels, planted_df)
        assert is_proper_clustering(g, res.labels)


def test_plm_labels_partition_count_invariant(spark):
    """The distributed move phase pins a data-proportional partition
    count (m_arcs // 50k, floor 8) — labels must be EXACTLY identical
    whatever layout the phase runs under (exact aggregations,
    deterministic struct-max tie-break, hash gate; no partition-order
    dependence). Locks the r4 m_arcs partition-scaling change."""
    edges = erdos_renyi(60, 0.08, seed=13)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    baseline = None
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_part in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            res = plm(g, local_threshold=0)
            got = {r["id"]: r["label"] for r in res.labels.collect()}
            if baseline is None:
                baseline = got
            else:
                assert got == baseline
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_plm_karate_quality(spark):
    """Known Louvain territory: Zachary karate club optimum Q ≈ 0.4198;
    any reasonable Louvain lands ≥ 0.38 with a handful of communities."""
    g = Graph.from_pairs(spark, karate_edges(), directed=False, n=KARATE_N)
    res = plm(g)
    assert is_proper_clustering(g, res.labels)
    q = modularity(g, res.labels)
    assert q >= 0.38, q
    k = res.number_of_communities()
    assert 2 <= k <= 8, k

    # refined variant (PLM(G, true) — CommunityGTest.cpp:297-304): still a
    # proper clustering, quality never worse than unrefined by > epsilon.
    res_r = plm(g, refine=True)
    assert is_proper_clustering(g, res_r.labels)
    assert modularity(g, res_r.labels) >= q - 1e-9


def test_plm_proper_on_er(spark):
    edges = erdos_renyi(60, 0.08, seed=7)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    res = plm(g)
    assert is_proper_clustering(g, res.labels)
    assert -0.5 <= modularity(g, res.labels) <= 1.0


def test_plm_edgeless_graph_singletons(spark):
    g = Graph.from_pairs(spark, [], directed=False, n=5)
    res = plm(g)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == {i: i for i in range(5)}


def test_plm_gamma_resolution(spark):
    """Lower gamma favors fewer, larger communities (multi-resolution
    modularity, PLM.hpp:26-29). Three 12-cliques with 5 links between
    cliques 0 and 1: at gamma=1 the cliques stay separate (merge gain
    5/m − vol²/(2m²) < 0); at gamma=0.05 the linked pair merges at the
    coarse level (gain > 0) while the unlinked clique can't."""
    edges, _ = planted_cliques(36, 3)
    # clique of v is v % 3 → these five are all clique-0 ↔ clique-1 links
    edges = edges + [(0, 1), (3, 4), (6, 7), (9, 10), (12, 13)]
    g = Graph.from_pairs(spark, edges, directed=False, n=36)
    k_high = plm(g, gamma=1.0).number_of_communities()
    k_low = plm(g, gamma=0.05).number_of_communities()
    assert k_high == 3
    assert k_low == 2
