"""PLP: planted-cluster recovery, proper-clustering invariants, self-loop
singleton — the assertions the reference's own tests make
(CommunityGTest.cpp:204-290)."""

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.labelprop import label_propagation
from networkit_spark.operators.quality import (
    equal_clusterings,
    is_proper_clustering,
    modularity,
)
from tests.fixtures import F5_EDGES, F5_N, erdos_renyi, planted_cliques
from tests.oracle.plp import plp_oracle


def test_planted_cliques_recovered(spark):
    """ClusteredRandomGraphGenerator(n,k,1.0,0.0) → PLP finds exactly k
    clusters equal to the plant (CommunityGTest.cpp:204-240)."""
    edges, planted = planted_cliques(60, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    res = label_propagation(g)
    assert res.number_of_communities() == 3
    planted_df = spark.createDataFrame(
        [(v, l) for v, l in planted.items()], "id long, label long"
    )
    assert equal_clusterings(g, res.labels, planted_df)


def test_many_small_cliques(spark):
    """OnManySmallClusters analog (CommunityGTest.cpp:259-290)."""
    edges, planted = planted_cliques(100, 20)
    g = Graph.from_pairs(spark, edges, directed=False, n=100)
    res = label_propagation(g)
    assert res.number_of_communities() == 20
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == plp_oracle(100, [(u, v, 1.0) for u, v in edges])


def test_self_loop_singleton(spark):
    """Single node with self-loop stays a singleton
    (CommunityGTest.cpp:241-258)."""
    g = Graph.from_pairs(spark, F5_EDGES, directed=False, n=F5_N, weighted=True)
    res = label_propagation(g)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == {0: 0}


def test_proper_clustering_on_er(spark):
    """PLP on ER(80, 0.1) is a proper clustering with modularity in
    [-0.5, 1] (CommunityGTest.cpp:59-75)."""
    edges = erdos_renyi(80, 0.1, seed=11)
    g = Graph.from_pairs(spark, edges, directed=False, n=80)
    res = label_propagation(g, max_iterations=10)
    assert is_proper_clustering(g, res.labels)
    q = modularity(g, res.labels)
    assert -0.5 <= q <= 1.0


def test_active_set_matches_full_sweep(spark):
    """The frontier optimization must not change the result."""
    edges, _ = planted_cliques(40, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    with_frontier = {
        r["id"]: r["label"]
        for r in label_propagation(g, use_active_set=True).labels.collect()
    }
    full = {
        r["id"]: r["label"]
        for r in label_propagation(g, use_active_set=False).labels.collect()
    }
    assert with_frontier == full


def test_update_threshold_stops_early(spark):
    """Loop gate is nUpdated > updateThreshold with nUpdated initialized
    to n (PLP.cpp:45,69): threshold=n → zero sweeps (labels stay
    singletons); threshold=n-1 → at least one sweep runs."""
    edges, _ = planted_cliques(30, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    res = label_propagation(g, update_threshold=30)
    assert res.iterations == 0
    assert res.number_of_communities() == 30
    res2 = label_propagation(g, update_threshold=29, max_iterations=1)
    assert res2.iterations == 1


def test_base_clustering(spark):
    """Base clustering seeds the labels (PLP.cpp:30-34): starting AT the
    planted partition, PLP keeps it."""
    edges, planted = planted_cliques(30, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    base = spark.createDataFrame(
        [(v, l) for v, l in planted.items()], "id long, label long"
    )
    res = label_propagation(g, base_labels=base)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == planted


def test_checkpoint_resume_plp(spark, tmp_path):
    """Durable PLP snapshots resume to the same fixed point."""
    from networkit_spark.plans.iterative import Checkpointer

    edges, _ = planted_cliques(40, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    straight = {r["id"]: r["label"]
                for r in label_propagation(g).labels.collect()}
    path = str(tmp_path / "plp_ckpt")
    ck1 = Checkpointer(spark, path, algorithm="plp")
    partial = label_propagation(g, checkpointer=ck1, max_iterations=1)
    assert partial.iterations == 1
    ck2 = Checkpointer(spark, path, algorithm="plp")
    resumed = label_propagation(g, checkpointer=ck2, resume=True)
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == straight


def test_src_partitioned_regime_matches_broadcast(spark, monkeypatch):
    """Graphs above PLP_BROADCAST_N vertices run src-partitioned sweeps
    (no label broadcast, neighbor expansion on src). Forcing that regime
    on small graphs must give the broadcast run's labels and the
    oracle's, both converged and in fixed-sweep mode."""
    import networkit_spark.operators.labelprop as plp
    from networkit_spark.operators.labelprop import label_propagation_fixed

    def labels_of(df):
        return {r["id"]: r["label"] for r in df.collect()}

    cliques, _ = planted_cliques(100, 20)
    gc = Graph.from_pairs(spark, cliques, directed=False, n=100)
    er = erdos_renyi(60, 0.08, seed=4)
    ge = Graph.from_pairs(spark, er, directed=False, n=60)

    broadcast = (labels_of(label_propagation(gc).labels),
                 labels_of(label_propagation_fixed(ge, 3)))
    monkeypatch.setattr(plp, "PLP_BROADCAST_N", 0)
    src_part = (labels_of(label_propagation(gc).labels),
                labels_of(label_propagation_fixed(ge, 3)))

    assert src_part == broadcast
    assert src_part[0] == plp_oracle(100, [(u, v, 1.0) for u, v in cliques])
    assert src_part[1] == plp_oracle(60, [(u, v, 1.0) for u, v in er],
                                     max_iterations=3)
