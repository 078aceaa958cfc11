"""Leiden: proper clustering (the reference's own assertion,
CommunityGTest.cpp:306-328), planted recovery, karate quality, and the
algorithm's defining guarantee — every community induces a CONNECTED
subgraph — on both the distributed and driver-local paths."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.leiden import leiden
from networkit_spark.operators.quality import (
    equal_clusterings,
    is_proper_clustering,
    modularity,
)
from tests.fixtures import KARATE_N, erdos_renyi, karate_edges, planted_cliques


def _communities_connected(spark, g: Graph, labels) -> bool:
    """Every community's induced subgraph has exactly one component."""
    lab = labels.select("id", "label")
    lu = lab.select(F.col("id").alias("src"), F.col("label").alias("lu"))
    lv = lab.select(F.col("id").alias("dst"), F.col("label").alias("lv"))
    intra = (
        g.symmetrized_edges()
        .join(lu, "src")
        .join(lv, "dst")
        .filter(F.col("lu") == F.col("lv"))
        .select("src", "dst")
    )
    sub = Graph.from_edges(
        intra, directed=False, already_symmetrized=True,
        vertices=lab.select("id"),
    )
    cc = connected_components(sub).labels
    # within one community every node must share one CC label
    joined = lab.join(cc.withColumnRenamed("label", "cc"), "id")
    counts = joined.groupBy("label").agg(
        F.countDistinct("cc").alias("n_cc")
    )
    return counts.filter("n_cc > 1").count() == 0


def test_leiden_planted_cliques_both_paths(spark):
    edges, planted = planted_cliques(48, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=48)
    planted_df = spark.createDataFrame(
        [(v, l) for v, l in planted.items()], "id long, label long"
    )
    for threshold in (0, 100_000):
        res = leiden(g, local_threshold=threshold)
        assert res.number_of_communities() == 4
        assert equal_clusterings(g, res.labels, planted_df)
        assert is_proper_clustering(g, res.labels)
        assert _communities_connected(spark, g, res.labels)


def test_leiden_karate(spark):
    g = Graph.from_pairs(spark, karate_edges(), directed=False, n=KARATE_N)
    res = leiden(g)
    assert is_proper_clustering(g, res.labels)
    q = modularity(g, res.labels)
    assert q >= 0.35, q
    assert _communities_connected(spark, g, res.labels)


def test_leiden_er_connected_communities_distributed(spark):
    """The Leiden guarantee on an unstructured graph, distributed path."""
    edges = erdos_renyi(40, 0.1, seed=23)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    res = leiden(g, local_threshold=0)
    assert is_proper_clustering(g, res.labels)
    assert -0.5 <= modularity(g, res.labels) <= 1.0
    assert _communities_connected(spark, g, res.labels)


def test_leiden_edgeless(spark):
    g = Graph.from_pairs(spark, [], directed=False, n=4)
    res = leiden(g)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == {i: i for i in range(4)}
