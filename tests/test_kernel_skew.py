"""Arrow gather-scatter kernel ≡ join-agg PageRank; salting preserves
join+agg semantics; CC pointer-doubling shortcut."""

import numpy as np
from pyspark.sql import functions as F

from networkit_spark.generators import rmat
from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.pagerank import pagerank_fixed
from networkit_spark.operators.pagerank_kernel import pagerank_arrow
from networkit_spark.plans.skew import replicate_for_salt, split_high_degree


def _scores(df):
    return {r["id"]: r["score"] for r in df.collect()}


def test_arrow_kernel_matches_join_agg(spark):
    edges = rmat(spark, scale=8, edge_factor=4, seed=11).dropDuplicates(["src", "dst"])
    g = Graph.from_edges(edges, directed=True)
    ja = _scores(pagerank_fixed(g, n_iter=3))
    ar = _scores(pagerank_arrow(g, n_iter=3))
    assert set(ja) == set(ar)
    for k in ja:
        assert abs(ja[k] - ar[k]) < 1e-12, k


def test_salted_gather_equals_plain(spark):
    """rank·frac gather over salted edges + replicated ranks == plain."""
    edges = rmat(spark, scale=7, edge_factor=8, seed=3).dropDuplicates(["src", "dst"])
    edges = edges.withColumn("frac", F.lit(1.0))
    ranks = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("score", (F.col("id") % 10 + 1).cast("double"))
    )
    plain = (
        ranks.join(edges, ranks.id == edges.src)
        .groupBy("dst").agg(F.sum(F.col("score") * F.col("frac")).alias("c"))
    )
    salted = split_high_degree(edges, threshold=8, salts=4)
    reps = replicate_for_salt(ranks, edges, threshold=8, salts=4)
    salted_gather = (
        reps.join(salted, (reps.id == salted.src) & (reps.salt == salted.salt))
        .groupBy("dst").agg(F.sum(F.col("score") * F.col("frac")).alias("c"))
    )
    a = {r["dst"]: r["c"] for r in plain.collect()}
    b = {r["dst"]: r["c"] for r in salted_gather.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_salt_bounds_partition_width(spark):
    edges = rmat(spark, scale=7, edge_factor=8, seed=3).dropDuplicates(["src", "dst"])
    salted = split_high_degree(edges, threshold=8, salts=4)
    widths = salted.groupBy("src", "salt").count()
    hubs_max = widths.agg(F.max("count")).first()[0]
    plain_max = edges.groupBy("src").count().agg(F.max("count")).first()[0]
    assert hubs_max < plain_max  # hub adjacency actually split


def test_cc_shortcut_fewer_supersteps_on_chain(spark):
    """Path graph P_65: plain hash-min would need ~diameter (about 64)
    supersteps; pointer doubling needs O(log)."""
    edges = [(i, i + 1) for i in range(64)]
    g = Graph.from_pairs(spark, edges, directed=False, n=65)
    fast = connected_components(g)
    assert fast.number_of_components() == 1
    labels = {r["id"]: r["label"] for r in fast.labels.collect()}
    assert set(labels.values()) == {0}
    assert fast.iterations <= 10
