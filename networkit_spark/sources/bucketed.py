"""Bucketed edge-table ingest: the 100 TB layout contract for iterative
consumers.

The north star stores the derived link graph as an Iceberg table
bucketed by src (`bucket(src, N)` partition transform) so every
iterative consumer — PageRank prepare above all — reads a table whose
physical layout ALREADY satisfies hash(src) clustering and skips its
leading exchange (BENCH_r4_10x measured that exchange at 60.2s / 9.6 GiB
on RMAT 2^24, comparable to five whole supersteps). This container has
no Iceberg runtime jars (disclosed, plans/iterative.py), so the same
physical contract is realized with Spark's native bucketed parquet
tables: `bucketBy(N, "src")` + `saveAsTable` records HashPartitioning
(src, N) in the catalog, and a bucketed scan exposes it to Catalyst —
`groupBy("src")` / joins keyed on src plan with NO Exchange below them
(asserted in tests/test_bucketed.py against the executed plan).

Write once at ingest (one shuffle — the same shuffle PreparedPageRank
would otherwise pay per-session), then every PreparedPageRank(graph,
src_partitioned=True) run skips it forever. On Iceberg the equivalent is
`ALTER TABLE ... WRITE ORDERED BY` / `bucket(N, src)` and Spark's
storage-partitioned join reads the transform the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from networkit_spark.graph import Graph


def write_edges_bucketed(
    edges: DataFrame,
    table: str,
    n_buckets: int,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist (src, dst[, weight]) hash-bucketed by src as a catalog
    parquet table, each bucket file sorted by src (CSR-like run locality
    for in-kernel adjacency builds — free at write time, the rows are
    already clustered)."""
    writer = (
        edges.write.format("parquet").mode(mode)
        .bucketBy(n_buckets, "src").sortBy("src")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed_graph(
    spark: SparkSession,
    table: str,
    directed: bool = True,
    weighted: bool = False,
) -> Graph:
    """Graph over a bucketed edge table. The edge DataFrame carries the
    bucketed scan's HashPartitioning(src) — do NOT repartition it (pass
    num_partitions=None) or the layout advantage is thrown away."""
    return Graph.from_edges(
        spark.table(table), directed=directed, weighted=weighted
    )
