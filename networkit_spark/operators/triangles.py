"""Triangle counting and clustering coefficients via degree-ordered,
color-partitioned enumeration.

Reference semantics:
- ClusteringCoefficient::exactGlobal (networkit/cpp/global/
  ClusteringCoefficient.cpp:164-207): per-node triangle count tr(u) counts
  ordered wedges, i.e. each triangle contributes 2 at each corner; global
  coefficient = Σ_u tr(u) / Σ_u deg(u)·(deg(u)-1). Golden fixture: 18/34 on
  the 6-node graph (GlobalGTest.cpp:29-41).
- LocalClusteringCoefficient (networkit/cpp/centrality/
  LocalClusteringCoefficient.cpp:16-94): score[u] = tr(u)/(deg(u)(deg(u)-1));
  its `turbo` mode orients every edge from higher- to lower-degree endpoint
  (tie by id, :25-27) so each triangle is found exactly once, then ×2 —
  exactly the orientation this implementation uses.
- Undirected simple graphs only (no self-loops: LCC ctor throws,
  LocalClusteringCoefficient.cpp:8-13; multi-edges are collapsed first).

Spark plan (degree orientation bounds enumeration work by
Σ_v C(out(v),2) ≈ m^1.5 — the reference turbo-mode trick; no hub blow-up
on power-law graphs): hash-space color-triple partitioning — one
p·m-row edge shuffle into C(p+2,3) subproblems, then wedge generation
AND closure run partition-locally in numpy inside
`groupBy().applyInPandas`; no wedge row ever crosses the network.
Banner above `_replicated_edges` has the full scheme.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph


def _oriented_edges(graph: Graph) -> tuple[DataFrame, DataFrame]:
    """Returns (ord_edges(lo, hi), degrees(id, degree)) where every simple
    undirected edge appears once, oriented ascending by (degree, id) —
    LocalClusteringCoefficient.cpp:25-27 orientation."""
    simple = graph.simple_undirected_edges()  # (u < v), deduped, no loops
    deg = (
        simple.select(F.col("u").alias("id"))
        .unionByName(simple.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("deg_v"))
    ordered = (
        simple.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.col("u"),
            ).otherwise(F.col("v")).alias("lo"),
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.col("v"),
            ).otherwise(F.col("u")).alias("hi"),
        )
    )
    return ordered, deg


# ------------------------------------------------- partitioned closure
#
# Hash-space (color-triple) triangle partitioning: color every vertex
# into p classes by hash; for each of the C(p+2,3) sorted color triples
# (t1 <= t2 <= t3, repeats allowed) build one subproblem.  Each oriented
# edge {lo,hi} with colors {a,b} is replicated to the p triples
# sort(a, b, w), w = 0..p-1 (all distinct, so EXACTLY p copies — no
# per-edge fan-out beyond p, including monochromatic edges).  Every
# triangle's three edges all land in the subproblem named by the
# triangle's own sorted color multiset — its CANONICAL home — so each
# subproblem enumerates closure entirely partition-locally (numpy CSR
# wedges + sorted-key membership) and keeps only canonically-colored
# triangles: each triangle found exactly once globally.
#
# Why: shuffle volume becomes p·m replicated EDGES instead of the wedge
# count.  At RMAT 2^21 a two-join plan (wedge self-join on the shared
# tail, then a closure join) shuffled 35 GiB of wedges
# (BENCH_r4_10x.json); p=6 replication of the ~17M oriented edges is
# ~0.5 GiB.  Per-subproblem edge count concentrates around 6m/p², so p
# is the memory lever at 100 TB: pick p with 6m/p² × ~32B within
# executor memory, parallelism = C(p+2,3) tasks.  (Classic MapReduce
# triangle partitioning — Suri & Vassilvitskii WWW'11 / PTE KDD'16 —
# re-expressed as one crossJoin + groupBy().applyInPandas.)

_TRI_CHUNK_PAIRS = 1 << 23  # wedge pairs materialized per numpy chunk


def _tri_default_p(spark) -> int:
    """Smallest p giving >= 2 × defaultParallelism subproblems
    (C(p+2,3)), clamped to [3, 16]."""
    par = spark.sparkContext.defaultParallelism
    p = 3
    while (p + 2) * (p + 1) * p // 6 < 2 * par and p < 16:
        p += 1
    return p


def _replicated_edges(graph: Graph, p: int, seed: int = 0x7161) -> DataFrame:
    """Oriented edges × p replicas, tagged with the sorted color triple
    (t1,t2,t3) of each destination subproblem."""
    ordered, _ = _oriented_edges(graph)
    spark = graph.edges.sparkSession
    w = F.broadcast(spark.range(p).select(F.col("id").cast("int").alias("w")))
    e = ordered.select(
        "lo",
        "hi",
        F.pmod(F.xxhash64("lo", F.lit(seed)), F.lit(p)).cast("int").alias("c_lo"),
        F.pmod(F.xxhash64("hi", F.lit(seed)), F.lit(p)).cast("int").alias("c_hi"),
    )
    t = F.array_sort(F.array("c_lo", "c_hi", "w"))
    return e.crossJoin(w).select(
        "lo", "hi", "c_lo", "c_hi",
        t[0].alias("t1"), t[1].alias("t2"), t[2].alias("t3"),
    )


def _seg_expand(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """[starts[r] + k for r in range(len) for k in range(counts[r])]."""
    tot = int(counts.sum())
    if tot == 0:
        return np.empty(0, dtype=starts.dtype)
    cum = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=cum[1:])
    within = np.arange(tot, dtype=np.int64) - np.repeat(cum[:-1], counts)
    return np.repeat(starts, counts) + within


def _pair_chunks(first, per_first, second_base, chunk):
    """Common pair generator: for row r emit pairs
    (first[r], second_base[r] + k), k in [0, per_first[r]) — chunked so
    at most `chunk` pairs materialize at once. Drives both C(k,2)
    within-segment pairs and A×B cross-segment products without any
    per-pair division."""
    cum = np.zeros(len(first) + 1, dtype=np.int64)
    np.cumsum(per_first, out=cum[1:])
    r_start = 0
    n = len(first)
    while r_start < n:
        r_end = int(np.searchsorted(cum, cum[r_start] + chunk, side="right")) - 1
        r_end = min(max(r_end, r_start + 1), n)
        c = per_first[r_start:r_end]
        n_pairs = int(cum[r_end] - cum[r_start])
        if n_pairs == 0:
            r_start = r_end
            continue
        off = (np.arange(n_pairs, dtype=np.int64)
               - np.repeat(cum[r_start:r_end] - cum[r_start], c))
        i_idx = np.repeat(first[r_start:r_end], c)
        j_idx = np.repeat(second_base[r_start:r_end], c) + off
        yield i_idx, j_idx
        r_start = r_end


def _local_triangle_chunks(pdf: pd.DataFrame, triple, want_sides: bool = False):
    """Enumerate this subproblem's canonical triangles partition-locally.

    Wedges are generated CANONICAL-ONLY: edges are sorted by
    (tail, neighbor-color) and per-tail neighbor segments are paired per
    the triple's color-multiset case — cross-products between the two
    required colors, C(k,2) within one color — so no wedge is ever
    generated just to be discarded by a color filter (in a
    distinct-color subproblem the old generate-then-filter form wasted
    7/9 of its pairs), and across subproblems the global wedge set is
    partitioned EXACTLY (each wedge generated once, in its home triple).

    Yields (tail, b, c, verts, skey, side_ab, side_ac, side_bc) numpy
    chunks in LOCAL vertex ids (verts maps back; local order == id
    order, preserving the b < c by-id contract); side_* index into the
    sorted edge-key array skey for edge-score accumulation and are None
    unless want_sides."""
    lo = pdf["lo"].to_numpy(np.int64)
    hi = pdf["hi"].to_numpy(np.int64)
    if len(lo) == 0:
        return
    c_lo = pdf["c_lo"].to_numpy(np.int64)
    c_hi = pdf["c_hi"].to_numpy(np.int64)
    verts = np.unique(np.concatenate([lo, hi]))
    l = np.searchsorted(verts, lo).astype(np.int32)
    h = np.searchsorted(verts, hi).astype(np.int32)
    n_local = len(verts)
    col = np.empty(n_local, dtype=np.int64)
    col[l] = c_lo
    col[h] = c_hi
    # membership structure: sorted packed {min,max} local-id pair keys,
    # fronted by a one-shot hash table of one bool byte per slot, 8-16
    # slots per edge (so 8-16 B per edge; ≤64 MiB at table_bits ≤ 26)
    # — the closure probe is THE kernel hotspot (measured 71% of wall as
    # pure searchsorted: log2(m_sub) DRAM-missing loads per wedge), and
    # the prefilter turns ~88% of probes into a single load, leaving the
    # binary search only for (triangles + ~12% false positives).
    ekey = (np.minimum(l, h).astype(np.int64) << 32) | np.maximum(l, h)
    skey = np.sort(ekey)
    table_bits = max(16, min(26, int(np.ceil(np.log2(max(len(skey), 1) * 8)))))
    _mult = np.uint64(0x9E3779B97F4A7C15)
    _shift = np.uint64(64 - table_bits)
    with np.errstate(over="ignore"):
        prefilter = np.zeros(1 << table_bits, dtype=bool)
        prefilter[(skey.astype(np.uint64) * _mult) >> _shift] = True
    # edges sorted by (tail, neighbor color) — one int64 composite key.
    # p_span must cover the TRIPLE's colors too: segs() probes tail*span+c
    # for triple colors that may exceed any color present in this
    # subproblem, and a too-small span would alias such probes onto other
    # tails' key ranges.
    p_span = max(int(col.max()), int(triple[0]), int(triple[1]),
                 int(triple[2])) + 2
    nbr_col = col[h]
    order = np.argsort(l.astype(np.int64) * p_span + nbr_col, kind="stable")
    lt, ht = l[order], h[order]
    key_sorted = lt.astype(np.int64) * p_span + nbr_col[order]
    utails = np.unique(lt)
    tcol = col[utails]

    def segs(c: int) -> tuple[np.ndarray, np.ndarray]:
        s = np.searchsorted(key_sorted, utails.astype(np.int64) * p_span + c)
        e = np.searchsorted(key_sorted, utails.astype(np.int64) * p_span + c + 1)
        return s, e - s

    t0, t1, t2 = int(triple[0]), int(triple[1]), int(triple[2])

    def comb2(tail_mask, c):
        """C(k,2) pairs within each selected tail's color-c segment."""
        s, k = segs(c)
        s, k = s[tail_mask], k[tail_mask]
        first = _seg_expand(s, k)                    # every edge of the seg
        pos = _seg_expand(np.zeros(len(s), dtype=np.int64), k)
        per_first = np.repeat(k, k) - pos - 1        # pairs it leads
        return first, per_first, first + 1

    def cross(tail_mask, ca, cb):
        """A×B products between each selected tail's color-ca and
        color-cb segments."""
        sa, ka = segs(ca)
        sb, kb = segs(cb)
        sa, ka, sb, kb = sa[tail_mask], ka[tail_mask], sb[tail_mask], kb[tail_mask]
        live = (ka > 0) & (kb > 0)
        sa, ka, sb, kb = sa[live], ka[live], sb[live], kb[live]
        first = _seg_expand(sa, ka)                  # every A edge
        per_first = np.repeat(kb, ka)                # pairs = its tail's |B|
        second_base = np.repeat(sb, ka)
        return first, per_first, second_base

    # color-multiset cases: multiset(tail, nbr1, nbr2) == (t0, t1, t2)
    if t0 == t1 == t2:
        plans = [comb2(tcol == t0, t0)]
    elif t0 == t1:                       # (x, x, y)
        plans = [cross(tcol == t0, t0, t2), comb2(tcol == t2, t0)]
    elif t1 == t2:                       # (x, y, y)
        plans = [cross(tcol == t1, t0, t1), comb2(tcol == t0, t1)]
    else:                                # distinct
        plans = [cross(tcol == t0, t1, t2),
                 cross(tcol == t1, t0, t2),
                 cross(tcol == t2, t0, t1)]

    for first, per_first, second_base in plans:
        for i_idx, j_idx in _pair_chunks(first, per_first, second_base,
                                         _TRI_CHUNK_PAIRS):
            tail = lt[i_idx]
            x, y = ht[i_idx], ht[j_idx]
            bb = np.minimum(x, y)
            cc = np.maximum(x, y)
            # closure: {bb,cc} must be an edge of the subproblem —
            # hash prefilter first, exact binary search on survivors only
            pk = (bb.astype(np.int64) << 32) | cc
            with np.errstate(over="ignore"):
                maybe = prefilter[(pk.astype(np.uint64) * _mult) >> _shift]
            tail, bb, cc, pk = tail[maybe], bb[maybe], cc[maybe], pk[maybe]
            idx = np.searchsorted(skey, pk)
            np.minimum(idx, len(skey) - 1, out=idx)
            closed = skey[idx] == pk
            tail, bb, cc = tail[closed], bb[closed], cc[closed]
            ab = ac = None
            bc = idx[closed]
            if want_sides:
                ab = np.searchsorted(
                    skey,
                    (np.minimum(tail, bb).astype(np.int64) << 32)
                    | np.maximum(tail, bb))
                ac = np.searchsorted(
                    skey,
                    (np.minimum(tail, cc).astype(np.int64) << 32)
                    | np.maximum(tail, cc))
            yield tail, bb, cc, verts, skey, ab, ac, bc


def _tri_kernel(key, pdf):
    a_out, b_out, c_out = [], [], []
    for tail, bb, cc, verts, _, _, _, _ in _local_triangle_chunks(pdf, key):
        a_out.append(verts[tail])
        b_out.append(verts[bb])
        c_out.append(verts[cc])
    if not a_out:
        return pd.DataFrame({"a": pd.Series(dtype="int64"),
                             "b": pd.Series(dtype="int64"),
                             "c": pd.Series(dtype="int64")})
    return pd.DataFrame({"a": np.concatenate(a_out),
                         "b": np.concatenate(b_out),
                         "c": np.concatenate(c_out)})


def _total_kernel(key, pdf):
    n = 0
    for tail, _, _, _, _, _, _, _ in _local_triangle_chunks(pdf, key):
        n += len(tail)
    return pd.DataFrame({"cnt": np.array([n], dtype=np.int64)})


def _corner_kernel(key, pdf):
    acc = None
    verts = None
    for tail, bb, cc, v, _, _, _, _ in _local_triangle_chunks(pdf, key):
        if acc is None:
            acc = np.zeros(len(v), dtype=np.int64)
            verts = v
        np.add.at(acc, tail, 1)
        np.add.at(acc, bb, 1)
        np.add.at(acc, cc, 1)
    if acc is None:
        return pd.DataFrame({"id": pd.Series(dtype="int64"),
                             "cnt": pd.Series(dtype="int64")})
    nz = np.flatnonzero(acc)
    return pd.DataFrame({"id": verts[nz], "cnt": acc[nz]})


def _edge_kernel(key, pdf):
    acc = None
    verts = skey = None
    for tail, _, _, v, sk, ab, ac, bc in _local_triangle_chunks(
            pdf, key, want_sides=True):
        if acc is None:
            acc = np.zeros(len(sk), dtype=np.int64)
            verts, skey = v, sk
        np.add.at(acc, ab, 1)
        np.add.at(acc, ac, 1)
        np.add.at(acc, bc, 1)
    if acc is None:
        return pd.DataFrame({"u": pd.Series(dtype="int64"),
                             "v": pd.Series(dtype="int64"),
                             "cnt": pd.Series(dtype="int64")})
    nz = np.flatnonzero(acc)
    keys = skey[nz]
    return pd.DataFrame({"u": verts[keys >> 32],
                         "v": verts[keys & 0xFFFFFFFF],
                         "cnt": acc[nz]})


def _partitioned(graph: Graph, kernel, schema: str, p: int | None) -> DataFrame:
    if p is None:
        p = _tri_default_p(graph.edges.sparkSession)
    rep = _replicated_edges(graph, p)
    return rep.groupBy("t1", "t2", "t3").applyInPandas(kernel, schema)


def triangles(graph: Graph, p: int | None = None) -> DataFrame:
    """All triangles, once each, as (a, b, c): a is the triangle's
    orientation-minimal vertex ((degree, id) order), b < c by id.

    Partition-local color-triple closure (see module banner above
    `_replicated_edges`): one p·m-row shuffle, then each subproblem
    enumerates its wedges and closure in numpy with zero further
    exchange. p defaults to `_tri_default_p`."""
    return _partitioned(graph, _tri_kernel, "a long, b long, c long", p)


def triangle_counts(graph: Graph, p: int | None = None) -> DataFrame:
    """(id, triangles) — triangles incident to each vertex, each counted ONCE
    (reference tr(u) = 2 × this; every vertex present, 0 if none).

    Each subproblem emits per-vertex PARTIAL counts (bincount over its
    canonical triangles' corners, ≤ its local vertex count in rows) — the
    global agg shuffles vertex-bounded partials, never per-triangle
    rows."""
    partial = _partitioned(graph, _corner_kernel, "id long, cnt long", p)
    cnt = partial.groupBy("id").agg(F.sum("cnt").alias("triangles"))
    return (
        graph.vertices()
        .join(cnt, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )


def total_triangles(graph: Graph, p: int | None = None) -> int:
    """Total number of distinct triangles in the graph. Reduces ONE long
    per subproblem — no per-triangle rows cross the Python/JVM boundary
    at all."""
    part = _partitioned(graph, _total_kernel, "cnt long", p)
    return int(part.agg(F.sum("cnt")).first()[0] or 0)


def global_clustering_coefficient(graph: Graph) -> float:
    """exactGlobal (ClusteringCoefficient.cpp:195-206):
    Σ_u 2·tri(u) / Σ_u deg(u)·(deg(u)-1). 18/34 on the golden fixture."""
    ordered, deg = _oriented_edges(graph)
    tri = triangle_counts(graph)
    num = tri.agg(F.sum(F.col("triangles") * 2)).first()[0] or 0
    den = deg.agg(F.sum(F.col("degree") * (F.col("degree") - 1))).first()[0] or 0
    if den == 0:
        return 0.0
    return num / den


def triangle_edge_scores(graph: Graph, p: int | None = None) -> DataFrame:
    """(u, v, triangles) — triangles containing each simple undirected
    edge {u,v} (u < v). Reference: TriangleEdgeScore
    (networkit/cpp/edgescores/TriangleEdgeScore.cpp:18-120); same
    degree-ordered enumeration, scores scattered back to the three edges
    of each triangle. Every edge present, 0 when in no triangle.
    Subproblems emit per-EDGE partial counts (edge-bounded, never
    per-triangle rows)."""
    partial = _partitioned(graph, _edge_kernel, "u long, v long, cnt long", p)
    cnt = partial.groupBy("u", "v").agg(F.sum("cnt").alias("triangles"))
    return (
        graph.simple_undirected_edges()
        .join(cnt, ["u", "v"], "left")
        .select("u", "v", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )


def approx_global_clustering_coefficient(graph: Graph, n_samples: int = 10000,
                                         seed: int = 42) -> float:
    """Wedge-sampling estimator (ClusteringCoefficient::approxGlobal,
    networkit/cpp/global/ClusteringCoefficient.cpp:209-270): sample
    wedges proportionally to deg·(deg-1) per pivot, test closure; the
    closed fraction estimates the global coefficient.

    Deterministic: pivots drawn by hashing the sample index against the
    cumulative wedge-count distribution; wedge endpoints drawn by hashed
    index into the pivot's (sorted) adjacency — no RNG state, executors
    regenerate their samples independently."""
    simple = graph.simple_undirected_edges()
    adj = (
        simple.select(F.col("u").alias("id"), F.col("v").alias("nbr"))
        .unionByName(simple.select(F.col("v").alias("id"), F.col("u").alias("nbr")))
    )
    # adjacency arrays + per-pivot wedge counts
    nbrs = adj.groupBy("id").agg(F.sort_array(F.collect_list("nbr")).alias("nbrs"))
    nbrs = nbrs.withColumn("deg", F.size("nbrs")).filter(F.col("deg") >= 2)
    nbrs = nbrs.withColumn("wedges", (F.col("deg") * (F.col("deg") - 1) / 2).cast("long"))
    from networkit_spark.plans.ranking import global_prefix_sums

    # NB: named cum_off, not "offset" — DataFrame.offset() is a method in
    # pyspark 4 and attribute access would resolve to it, not the column.
    # Two-phase exclusive prefix sum (plans/ranking.py) — no global window.
    cum = global_prefix_sums(nbrs, "id", "wedges", out_col="cum_off")
    total_wedges = cum.agg(F.sum("wedges")).first()[0] or 0
    if total_wedges == 0:
        return 0.0

    spark = graph.edges.sparkSession
    samples = spark.range(n_samples).select(
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(total_wedges))).alias("widx"),
        F.col("id").alias("sample_id"),
    )
    # pivot = the vertex whose cumulative wedge range contains widx
    picked = samples.join(
        cum,
        (samples.widx >= cum.cum_off) & (samples.widx < cum.cum_off + cum.wedges),
    )
    # unrank wedge (i, j) within the pivot: i < j over deg neighbors
    picked = picked.select(
        "sample_id",
        "nbrs",
        "deg",
        (F.col("widx") - F.col("cum_off")).alias("k"),
    )
    # linear unranking: i = floor(((2d-1) - sqrt((2d-1)^2 - 8k)) / 2)
    d = F.col("deg").cast("double")
    k = F.col("k").cast("double")
    i = F.floor(((2 * d - 1) - F.sqrt((2 * d - 1) * (2 * d - 1) - 8 * k)) / 2)
    j = (F.col("k") - i * (2 * d - i - 1) / 2 + i + 1).cast("long")
    wedge = picked.select(
        "sample_id",
        F.element_at("nbrs", (i + 1).cast("int")).alias("x"),
        F.element_at("nbrs", (j + 1).cast("int")).alias("y"),
    )
    closed = wedge.join(
        simple,
        (F.least("x", "y") == F.col("u")) & (F.greatest("x", "y") == F.col("v")),
        "left_semi",
    ).count()
    return closed / n_samples


def extract_largest_connected_component(graph: Graph, compact: bool = False) -> Graph:
    """ConnectedComponents::extractLargestConnectedComponent
    (ConnectedComponentsImpl.cpp:71-95): induced subgraph on the biggest
    component; compact=True relabels ids to 0..n-1."""
    from networkit_spark.graphtools import compact_graph, subgraph_from_nodes
    from networkit_spark.operators.components import connected_components

    res = connected_components(graph)
    top = (
        res.component_sizes().orderBy(F.desc("size"), F.asc("label")).limit(1)
        .select("label")
    )
    members = res.labels.join(F.broadcast(top), "label").select("id")
    sub = subgraph_from_nodes(graph, members)
    return compact_graph(sub) if compact else sub


def local_clustering_coefficients(graph: Graph, turbo: bool = True) -> DataFrame:
    """(id, score) — LocalClusteringCoefficient.cpp:82: score[u] =
    2·tri(u) / (deg(u)·(deg(u)-1)); 0 when deg < 2. (`turbo` kept for API
    parity — this plan IS the turbo orientation.)"""
    _, deg = _oriented_edges(graph)
    tri = triangle_counts(graph)
    return (
        graph.vertices()
        .join(deg, "id", "left")
        .join(tri, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("score"),
        )
    )
