"""Independent single-node oracles for the benchmark's outputs.

PageRank is a numpy power iteration with
the reference semantics of tests/oracle/pagerank.py (default parameters:
no sink handling, L2 convergence norm, final L1 normalization), components
are a union-find, label propagation is the synchronous sweep of
tests/oracle/plp.py vectorized, and the triangle count is a DuckDB
self-join; none of these import the engine. Extracted text is checked
against the engine's frozen single-row `reference_extract`, which is the
definition of correct extraction.
"""

from __future__ import annotations

import numpy as np


def _dense(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids ascending, dense src, dense dst). Dense order preserves id
    order, so a minimum over dense ids is the minimum over ids."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src: np.ndarray, dst: np.ndarray, tol: float,
             damp: float = 0.85, max_iterations: int | None = None):
    """Directed, unweighted. Returns (ids, scores, supersteps)."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    frac = 1.0 / outdeg[s]
    score = np.full(n, 1.0 / n)
    iterations = 0
    while True:
        pr = np.bincount(d, weights=score[s] * frac, minlength=n) * damp + (1.0 - damp) / n
        iterations += 1
        diff = np.sqrt(((score - pr) ** 2).sum())
        score = pr
        if (max_iterations is not None and iterations >= max_iterations) or diff <= tol:
            break
    return ids, score / score.sum(), iterations


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the edges. Returns (ids, label) with label = the
    minimum id in the vertex's component."""
    ids, s, d = _dense(src, dst)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(s.tolist(), d.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            # keep the smaller dense id as root: the root is the component minimum
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    roots = np.array([find(x) for x in range(len(ids))], dtype=np.int64)
    return ids, ids[roots]


def label_propagation(src: np.ndarray, dst: np.ndarray, sweeps: int
                      ) -> tuple[np.ndarray, np.ndarray]:
    """`sweeps` synchronous sweeps on an undirected simple graph given as
    one row per edge: each vertex adopts its neighbours' most frequent
    label, ties to the smallest label. Returns (ids, label)."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    to = np.concatenate([d, s])
    frm = np.concatenate([s, d])
    label = np.arange(n, dtype=np.int64)
    for _ in range(sweeps):
        pairs, counts = np.unique(to * n + label[frm], return_counts=True)
        node, lbl = pairs // n, pairs % n
        order = np.lexsort((lbl, -counts, node))
        first = order[np.r_[True, node[order][1:] != node[order][:-1]]]
        new = label.copy()
        new[node[first]] = lbl[first]
        label = new
    return ids, ids[label]


def triangles(edges_path: str, threads: int, temp_dir: str) -> int:
    """Triangle count of the undirected graph in a parquet edge table."""
    import duckdb

    con = duckdb.connect(config={"threads": threads, "temp_directory": temp_dir})
    try:
        return con.execute(
            """
            WITH e AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM read_parquet(?) WHERE src <> dst)
            SELECT count(*) FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            """,
            [edges_path],
        ).fetchone()[0]
    finally:
        con.close()


def page_links(urls, htmls) -> tuple[set, list[str]]:
    """Distinct (src_url, dst_url) links and the extracted text of every
    page, by the frozen single-row extractor."""
    from networkit_spark.sources.pages import reference_extract

    links, texts = set(), []
    for url, html in zip(urls, htmls):
        hrefs, text = reference_extract(html)
        links.update((url, h) for h in hrefs if h != url)
        texts.append(text)
    return links, texts
