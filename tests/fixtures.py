"""Tiny exact graph fixtures encoded from the reference's GTests
(FIXTURES.md §2). Edge lists are (u, v[, w]) given ONCE per undirected edge."""

# F1 — 20 nodes, 15 undirected edges → exactly 5 components
# (ConnectedComponentsGTest.cpp:32-61)
F1_N = 20
F1_EDGES = [
    (0, 1), (1, 2), (2, 4), (4, 8), (8, 16), (16, 19),
    (3, 5), (5, 6), (6, 7), (7, 9),
    (10, 11), (10, 18), (10, 12), (18, 17),
    (13, 14),
]  # node 15 isolated
F1_COMPONENTS = 5

# F2 — 6 nodes, 8 undirected edges → global CC exactly 18/34, 3 triangles
# (GlobalGTest.cpp:29-41)
F2_N = 6
F2_EDGES = [(0, 1), (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 5), (3, 5)]
F2_GLOBAL_CC = 18.0 / 34.0
F2_TOTAL_TRIANGLES = 3

# F3 — Berberich 5-node directed graph, normalized PageRank published values
# (CentralityGTest.cpp:521-560). Directed arcs; nodes 3, 4 isolated.
F3_N = 5
F3_EDGES_DIRECTED = [(0, 1), (1, 0), (0, 2), (1, 2)]
F3_NORMALIZED_DIRECTED = [1.7391, 1.7391, 2.4781, 1.0, 1.0]      # tol 2e-4
F3_NORMALIZED_UNDIRECTED = [7.4026, 7.4026, 5.1948, 1.0, 1.0]    # tol 2e-4

# F5 — single node with a weighted self-loop: PLP keeps it a singleton
# (CommunityGTest.cpp:241-258)
F5_N = 1
F5_EDGES = [(0, 0, 42.0)]


def planted_cliques(n: int, k: int):
    """F4 — ClusteredRandomGraphGenerator(n, k, pIntra=1.0, pInter=0.0)
    degenerates to k disjoint cliques (ClusteredRandomGraphGenerator.cpp:24-50
    with those probabilities). Deterministic round-robin assignment."""
    members = {c: [] for c in range(k)}
    for v in range(n):
        members[v % k].append(v)
    edges = []
    for c, ms in members.items():
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                edges.append((ms[i], ms[j]))
    planted = {v: min(members[v % k]) for v in range(n)}
    return edges, planted


def erdos_renyi(n: int, p: float, seed: int = 42):
    """F7 — seeded G(n, p) for property tests (ErdosRenyiGenerator semantics)."""
    import random

    rng = random.Random(seed)
    return [(u, v) for u in range(n) for v in range(u + 1, n) if rng.random() < p]


# Zachary karate club: 34 nodes, 78 undirected edges, unweighted — the same
# graph as the reference's input/karate.graph, taken from networkx so the
# tests need no file outside the repository.
KARATE_N = 34


def karate_edges():
    import networkx

    return list(networkx.karate_club_graph().edges())
