"""Every metric the benchmark prints: name → unit, direction and, for
end-to-end metrics, the regression bound; for per-layer metrics, the
end-to-end metric each should move and on which workloads.

BENCHMARK.json repeats names, units, directions and bounds;
`selftest.py` checks that the two agree.
"""

from __future__ import annotations

from tracing import COUNTERS

WORKLOADS = {
    "rmat_structure": "symmetric RMAT edge table through components contraction, "
                      "label messages and the numpy triangle kernel in Python workers",
    "crawl_ingest": "uniform low-skew crawl built from html by Arrow UDFs; extraction "
                    "and writes dominate, durable PageRank snapshots and a resume",
}

# name → (unit, better, bound): printed by every untraced run.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_s": ("s", "lower", 0.25),
}

ST, CR = "rmat_structure", "crawl_ingest"
ALL = (ST, CR)

# layer → the workloads that call it
LAYERS = {
    "session": ALL,
    "sources.pages": (CR,),
    "sources.bucketed": (CR,),
    "operators.pagerank": (CR,),
    "operators.components": (ST,),
    "operators.labelprop": (ST,),
    "operators.triangles": (ST,),
    "plans.iterative": (CR,),
}

# name → (unit, better, end-to-end metric it should move, workloads).
# Layer metrics of a workload that never calls the layer read 0.
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "operators.pagerank.prepare_s": ("s", "lower", "pass_s", (CR,)),
    "operators.pagerank.solve_s": ("s", "lower", "pass_s", (CR,)),
    "operators.pagerank.supersteps": ("count", "lower", "pass_s", (CR,)),
    "operators.pagerank.superstep_s": ("s", "lower", "pass_s", (CR,)),
    "operators.pagerank.edges_per_s": ("arcs/s", "higher", "pass_s", (CR,)),
    "plans.iterative.save_s": ("s", "lower", "pass_s", (CR,)),
    "plans.iterative.saves": ("count", "lower", "pass_s", (CR,)),
    "plans.iterative.snapshot_bytes": ("B", "lower", "pass_s", (CR,)),
    "plans.iterative.resume_s": ("s", "lower", "pass_s", (CR,)),
    "sources.pages.extract_text_s": ("s", "lower", "pass_s", (CR,)),
    "sources.pages.pages_to_edges_s": ("s", "lower", "pass_s", (CR,)),
    "sources.pages.pages_per_s": ("pages/s", "higher", "pass_s", (CR,)),
    "sources.pages.html_bytes": ("B", "higher", "pass_s", (CR,)),
    "sources.pages.arcs": ("count", "higher", "pass_s", (CR,)),
    "sources.pages.text_mismatches": ("count", "lower", "pass_s", (CR,)),
    "sources.bucketed.write_s": ("s", "lower", "pass_s", (CR,)),
    "sources.bucketed.bytes": ("B", "lower", "pass_s", (CR,)),
    "operators.components.cc_s": ("s", "lower", "pass_s", (ST,)),
    "operators.components.rounds": ("count", "lower", "pass_s", (ST,)),
    "operators.components.edge_shrink": ("ratio", "lower", "pass_s", (ST,)),
    "operators.labelprop.plp_s": ("s", "lower", "pass_s", (ST,)),
    "operators.labelprop.sweep_s": ("s", "lower", "pass_s", (ST,)),
    "operators.triangles.triangles_s": ("s", "lower", "pass_s", (ST,)),
    "operators.triangles.count": ("count", "higher", "pass_s", (ST,)),
    "operators.triangles.triangles_per_s": ("1/s", "higher", "pass_s", (ST,)),
}
# Spark counters of every layer, from the traced run's event log.
for _layer, _uses in LAYERS.items():
    for _c, (_unit, _better) in COUNTERS.items():
        PER_LAYER[f"{_layer}.{_c}"] = (
            _unit, _better, "setup_s" if _layer == "session" else "pass_s", _uses)
# The traced run's own end-to-end figures (traced minus untraced is the
# tracing overhead), and two diagnostics of the host: its steal share and
# the Spark JVM's high-water RSS (VmHWM), which is not an end-to-end
# metric because it follows the JVM's heap sizing more than the work (24%
# spread between seeds at equal work).
PER_LAYER.update({
    "trace.setup_s": ("s", "lower", "setup_s", ALL),
    "trace.pass_s": ("s", "lower", "pass_s", ALL),
    "host.steal_pct": ("%", "lower", "pass_s", ALL),
    "host.jvm_peak_rss_mb": ("MiB", "lower", "pass_s", ALL),
})
