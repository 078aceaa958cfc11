"""The workloads. Each pass calls the engine's public functions under
one span per layer call, collects the results inside the span, and hands
them to `check`, which compares them with the oracles outside any timed
window.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracles
from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components_twophase
from networkit_spark.operators.labelprop import label_propagation_fixed
from networkit_spark.operators.pagerank import PreparedPageRank, pagerank
from networkit_spark.operators.triangles import total_triangles
from networkit_spark.plans.iterative import Checkpointer
from networkit_spark.sources.bucketed import read_bucketed_graph, write_edges_bucketed
from networkit_spark.sources.pages import extract_text, generate_pages, pages_to_edges

TOL = 1e-6            # PageRank convergence tolerance (L2)
PLP_SWEEPS = 2         # synchronous PLP can oscillate: fixed sweeps
# A warm-up pass runs every step once on a quarter-size input, with
# iterative steps cut short: it pays the first-call costs (class loading,
# JIT, code generation, Python worker start) that would otherwise land in
# the first measured pass. A tiny input leaves the per-row loops cold (the
# first measured pass then ran ~60% over steady state); more iterations
# would add only steady-state time.
WARMUP_SUPERSTEPS = 2
WARMUP_CC_ROUNDS = 1
WARMUP_PLP_SWEEPS = 1
PR_RTOL = 1e-6         # engine vs numpy PageRank
RESUME_RTOL = 1e-9     # resumed vs uninterrupted run (same arithmetic)


class Checks:
    """Counts oracle checks; a mismatch is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def expect(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)


class TimedCheckpointer(Checkpointer):
    """The engine's durable Checkpointer with each snapshot write and each
    snapshot lookup timed as a `plans.iterative` layer call."""

    def __init__(self, spark, path, tracer, pass_no, algorithm):
        super().__init__(spark, path, algorithm=algorithm)
        self.tracer, self.pass_no = tracer, pass_no
        self.saves: list[dict] = []

    def save(self, df, iteration, metrics=None):
        with self.tracer.span("plans.iterative.save", self.pass_no) as rec:
            out = super().save(df, iteration, metrics)
        rec["bytes"] = _dir_bytes(os.path.join(self.path, f"iter={iteration}"))
        self.saves.append(rec)
        return out

    def latest(self):
        with self.tracer.span("plans.iterative.latest", self.pass_no):
            return super().latest()


def _by_id(pdf, col):
    pdf = pdf.sort_values("id")
    return pdf["id"].to_numpy(), pdf[col].to_numpy()


def _same_labels(got, want) -> bool:
    return np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])


def _close(got, want, rtol) -> bool:
    return np.array_equal(got[0], want[0]) and np.allclose(got[1], want[1], rtol=rtol, atol=0.0)


def _perturb(pair):
    """A copy of (ids, values) with one value made wrong."""
    vals = pair[1].copy()
    vals[len(vals) // 2] += 1 if vals.dtype.kind == "i" else vals[len(vals) // 2] * 1e-3
    return pair[0], vals


def _superstep_s(start: float, saves: list[dict]) -> float:
    """Median interval between consecutive superstep snapshots."""
    ends = [start] + [s["end"] for s in saves]
    return statistics.median(b - a for a, b in zip(ends, ends[1:]))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    """Subclasses define the inputs, one pass, the oracle and the checks.
    `pass_no` is None for the warm-up pass, whose layer calls are neither
    counted nor traced."""

    sizes: dict[str, int]

    def __init__(self, spark, tracer, work: str, size: str, nproc: int, corrupt: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.size, self.nproc, self.corrupt = self.sizes[size], nproc, corrupt


class RmatStructure(Workload):
    """Undirected simple RMAT graph → connected_components_twophase →
    label_propagation_fixed (2 sweeps) → total_triangles."""

    sizes = {"full": 14, "tiny": 8}  # RMAT scale

    def make_inputs(self, seed, warmup=False):
        scale = self.size - 2 if warmup else self.size
        path = os.path.join(self.work, f"rmat_undirected_{scale}.parquet")
        src, dst = inputs.undirected_edges(*inputs.rmat_arcs(scale, seed))
        inputs.write_edges(path, src, dst)
        return {"path": path, "edges": len(src)}

    def expected(self, inp):
        src, dst = inputs.read_edges(inp["path"])
        tmp = os.path.join(self.work, "duckdb")
        os.makedirs(tmp, exist_ok=True)
        return {
            "cc": oracles.components(src, dst),
            "plp": oracles.label_propagation(src, dst, PLP_SWEEPS),
            "triangles": oracles.triangles(inp["path"], self.nproc, tmp),
        }

    def run_pass(self, inp, pass_no, warmup=False):
        g = Graph.from_edges(self.spark.read.parquet(inp["path"]), directed=False)
        cc_args = {"max_rounds": WARMUP_CC_ROUNDS} if warmup else {}
        with self.tracer.span("operators.components.twophase", pass_no) as cc_rec:
            cc = connected_components_twophase(g, **cc_args)
            cc_labels = cc.labels.toPandas()
        with self.tracer.span("operators.labelprop.fixed", pass_no) as plp_rec:
            plp_labels = label_propagation_fixed(
                g, WARMUP_PLP_SWEEPS if warmup else PLP_SWEEPS).toPandas()
        with self.tracer.span("operators.triangles.total", pass_no) as tri_rec:
            tri = total_triangles(g)
        return {
            "steps": [cc_rec, plp_rec, tri_rec],
            "cc": _by_id(cc_labels, "label"),
            "plp": _by_id(plp_labels, "label"),
            "triangles": tri,
            "layer": {
                "operators.components.cc_s": cc_rec["wall_s"],
                "operators.components.rounds": cc.iterations,
                "operators.components.edge_shrink":
                    cc.history[0]["edges"] / inp["edges"] if cc.history else 1.0,
                "operators.labelprop.plp_s": plp_rec["wall_s"],
                "operators.labelprop.sweep_s": plp_rec["wall_s"] / PLP_SWEEPS,
                "operators.triangles.triangles_s": tri_rec["wall_s"],
                "operators.triangles.count": tri,
                "operators.triangles.triangles_per_s": tri / tri_rec["wall_s"],
            },
        }

    def check(self, out, exp, checks):
        cc, plp, tri = out["cc"], out["plp"], out["triangles"]
        if self.corrupt:
            cc, plp, tri = _perturb(cc), _perturb(plp), tri + 1
        checks.expect("components.labels", _same_labels(cc, exp["cc"]))
        checks.expect("labelprop.labels", _same_labels(plp, exp["plp"]))
        checks.expect("triangles.count", tri == exp["triangles"])


class CrawlIngest(Workload):
    """generate_pages corpus → extract_text, pages_to_edges → bucketed edge
    table → PreparedPageRank(src_partitioned) → durable pagerank, then a
    simulated crash (snapshots after the mid-run superstep deleted) and a
    resumed run."""

    sizes = {"full": 30000, "tiny": 1000}  # pages
    OUT_LINKS = 8
    TABLE = "perfbench_crawl_edges"

    def make_inputs(self, seed, warmup=False):
        n = self.size // 4 if warmup else self.size
        path = os.path.join(self.work, f"pages_{n}.parquet")
        generate_pages(self.spark, n, out_links=self.OUT_LINKS, seed=seed).write.mode(
            "overwrite").parquet(path)
        html = pq.read_table(path, columns=["html"]).column("html")
        return {"path": path, "pages": n,
                "html_bytes": sum(len(b) for b in html.to_pylist())}

    def expected(self, inp):
        t = pq.read_table(inp["path"], columns=["url", "html"])
        urls = t.column("url").to_pylist()
        links, texts = oracles.page_links(urls, t.column("html").to_pylist())
        order = np.argsort(np.array(urls, dtype=object))
        return {"arcs": len(links),
                "text": (np.array(urls, dtype=object)[order],
                         np.array(texts, dtype=object)[order])}

    def run_pass(self, inp, pass_no, warmup=False):
        text_path = os.path.join(self.work, "crawl_text")
        table_path = os.path.join(self.work, "crawl_edges_bucketed")
        ckpt_path = os.path.join(self.work, "crawl_checkpoints")
        shutil.rmtree(ckpt_path, ignore_errors=True)
        pages = self.spark.read.parquet(inp["path"])
        with self.tracer.span("sources.pages.extract_text", pass_no) as text_rec:
            extract_text(pages).write.mode("overwrite").parquet(text_path)
        with self.tracer.span("sources.pages.pages_to_edges", pass_no) as edges_rec:
            edges = pages_to_edges(pages).persist()
            arcs = edges.count()
        with self.tracer.span("sources.bucketed.write", pass_no) as write_rec:
            write_edges_bucketed(edges, self.TABLE, self.spark.sparkContext.defaultParallelism,
                                 path=table_path)
        edges.unpersist()
        with self.tracer.span("sources.bucketed.read", pass_no) as read_rec:
            g = read_bucketed_graph(self.spark, self.TABLE)
        with self.tracer.span("operators.pagerank.prepare", pass_no) as prep_rec:
            prep = PreparedPageRank(g, src_partitioned=True)
        ckpt = TimedCheckpointer(self.spark, ckpt_path, self.tracer, pass_no, "pagerank")
        max_iterations = WARMUP_SUPERSTEPS if warmup else None
        with self.tracer.span("operators.pagerank.solve", pass_no) as solve_rec:
            full = pagerank(g, tol=TOL, prepared=prep, checkpointer=ckpt,
                            max_iterations=max_iterations)
            full_scores = full.scores.toPandas()
        full_saves = list(ckpt.saves)
        # Simulated crash: the snapshots after the mid-run superstep are lost.
        mid = max(full.iterations // 2, 1)
        for k in range(mid + 1, full.iterations + 1):
            shutil.rmtree(os.path.join(ckpt_path, f"iter={k}"))
        with self.tracer.span("plans.iterative.resume", pass_no) as resume_rec:
            resumed = pagerank(g, tol=TOL, prepared=prep, checkpointer=ckpt, resume=True,
                               max_iterations=max_iterations)
            resumed_scores = resumed.scores.toPandas()
        prep.unpersist()
        ingest_s = text_rec["wall_s"] + edges_rec["wall_s"] + write_rec["wall_s"]
        text = pq.read_table(text_path).to_pandas().sort_values("url")
        return {
            "steps": [text_rec, edges_rec, write_rec, read_rec, prep_rec, solve_rec,
                      resume_rec],
            "arcs": arcs,
            "text": (text["url"].to_numpy(), text["text"].to_numpy()),
            "table": table_path,
            "scores": _by_id(full_scores, "score"),
            "supersteps": full.iterations,
            "resumed": _by_id(resumed_scores, "score"),
            "resumed_supersteps": resumed.iterations,
            "layer": {
                "sources.pages.extract_text_s": text_rec["wall_s"],
                "sources.pages.pages_to_edges_s": edges_rec["wall_s"],
                "sources.pages.pages_per_s": inp["pages"] / ingest_s,
                "sources.pages.html_bytes": inp["html_bytes"],
                "sources.pages.arcs": arcs,
                "sources.bucketed.write_s": write_rec["wall_s"],
                "sources.bucketed.bytes": _dir_bytes(table_path),
                "operators.pagerank.prepare_s": prep_rec["wall_s"],
                "operators.pagerank.solve_s": solve_rec["wall_s"],
                "operators.pagerank.supersteps": full.iterations,
                "operators.pagerank.superstep_s": _superstep_s(solve_rec["start"], full_saves),
                "operators.pagerank.edges_per_s": arcs * full.iterations / solve_rec["wall_s"],
                "plans.iterative.save_s": sum(s["wall_s"] for s in ckpt.saves),
                "plans.iterative.saves": len(ckpt.saves),
                "plans.iterative.snapshot_bytes": sum(s["bytes"] for s in ckpt.saves),
                "plans.iterative.resume_s": resume_rec["wall_s"],
            },
        }

    def check(self, out, exp, checks):
        urls, text = out["text"]
        if self.corrupt:
            text = text.copy()
            text[len(text) // 2] = "#" + text[len(text) // 2][1:]
        same_urls = np.array_equal(urls, exp["text"][0])
        mismatches = int((text != exp["text"][1]).sum()) if same_urls else len(urls)
        out["layer"]["sources.pages.text_mismatches"] = mismatches
        checks.expect("pages.text", same_urls and mismatches == 0)
        checks.expect("pages.arcs", out["arcs"] == exp["arcs"])
        ids, want, steps = oracles.pagerank(*inputs.read_edges(out["table"]), TOL)
        scores = _perturb(out["scores"]) if self.corrupt else out["scores"]
        checks.expect("pagerank.scores", _close(scores, (ids, want), PR_RTOL))
        checks.expect("pagerank.supersteps", out["supersteps"] == steps)
        resumed = _perturb(out["resumed"]) if self.corrupt else out["resumed"]
        checks.expect("resume.scores", _close(resumed, out["scores"], RESUME_RTOL)
                      and out["resumed_supersteps"] == out["supersteps"])


WORKLOADS = {"rmat_structure": RmatStructure, "crawl_ingest": CrawlIngest}
