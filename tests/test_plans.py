"""Plan-quality regression tests: pushdown/pruning/plan shape must not
silently regress (PLANS.md invariants)."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.pagerank import pagerank
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.triangles import total_triangles
from networkit_spark.sources.tables import derive_web_edges


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_derivation_prunes_scan(spark):
    """The lineitem scan must read exactly 2 of 16 columns."""
    e = derive_web_edges(spark, "/root/testdata/sf0.001")
    plan = _physical(e)
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>" in plan
    # dedup combines map-side: partial HashAggregate below the exchange
    assert plan.count("HashAggregate") >= 2


def test_documents_scan_prunes_text_ops(spark):
    """token_stats only needs doc_id + text — not lang/source/n_chars."""
    from networkit_spark.functions.text import token_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _physical(token_stats(docs))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id")
    plan = _physical(q)
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan


# ------------------------------------------------------------- edge cases
def test_pagerank_empty_graph_raises(spark):
    e = spark.createDataFrame([], "src long, dst long, weight double")
    g = Graph.from_edges(e, directed=True)
    with pytest.raises(ValueError, match="empty"):
        pagerank(g, max_iterations=1)


def test_cc_singleton_only(spark):
    e = spark.createDataFrame([], "src long, dst long, weight double")
    v = spark.range(3)
    g = Graph.from_edges(e, directed=False, vertices=v)
    res = connected_components(g)
    assert res.number_of_components() == 3


def test_triangles_edgeless(spark):
    e = spark.createDataFrame([], "src long, dst long, weight double")
    v = spark.range(4)
    g = Graph.from_edges(e, directed=False, vertices=v)
    assert total_triangles(g) == 0


# ----------------------------------------------- global-window source lock
def test_no_unbounded_global_windows():
    """No `Window.orderBy(...)` without partitionBy anywhere in the
    package outside plans/ranking.py (the two-phase implementation) or a
    line explicitly justified with a `bounded-window` marker within the
    three preceding lines (cardinality bounded by partition count /
    diameter / single-file format, not data size)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "networkit_spark"
    offenders = []
    for path in pkg.rglob("*.py"):
        if path.name == "ranking.py":
            continue
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if re.search(r"Window\.orderBy", line):
                context = "\n".join(lines[max(0, i - 3): i + 1])
                if "bounded-window" not in context:
                    offenders.append(f"{path.name}:{i + 1}: {line.strip()}")
    assert not offenders, f"unjustified global windows: {offenders}"


# ---------------------------------------------- environment-read source lock
def test_only_session_reads_environment():
    """Engine behavior is set through function arguments, not environment
    variables: only session.py (deployment settings: cores, driver heap)
    may read `os.environ` / `os.getenv`."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "networkit_spark"
    offenders = []
    for path in pkg.rglob("*.py"):
        if path.relative_to(pkg).as_posix() == "session.py":
            continue
        for i, line in enumerate(path.read_text().splitlines()):
            if re.search(r"\benviron\b|\bgetenv\b", line):
                offenders.append(f"{path.relative_to(pkg)}:{i + 1}: {line.strip()}")
    assert not offenders, f"environment reads outside session.py: {offenders}"


def test_two_phase_rank_matches_global_window(spark):
    from pyspark.sql import Window

    from networkit_spark.plans.ranking import (
        global_prefix_sums,
        global_row_numbers,
    )

    df = (
        spark.range(10_000)
        .select(F.xxhash64("id").alias("key"))
        .distinct()
        .withColumn("val", F.pmod(F.col("key"), F.lit(7)) + 1)
    )
    got = {
        r["key"]: r["rn"] for r in global_row_numbers(df, "key", "rn").collect()
    }
    # bounded-window: oracle side of the equivalence test only
    w = Window.orderBy("key")
    want = {
        r["key"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w) - 1).collect()
    }
    assert got == want

    got_c = {
        r["key"]: r["cum"]
        for r in global_prefix_sums(df, "key", "val", "cum").collect()
    }
    wc = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, -1)
    want_c = {
        r["key"]: r["cum"]
        for r in df.withColumn(
            "cum", F.coalesce(F.sum("val").over(wc), F.lit(0))
        ).collect()
    }
    assert got_c == want_c
