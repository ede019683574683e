"""Batched multi-personalization PageRank (operators/pagerank.py::
pagerank_batch): K rankings through one edge scan per round, each column
matching the single-vector kernel.

Reference parity note: the reference runs ONE personalization per process
(ws_pagerank.py:115-139); the batch kernel is scale-path surface
(topic-sensitive PageRank / TrustRank over a shared edge scan).
"""

from __future__ import annotations

import pytest
from conftest import SMALL_EDGES
from pyspark.sql import functions as F

from web_search_pagerank_project_spark import (
    build_graph,
    make_personalization_vector,
    pagerank,
    pagerank_batch,
)


def build(spark, rows):
    return build_graph(spark.createDataFrame(rows, "src string, dst string"), cache=True)


def _pv(graph, needle):
    return make_personalization_vector(graph, needle)


def test_batch_columns_match_single_runs(spark):
    """Fixed iteration count: every batch column equals its lone
    pagerank(v=v_k) run at 1e-12 — uniform, and two different
    personalizations, in one batch."""
    graph = build(spark, SMALL_EDGES)
    vs = {
        "uniform": None,
        "p4": _pv(graph, "4"),
        "p1": _pv(graph, "1"),
    }
    batch = pagerank_batch(graph, vs, max_iterations=7, epsilon=0.0)
    assert batch.iterations == 7 and not batch.converged
    got = {r["id"]: r for r in batch.ranks.collect()}
    for k, v in vs.items():
        lone = pagerank(graph, v=v, max_iterations=7, epsilon=0.0)
        exp = {r["id"]: r["rank"] for r in lone.ranks.collect()}
        assert got.keys() == exp.keys()
        for i, e in exp.items():
            assert got[i][f"rank_{k}"] == pytest.approx(e, abs=1e-12), (k, i)
    graph.unpersist()


def test_batch_converges_and_dominates_each_lone_run(spark):
    """ε-stop semantics: the batch runs to the LAST column's convergence;
    each column ends at least as converged as its lone run (its final
    residual ≤ the lone run's ε bound) and the scores agree within the
    fixed-point neighborhood."""
    graph = build(spark, SMALL_EDGES)
    vs = {"uniform": None, "p4": _pv(graph, "4")}
    batch = pagerank_batch(graph, vs, max_iterations=300, epsilon=1e-8)
    assert batch.converged
    for k in vs:
        assert batch.residuals[k][-1] < 1e-8
    got = {r["id"]: r for r in batch.ranks.collect()}
    for k, v in vs.items():
        lone = pagerank(graph, v=v, max_iterations=300, epsilon=1e-8)
        exp = {r["id"]: r["rank"] for r in lone.ranks.collect()}
        for i, e in exp.items():
            assert got[i][f"rank_{k}"] == pytest.approx(e, abs=1e-6), (k, i)
    graph.unpersist()


def test_batch_validation(spark):
    graph = build(spark, SMALL_EDGES)
    with pytest.raises(ValueError, match="at least one"):
        pagerank_batch(graph, {})
    with pytest.raises(ValueError, match="column-name suffix"):
        pagerank_batch(graph, {"bad key": None}, max_iterations=1)
    zero_v = graph.vertices.select("id", F.lit(0.0).alias("v"))
    with pytest.raises(ValueError, match="zero norm"):
        pagerank_batch(graph, {"z": zero_v}, max_iterations=1)
    outside = spark.createDataFrame(
        [(0, 0.5), (graph.n + 7, 0.5)], "id long, v double"
    )
    with pytest.raises(ValueError, match="outside the graph"):
        pagerank_batch(graph, {"a": None, "o": outside}, max_iterations=1)
    graph.unpersist()


def test_batch_by_url_shape(spark):
    graph = build(spark, SMALL_EDGES)
    res = pagerank_batch(graph, {"a": None, "b": _pv(graph, "4")}, max_iterations=3, epsilon=0.0)
    out = res.by_url(graph)
    assert out.columns == ["url", "rank_a", "rank_b"]
    assert out.count() == graph.n
    graph.unpersist()
