"""Spark engine vs the float64 NumPy oracle and the reference README goldens.

Contract: per-url scores allclose(atol=1e-6) against tests/oracle.py, which
itself reproduces /root/reference/README.md:416-499.
"""

import numpy as np
import pytest

from conftest import SMALL_EDGES
from oracle import load_edges as oracle_load
from oracle import make_personalization_vector as oracle_pv
from oracle import pagerank_by_url as oracle_pagerank
from oracle import power_method as oracle_power

from web_search_pagerank_project_spark import (
    build_graph,
    make_personalization_vector,
    pagerank,
)


def spark_scores_by_url(spark, rows, pv_query=None, **kw):
    df = spark.createDataFrame(rows, "src string, dst string")
    graph = build_graph(df, filter_ratio=kw.pop("filter_ratio", None), cache=True)
    v = make_personalization_vector(graph, pv_query) if pv_query is not None else None
    res = pagerank(graph, v, **kw)
    out = {r["url"]: r["rank"] for r in res.by_url(graph).collect()}
    graph.unpersist()
    return out, res


def assert_matches_oracle(spark_scores, oracle_scores, atol=1e-6):
    assert set(spark_scores) == set(oracle_scores)
    for url, expected in oracle_scores.items():
        assert np.isclose(spark_scores[url], expected, atol=atol), (
            url,
            spark_scores[url],
            expected,
        )


def test_small_graph_matches_oracle_and_golden(spark):
    scores, res = spark_scores_by_url(spark, SMALL_EDGES)
    assert_matches_oracle(scores, oracle_pagerank(SMALL_EDGES))
    assert res.converged
    # README golden 4-digit values
    assert np.isclose(scores["4"], 2.1634, rtol=5e-5)
    assert np.isclose(scores["1"], 0.32078, rtol=5e-5)


def test_personalization_vector(spark):
    # nodes "4","5","6" as personalization targets (substring query "4 5 6"
    # would match nothing shared; use per-node queries instead)
    scores, _ = spark_scores_by_url(spark, SMALL_EDGES, pv_query="4")
    g = oracle_load(SMALL_EDGES)
    v = oracle_pv(g, "4")
    x, _, _ = oracle_power(g, v)
    inv = g.index_dict
    expected = {inv[i]: x[i] for i in range(g.n)}
    assert_matches_oracle(scores, expected)


def test_duplicate_edges_accumulate_weight(spark):
    rows = SMALL_EDGES + [("1", "2"), ("1", "2")]
    scores, _ = spark_scores_by_url(spark, rows)
    assert_matches_oracle(scores, oracle_pagerank(rows))


def test_regex_drop(spark):
    rows = SMALL_EDGES + [
        ("1", "bad/"),  # trailing slash -> dropped
        ("a/b/c", "2"),  # interior segment -> dropped
        ("x/", "y/"),
    ]
    scores, _ = spark_scores_by_url(spark, rows)
    assert_matches_oracle(scores, oracle_pagerank(rows))
    assert "bad/" not in scores and "a/b/c" not in scores


def test_filter_ratio(spark):
    # node 2 has indegree 2 of n=6 -> ratio 0.3 removes edges into "2"
    # (2/6 = 0.333 >= 0.3); vertex 2 must remain in the dictionary.
    # NOTE: reference semantics *diverge* on this graph (beta grows with the
    # un-renormalized iterate when dangling mass dominates) — a real property
    # of ws_pagerank.py, so we compare at a fixed iteration cap instead of
    # convergence.
    scores, _ = spark_scores_by_url(
        spark, SMALL_EDGES, filter_ratio=0.3, max_iterations=15
    )
    assert_matches_oracle(
        scores,
        oracle_pagerank(SMALL_EDGES, filter_ratio=0.3, max_iterations=15),
        atol=1e-9,
    )
    assert "2" in scores


def test_dangling_mass(spark):
    # one vertex with no outlinks at all; divergent case (see above) ->
    # fixed-cap comparison exercises the dangling-mass beta term exactly
    rows = [("a", "b"), ("b", "c"), ("a", "c")]  # c dangling
    scores, _ = spark_scores_by_url(spark, rows, max_iterations=15)
    assert_matches_oracle(
        scores, oracle_pagerank(rows, max_iterations=15), atol=1e-9
    )


def test_alpha_and_epsilon_params(spark):
    scores, res = spark_scores_by_url(
        spark, SMALL_EDGES, alpha=0.6, epsilon=1e-4, max_iterations=200
    )
    g = oracle_load(SMALL_EDGES)
    x, iters, _ = oracle_power(g, alpha=0.6, epsilon=1e-4, max_iterations=200)
    inv = g.index_dict
    assert_matches_oracle(scores, {inv[i]: x[i] for i in range(g.n)}, atol=1e-8)
    assert abs(res.iterations - iters) <= 1


def test_max_iterations_cap(spark):
    scores, res = spark_scores_by_url(spark, SMALL_EDGES, max_iterations=3)
    assert not res.converged
    assert res.iterations == 3
    g = oracle_load(SMALL_EDGES)
    x, _, _ = oracle_power(g, max_iterations=3)
    inv = g.index_dict
    assert_matches_oracle(scores, {inv[i]: x[i] for i in range(g.n)}, atol=1e-12)


def test_sparse_personalization_keeps_every_vertex(spark):
    """Vertices a sparse v leaves out get v = 0: the ranking must equal the
    dense vector's per url, not drop them."""
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df)
    v = make_personalization_vector(graph, "4")
    dense = pagerank(graph, v).by_url(graph).collect()
    sparse = pagerank(graph, v.filter("v > 0")).by_url(graph).collect()
    want = {r["url"]: r["rank"] for r in dense}
    got = {r["url"]: r["rank"] for r in sparse}
    assert got.keys() == want.keys() and len(got) == graph.n
    for url, rank in want.items():
        assert abs(got[url] - rank) <= 1e-12, (url, got[url], rank)
    graph.unpersist()


def test_bad_personalization_vectors_raise(spark):
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df)
    v = spark.createDataFrame([(0, 0.5), (graph.n + 7, 0.5)], "id long, v double")
    with pytest.raises(ValueError, match="outside the graph"):
        pagerank(graph, v, max_iterations=2)
    zero = v.selectExpr("id", "v * 0 AS v").filter("id = 0")
    with pytest.raises(ValueError, match="zero norm"):
        pagerank(graph, zero, max_iterations=2)
    graph.unpersist()


def test_salted_aggregation_same_result(spark):
    scores_plain, _ = spark_scores_by_url(spark, SMALL_EDGES, max_iterations=5)
    scores_salted, _ = spark_scores_by_url(
        spark, SMALL_EDGES, max_iterations=5, salt_partitions=4
    )
    for u in scores_plain:
        assert np.isclose(scores_plain[u], scores_salted[u], atol=1e-12)


# ---- execution plan: partitions and shuffles of the iteration ----


def _record_calls(monkeypatch, cls, names, log):
    """Append (name, DataFrame) to ``log`` on every call of the methods."""
    for name in names:
        orig = getattr(cls, name)

        def wrapper(self, *a, _orig=orig, _name=name, **k):
            log.append((_name, self))
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, wrapper)


def _shuffle_exchanges(jplan) -> int:
    """Shuffle exchanges of an executed physical plan (AQE: its final plan).
    Cached relations are not children, so their build is not counted."""
    name = jplan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _shuffle_exchanges(jplan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _shuffle_exchanges(jplan.plan())
    children = jplan.children()
    return int(name == "ShuffleExchangeExec") + sum(
        _shuffle_exchanges(children.apply(i)) for i in range(children.size())
    )


def test_pagerank_pins_one_state_table_and_runs_one_prologue_action(
    spark, monkeypatch
):
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df, num_partitions=3)
    calls = []
    _record_calls(monkeypatch, type(df), ["localCheckpoint", "collect"], calls)
    pagerank(graph, max_iterations=2)
    monkeypatch.undo()
    # the state table is the one pin; one aggregate action reads it before
    # the first iteration's checkpoint
    assert [name for name, _ in calls[:3]] == [
        "localCheckpoint",
        "collect",
        "localCheckpoint",
    ]
    pin = calls[0][1]._jdf.queryExecution().executedPlan().outputPartitioning()
    assert pin.numPartitions() == 3
    graph.unpersist()


def test_pagerank_iteration_shuffle_exchanges(spark, monkeypatch):
    """Shuffles of one iteration on the default session's AQE: the new
    iterate's checkpoint (SpMV join, the union's groupBy) and the residual
    action (a global aggregate over that checkpoint). The bound is the count
    the engine has today; a change that removes an exchange lowers it."""
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    calls = []
    try:
        graph = build_graph(df)
        _record_calls(monkeypatch, type(df), ["localCheckpoint", "collect"], calls)
        pagerank(graph, max_iterations=2)
    finally:
        monkeypatch.undo()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # the last action is the second iteration's residual; the checkpoint
    # before it is that iteration's new iterate
    (_, residual), (_, iterate) = calls[-1], calls[-2]
    assert (calls[-1][0], calls[-2][0]) == ("collect", "localCheckpoint")
    counts = [
        _shuffle_exchanges(d._jdf.queryExecution().executedPlan())
        for d in (iterate, residual)
    ]
    # iterate: the iterate to the edges' partitioning, the union of
    # contributions and state rows into groupBy(id); residual: the global sum
    assert counts[0] <= 2 and counts[1] <= 1, counts
    graph.unpersist()
