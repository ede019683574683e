"""Incremental snapshot maintenance (operators/incremental.py) + PageRank
warm-start (operators/pagerank.py x0) — round-5 item 2.

The reference rebuilds from the full edge file every run (pagerank.py:18-83);
update_graph patches dictionary/multiplicities/weights in delta-proportional
work. The equivalence contract — updated graph == fresh build of the union,
in (src_url, dst_url, weight) space — is pinned here exactly (not approx):
both paths divide the same integer multiplicities by the same integer
out-degrees.
"""

from __future__ import annotations

import math
import random

import pytest

from web_search_pagerank_project_spark import build_graph, pagerank, update_graph
from web_search_pagerank_project_spark.operators.checkpoint import (
    IterationCheckpointer,
)


def cyc_rows(seed, n=40, m=120, prefix="n"):
    """Random rows over a vertex cycle — every vertex has an out-edge, so
    the graph has no dangling mass and the power iteration is a strict
    contraction (clean convergence for the warm-start comparisons)."""
    rng = random.Random(seed)
    rows = [(f"{prefix}{i:02d}", f"{prefix}{(i + 1) % n:02d}") for i in range(n)]
    rows += [
        (f"{prefix}{rng.randrange(n):02d}", f"{prefix}{rng.randrange(n):02d}")
        for _ in range(m)
    ]
    return rows


def weights_by_url(spark, graph):
    vs = {r["id"]: r["url"] for r in graph.vertices.collect()}
    return {
        (vs[r["src_id"]], vs[r["dst_id"]]): r["weight"]
        for r in graph.edges.collect()
    }


def build(spark, rows, **kw):
    df = spark.createDataFrame(rows, "src string, dst string")
    return build_graph(df, cache=True, **kw)


BASE = cyc_rows(1)
# delta: duplicate edges (multiplicity merge), brand-new vertices x0/x1
# (each with an out-edge back into the graph), edges between existing
# vertices (outdeg refresh), and a regex-dropped row (consistency with the
# fresh build, which drops it too)
DELTA = [
    ("n00", "n05"),
    ("n00", "n05"),
    ("n03", "x0"),
    ("x0", "n10"),
    ("x0", "x1"),
    ("x1", "n20"),
    ("n07/", "n09"),
]


def test_update_graph_equals_fresh_build(spark):
    g0 = build(spark, BASE, keep_mult=True)
    g1 = update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))
    fresh = build(spark, BASE + DELTA, keep_mult=True)
    assert g1.n == fresh.n
    assert weights_by_url(spark, g1) == weights_by_url(spark, fresh)  # exact
    assert {r["url"] for r in g1.vertices.collect()} == {
        r["url"] for r in fresh.vertices.collect()
    }
    for g in (g0, g1, fresh):
        g.unpersist()


def test_update_ids_stable_and_appended(spark):
    g0 = build(spark, BASE, keep_mult=True)
    ids0 = {r["url"]: r["id"] for r in g0.vertices.collect()}
    g1 = update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))
    ids1 = {r["url"]: r["id"] for r in g1.vertices.collect()}
    for url, i in ids0.items():
        assert ids1[url] == i, url  # existing urls keep their ids
    new = {url: i for url, i in ids1.items() if url not in ids0}
    assert set(new) == {"x0", "x1"}
    assert all(g0.n <= i < g1.n for i in new.values())
    assert sorted(ids1.values()) == list(range(g1.n))  # still dense
    g0.unpersist()
    g1.unpersist()


def test_chained_updates_equal_fresh(spark):
    delta2 = [("x1", "x2"), ("x2", "n00"), ("n11", "n13")]
    g0 = build(spark, BASE, keep_mult=True)
    g1 = update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))
    g2 = update_graph(g1, spark.createDataFrame(delta2, "src string, dst string"))
    fresh = build(spark, BASE + DELTA + delta2, keep_mult=True)
    assert g2.n == fresh.n
    assert weights_by_url(spark, g2) == weights_by_url(spark, fresh)
    for g in (g0, g1, g2, fresh):
        g.unpersist()


def test_update_requires_mult(spark):
    g0 = build(spark, BASE)  # no keep_mult
    with pytest.raises(ValueError, match="keep_mult"):
        update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))
    g0.unpersist()


def test_weighted_base_cannot_keep_mult(spark):
    """update_graph merges link counts, so a base whose mult holds summed
    weights would come out silently wrong: build_graph refuses it."""
    df = spark.createDataFrame(
        [(s, d, 2) for s, d in BASE], "src string, dst string, w int"
    )
    with pytest.raises(ValueError, match="weight_col"):
        build_graph(df, keep_mult=True, weight_col="w")


def test_update_caches_delta_in_graph_partitions(spark, monkeypatch):
    """A delta that ends in a shuffle is cached in the graph's partitions,
    not in the session's shuffle partitions: the explicit exchange makes
    the delta's own stages intermediate ones that AQE can size."""
    g0 = build(spark, BASE, keep_mult=True, num_partitions=2)
    delta = spark.createDataFrame(DELTA, "src string, dst string").distinct()
    assert delta.rdd.getNumPartitions() != g0.partitions
    persisted = []
    orig = type(delta).persist

    def record(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(type(delta), "persist", record)
    g1 = update_graph(g0, delta)
    monkeypatch.undo()
    # the first table update_graph caches is the cleaned delta
    assert persisted[0].rdd.getNumPartitions() == g0.partitions
    for g in (g0, g1):
        g.unpersist()


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_warm_start_same_graph_is_instant(spark):
    """Warm-starting from a graph's own converged state must re-converge
    immediately — the degenerate-delta sanity bound for the real test."""
    g = build(spark, BASE, keep_mult=True)
    cold = pagerank(g, epsilon=1e-10, max_iterations=500)
    assert cold.converged
    warm = pagerank(g, epsilon=1e-10, max_iterations=500, x0=cold.ranks)
    assert warm.converged and warm.iterations <= 2
    g.unpersist()


def test_warm_start_after_update_converges_faster_same_scores(spark):
    g0 = build(spark, BASE, keep_mult=True)
    prev = pagerank(g0, epsilon=1e-10, max_iterations=500)
    assert prev.converged

    g1 = update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))
    cold = pagerank(g1, epsilon=1e-10, max_iterations=500)
    warm = pagerank(g1, epsilon=1e-10, max_iterations=500, x0=prev.ranks)
    assert cold.converged and warm.converged

    # power iteration takes ~log(d0/eps) contraction steps, so a warm start
    # saves log(d0_cold/d0_warm) of them: on this 40-vertex toy the delta
    # rewires a visible fraction of the graph, so the honest guarantees are
    # (a) the starting displacement shrinks by well over 2x and (b) the
    # iteration count strictly drops; the ≪ regime (delta displacement → 0)
    # is pinned by test_warm_start_same_graph_is_instant
    assert warm.residuals[0] < 0.6 * cold.residuals[0], (
        warm.residuals[0],
        cold.residuals[0],
    )
    assert warm.iterations < cold.iterations

    # unique fixed point => identical scores (each iterate is within
    # eps*alpha/(1-alpha) of it)
    rc, rw = _ranks(cold), _ranks(warm)
    assert rc.keys() == rw.keys()
    assert max(abs(rc[i] - rw[i]) for i in rc) < 1e-9
    for g in (g0, g1):
        g.unpersist()


def test_warm_start_from_checkpoint_on_updated_graph(spark, tmp_path):
    """The durable flavor: previous snapshot's converged state comes back
    through IterationCheckpointer.resume and seeds the updated graph; new
    vertices (absent from the checkpoint) fill with the cold value."""
    g0 = build(spark, BASE, keep_mult=True)
    cp = IterationCheckpointer(str(tmp_path / "pr_state"))
    prev = pagerank(
        g0, epsilon=1e-10, max_iterations=500, checkpointer=cp, checkpoint_every=10
    )
    assert prev.converged

    g1 = update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))
    state, it = IterationCheckpointer(str(tmp_path / "pr_state")).resume(spark)
    assert it > 0 and "x" in state.columns
    warm = pagerank(g1, epsilon=1e-10, max_iterations=500, x0=state)
    cold = pagerank(g1, epsilon=1e-10, max_iterations=500)
    assert warm.converged
    assert warm.iterations < cold.iterations
    # it genuinely warm-started: the first step moves far less than cold's
    assert warm.residuals[0] < 0.6 * cold.residuals[0]
    rc, rw = _ranks(cold), _ranks(warm)
    assert max(abs(rc[i] - rw[i]) for i in rc) < 1e-9
    for g in (g0, g1):
        g.unpersist()


def test_warm_start_kernel_parity_csr_vs_dataframe(spark):
    """``pagerank_csr`` survives as the package alias of ``pagerank`` that the
    benchmark's csr_kernel layer calls; a warm start through that name must
    be numerically identical to one through ``pagerank``: same iteration
    counts and final scores at 1e-12."""
    from web_search_pagerank_project_spark import pagerank_csr

    g0 = build(spark, BASE, keep_mult=True)
    prev = pagerank(g0, epsilon=1e-10, max_iterations=500)
    g1 = update_graph(g0, spark.createDataFrame(DELTA, "src string, dst string"))

    warm_df = pagerank(g1, epsilon=1e-10, max_iterations=500, x0=prev.ranks)
    warm_csr = pagerank_csr(g1, epsilon=1e-10, max_iterations=500, x0=prev.ranks)
    assert warm_df.converged and warm_csr.converged
    assert warm_csr.iterations == warm_df.iterations
    ra, rb = _ranks(warm_df), _ranks(warm_csr)
    assert ra.keys() == rb.keys()
    assert max(abs(ra[i] - rb[i]) for i in ra) < 1e-12
    # and it genuinely warm-started (sanity vs the cold run through the alias)
    cold_csr = pagerank_csr(g1, epsilon=1e-10, max_iterations=500)
    assert warm_csr.residuals[0] < 0.6 * cold_csr.residuals[0]
    for g in (g0, g1):
        g.unpersist()


def test_update_with_empty_and_fully_dropped_delta(spark):
    """Degenerate deltas: an empty delta and one whose every row hits the
    drop regex must both return a graph identical to the base (same n, same
    weights, mult preserved so updates still chain)."""
    g0 = build(spark, BASE, keep_mult=True)
    w0 = weights_by_url(spark, g0)
    for delta in ([], [("a/", "b"), ("c", "d/e/f")]):
        df = spark.createDataFrame(delta, "src string, dst string")
        g1 = update_graph(g0, df)
        assert g1.n == g0.n
        assert "mult" in g1.edges.columns
        assert weights_by_url(spark, g1) == w0
        g1.unpersist()
    g0.unpersist()
