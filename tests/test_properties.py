"""Property-based invariants (SURVEY.md §5.2).

Hypothesis drives the *graph generation* (pure NumPy, cheap); each property
is then checked with a single Spark run against the NumPy oracle, keeping
JVM round-trips bounded.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from oracle import load_edges as oracle_load
from oracle import power_method as oracle_power

from web_search_pagerank_project_spark import build_graph, pagerank


def _random_edges(rng, n_nodes, n_edges):
    return [
        (f"site{int(rng.integers(n_nodes))}", f"site{int(rng.integers(n_nodes))}")
        for _ in range(n_edges)
    ]


def test_permutation_invariance(spark):
    """Relabeling urls permutes ids but must not change any url's score."""
    rng = np.random.default_rng(11)
    rows = _random_edges(rng, 25, 120)
    relabel = {f"site{i}": f"renamed-{chr(122 - i % 26)}{i}" for i in range(25)}
    rows_perm = [(relabel[s], relabel[d]) for s, d in rows]

    def scores(rs):
        df = spark.createDataFrame(rs, "src string, dst string")
        g = build_graph(df, cache=True)
        res = pagerank(g, max_iterations=12)
        out = {r["url"]: r["rank"] for r in res.by_url(g).collect()}
        g.unpersist()
        return out

    a, b = scores(rows), scores(rows_perm)
    assert set(b) == {relabel[u] for u in a}
    for u, s in a.items():
        assert np.isclose(s, b[relabel[u]], atol=1e-12), u


def test_personalization_scale_invariance(spark):
    """v and c*v give identical ranks (v is L1- then L2-normalized)."""
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(rows, "src string, dst string")
    g = build_graph(df, cache=True)
    import pyspark.sql.functions as F

    v1 = g.vertices.select("id", (F.col("id") + 1.0).alias("v"))
    v2 = v1.select("id", (F.col("v") * 17.0).alias("v"))
    r1 = {r["id"]: r["rank"] for r in pagerank(g, v1, max_iterations=10).ranks.collect()}
    r2 = {r["id"]: r["rank"] for r in pagerank(g, v2, max_iterations=10).ranks.collect()}
    for i in r1:
        assert np.isclose(r1[i], r2[i], atol=1e-12)
    g.unpersist()


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_nodes=st.integers(2, 30),
    n_edges=st.integers(1, 150),
    alpha=st.floats(0.05, 0.95),
)
def test_oracle_power_method_is_contractive(seed, n_nodes, n_edges, alpha):
    """NumPy-only property: on a dangling-free graph the iteration is
    x -> alpha*P^T x + beta*v with constant beta, an affine map whose linear
    part has spectral radius exactly alpha — so residuals decay at rate
    ~alpha asymptotically. (With danglings the reference's L2-normalized v
    makes the dangling fix-up row-sum sqrt(n), so decay can be slower than
    alpha or even diverge — a real property of ws_pagerank.py, covered by
    the fixed-cap comparison tests instead.) Per-step L2 residuals can
    wobble (stochastic matrices are not L2-contractions); assert windowed
    decay: any 10 iterations past the transient shrink by >= alpha^5."""
    rng = np.random.default_rng(seed)
    # cycle guarantees outdeg >= 1 everywhere; extra random edges on top
    cycle = [(f"site{i}", f"site{(i + 1) % n_nodes}") for i in range(n_nodes)]
    rows = cycle + _random_edges(rng, n_nodes, n_edges)
    g = oracle_load(rows)
    x, iters, residuals = oracle_power(
        g, alpha=alpha, max_iterations=60, epsilon=0.0
    )
    assert np.isfinite(x).all()
    for k in (10, 20, 30, 40):
        assert residuals[k + 10] <= residuals[k] * (alpha ** 5) + 1e-12, (
            k, residuals[k], residuals[k + 10]
        )


def test_component_sizes_partition_n(spark):
    """CC component sizes must partition the vertex set exactly."""
    rng = np.random.default_rng(5)
    rows = _random_edges(rng, 40, 60)
    df = spark.createDataFrame(rows, "src string, dst string")
    g = build_graph(df, cache=True)
    from web_search_pagerank_project_spark import connected_components
    from web_search_pagerank_project_spark.operators.components import (
        component_sizes,
    )

    comp = connected_components(g)
    sizes = component_sizes(comp).collect()
    assert sum(r["size"] for r in sizes) == g.n
    g.unpersist()
