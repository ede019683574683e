"""CC kernel parity: the star kernel vs the DataFrame min-label kernel.

Both implement the same contract — component(v) = min dense id in v's
weakly-connected component — so on any graph their outputs must be
IDENTICAL label-for-label (not just same partition).
"""

import random

import pytest

from conftest import SMALL_EDGES
from oracle import connected_components_oracle

from web_search_pagerank_project_spark import (
    build_graph,
    connected_components,
    connected_components_star,
)

MULTI_CC = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"), ("f", "g"),
    ("x", "y"),
]


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _build(spark, rows):
    return build_graph(
        spark.createDataFrame(rows, "src string, dst string"), cache=True
    )


@pytest.mark.parametrize("rows", [SMALL_EDGES, MULTI_CC])
def test_star_matches_dataframe_kernel(spark, rows):
    graph = _build(spark, rows)
    base = _labels(connected_components(graph))
    assert _labels(connected_components_star(graph)) == base
    graph.unpersist()


def test_kernels_match_on_random_graph(spark):
    rng = random.Random(13)
    rows = [
        (f"u{rng.randrange(60):02d}", f"u{rng.randrange(60):02d}")
        for _ in range(90)
    ]
    graph = _build(spark, rows)
    base = _labels(connected_components(graph))
    assert _labels(connected_components_star(graph)) == base
    url_of = {r["id"]: r["url"] for r in graph.vertices.collect()}
    got = {url_of[v]: url_of[c] for v, c in base.items()}
    assert got == connected_components_oracle(rows)
    graph.unpersist()


def test_star_converges_logarithmically_on_long_path(spark):
    """VERDICT r1 item 6: a 10^4-node path needs ~10^4 min-label rounds but
    must converge in O(log n) large/small-star rounds. max_rounds=25 would
    fail any linear-round algorithm instantly."""
    n = 10_000
    rows = [(f"p{i:05d}", f"p{i + 1:05d}") for i in range(n - 1)]
    graph = _build(spark, rows)
    labels = _labels(connected_components_star(graph, max_rounds=25))
    assert len(labels) == n
    assert set(labels.values()) == {0}  # single component rooted at min id
    graph.unpersist()


def test_cc_isolated_vertices_are_singletons(spark):
    """Vertices with no edges (here ids 2, 3, 6 and 7) have no rows in the
    symmetrized edge table; they must still come back, each as its own
    singleton component."""
    from web_search_pagerank_project_spark.operators.graph_build import GraphTables

    vertices = spark.createDataFrame(
        [(i, str(i)) for i in range(8)], "id long, url string"
    )
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 4, 1.0), (4, 5, 1.0), (5, 0, 1.0)],
        "src_id long, dst_id long, weight double",
    )
    graph = GraphTables(vertices, edges, 8)
    got = _labels(connected_components(graph))
    assert set(got) == set(range(8))
    assert got[2] == 2 and got[3] == 3 and got[6] == 6 and got[7] == 7
    assert got[0] == got[1] == got[4] == got[5] == 0
