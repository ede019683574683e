"""CSR block kernel vs the DataFrame path and the NumPy oracle.

The two kernels must agree to float64 round-off (they evaluate the same
affine map; only summation order differs), and both must match the oracle
at the 1e-6 contract tolerance (SURVEY.md §1.3).
"""

import numpy as np

from conftest import SMALL_EDGES
from oracle import load_edges as oracle_load
from oracle import make_personalization_vector as oracle_pv
from oracle import pagerank_by_url as oracle_pagerank
from oracle import power_method as oracle_power

from web_search_pagerank_project_spark import (
    build_graph,
    make_personalization_vector,
    pagerank,
    pagerank_csr,
)


def _csr_scores(spark, rows, pv_query=None, **kw):
    df = spark.createDataFrame(rows, "src string, dst string")
    graph = build_graph(df, cache=True)
    v = make_personalization_vector(graph, pv_query) if pv_query else None
    res = pagerank_csr(graph, v, **kw)
    out = {r["url"]: r["rank"] for r in res.by_url(graph).collect()}
    graph.unpersist()
    return out, res


def test_csr_small_graph_matches_oracle(spark):
    # epsilon=1e-4 converges in ~30 iterations — full 1e-6 convergence (75
    # iters) plus the README golden is covered by the DataFrame-kernel test,
    # and test_csr_matches_dataframe_kernel_exactly pins the two kernels
    # together at 1e-12.
    scores, res = _csr_scores(spark, SMALL_EDGES, num_blocks=3, epsilon=1e-4)
    g = oracle_load(SMALL_EDGES)
    x, iters, _ = oracle_power(g, epsilon=1e-4)
    inv = g.index_dict
    oracle = {inv[i]: x[i] for i in range(g.n)}
    assert set(scores) == set(oracle)
    for u in oracle:
        assert np.isclose(scores[u], oracle[u], atol=1e-8), u
    assert res.converged
    assert abs(res.iterations - iters) <= 1


def test_csr_matches_dataframe_kernel_exactly(spark):
    rows = SMALL_EDGES + [("1", "2"), ("9", "4"), ("9", "9"), ("z", "1")]
    df = spark.createDataFrame(rows, "src string, dst string")
    graph = build_graph(df, cache=True)
    res_df = pagerank(graph, max_iterations=10)
    res_csr = pagerank_csr(graph, max_iterations=10, num_blocks=4)
    a = {r["id"]: r["rank"] for r in res_df.ranks.collect()}
    b = {r["id"]: r["rank"] for r in res_csr.ranks.collect()}
    assert set(a) == set(b)
    for i in a:
        assert np.isclose(a[i], b[i], atol=1e-12), i
    assert [round(x, 12) for x in res_df.residuals] == [
        round(x, 12) for x in res_csr.residuals
    ]
    graph.unpersist()


def test_csr_personalization(spark):
    scores, _ = _csr_scores(
        spark, SMALL_EDGES, pv_query="4", num_blocks=2, max_iterations=20
    )
    g = oracle_load(SMALL_EDGES)
    v = oracle_pv(g, "4")
    x, _, _ = oracle_power(g, v, max_iterations=20)
    inv = g.index_dict
    for i in range(g.n):
        assert np.isclose(scores[inv[i]], x[i], atol=1e-10)


def test_csr_dangling_and_dup_edges(spark):
    rows = [("a", "b"), ("b", "c"), ("a", "c"), ("a", "b")]  # c dangling
    scores, _ = _csr_scores(spark, rows, max_iterations=15, num_blocks=2)
    oracle = oracle_pagerank(rows, max_iterations=15)
    for u in oracle:
        assert np.isclose(scores[u], oracle[u], atol=1e-9), u


def test_iteration_batching_parity_both_kernels(spark):
    """iters_per_action fuses steps into one action but must not change
    numerics: 9 iterations at batch 3 == 9 iterations one-by-one, for both
    kernels, to float64 round-off."""
    rows = SMALL_EDGES + [("1", "2"), ("9", "4"), ("z", "1")]
    df = spark.createDataFrame(rows, "src string, dst string")
    graph = build_graph(df, cache=True)
    base = {r["id"]: r["rank"] for r in pagerank(graph, max_iterations=9).ranks.collect()}
    for res in (
        pagerank(graph, max_iterations=9, iters_per_action=3),
        pagerank_csr(graph, max_iterations=9, num_blocks=4, iters_per_action=3),
        pagerank_csr(graph, max_iterations=9, num_blocks=4, iters_per_action=4),
    ):
        got = {r["id"]: r["rank"] for r in res.ranks.collect()}
        assert res.iterations == 9
        for i in base:
            assert np.isclose(base[i], got[i], atol=1e-12), i
    graph.unpersist()


def test_csr_random_graph_many_blocks(spark):
    rng = np.random.default_rng(7)
    rows = [
        (f"u{int(rng.integers(0, 40))}", f"u{int(rng.integers(0, 40))}")
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "src string, dst string")
    graph = build_graph(df, cache=True)
    res_df = pagerank(graph, max_iterations=8)
    res_csr = pagerank_csr(graph, max_iterations=8, num_blocks=16)
    a = {r["id"]: r["rank"] for r in res_df.ranks.collect()}
    b = {r["id"]: r["rank"] for r in res_csr.ranks.collect()}
    for i in a:
        assert np.isclose(a[i], b[i], atol=1e-10), i
    graph.unpersist()


def test_csr_all_dangling_blocks_not_merged(spark):
    """ADVICE r3 (high): blocks whose every vertex is a sink used to be
    absent from the blocks table; their state rows then shared the -1
    bkey sentinel and silently merged, dropping vertices from the output.

    Dense ids are url-sorted, so urls "0".."7" get ids 0..7; with
    num_blocks=4 the sinks {2, 3, 6, 7} make blocks 2 and 3 edge-less.
    """
    rows = [
        ("0", "2"), ("0", "3"), ("1", "6"), ("1", "7"),
        ("4", "2"), ("5", "3"), ("4", "0"), ("5", "1"),
    ]
    df = spark.createDataFrame(rows, "src string, dst string")
    graph = build_graph(df, cache=True)
    assert graph.n == 8
    res_df = pagerank(graph, max_iterations=6)
    res_csr = pagerank_csr(graph, max_iterations=6, num_blocks=4)
    a = {r["id"]: r["rank"] for r in res_df.ranks.collect()}
    b = {r["id"]: r["rank"] for r in res_csr.ranks.collect()}
    assert set(b) == set(range(8))  # 3 and 7 used to vanish
    for i in a:
        assert np.isclose(a[i], b[i], atol=1e-12), i
    graph.unpersist()


def test_balanced_block_keys_match_spark_hash(spark):
    """operators/blockmap.py replicates Spark's Murmur3_x86_32.hashInt
    (the expression behind F.hash and HashPartitioning): pin the Python
    implementation against the JVM for a spread of ints, and check the
    balanced keys actually fill partition quotas exactly."""
    import math

    from pyspark.sql import functions as F

    from web_search_pagerank_project_spark.operators.blockmap import (
        _partition_of,
        balanced_block_keys,
        spark_murmur3_int,
    )

    vals = list(range(64)) + [997, 65536, 2**31 - 1]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "x int")
        .select("x", F.hash("x").alias("h"))
        .collect()
    )
    for r in rows:
        expect = r["h"] & 0xFFFFFFFF
        assert spark_murmur3_int(r["x"]) == expect, r["x"]

    for k, p in [(16, 16), (80, 16), (20, 4), (512, 16)]:
        keys = balanced_block_keys(k, p)
        assert len(set(keys)) == k
        loads = {}
        for key in keys:
            pid = _partition_of(key, p)
            loads[pid] = loads.get(pid, 0) + 1
        assert max(loads.values()) == math.ceil(k / p)
