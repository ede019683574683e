"""Round-4 breadth operators vs exact python oracles: bit-parallel
multi-source BFS / harmonic centrality, HyperBall neighborhood function,
degree assortativity, host-graph collapse, hash-stratified sampling."""

import math
import random

import pytest
from conftest import SMALL_EDGES

from pyspark.sql import functions as F

from web_search_pagerank_project_spark import (
    build_graph,
    degree_assortativity,
    effective_diameter,
    harmonic_centrality,
    host_edges,
    ms_bfs_bits,
    neighborhood_function,
    stratified_sample,
)
from web_search_pagerank_project_spark.functions.sampling import sample_gate
from web_search_pagerank_project_spark.operators.anf import (
    _LCG_A,
    _LCG_C,
    _LCG_M,
    _RANK_CAP,
    _alpha,
)


def build(spark, rows):
    df = spark.createDataFrame(rows, "src string, dst string")
    return build_graph(df, cache=True)


def rand_rows(seed, n=30, m=90):
    rng = random.Random(seed)
    return [(f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}") for _ in range(m)]


def all_pairs_dist(rows):
    """Exact directed distances over the dedup self-loop-free graph."""
    edges = {(s, t) for s, t in rows if s != t}
    verts = sorted({v for e in rows for v in e})
    INF = math.inf
    dist = {(u, v): (0 if u == v else INF) for u in verts for v in verts}
    for s, t in edges:
        dist[(s, t)] = 1
    for k in verts:
        for i in verts:
            dik = dist[(i, k)]
            if dik is INF:
                continue
            for j in verts:
                alt = dik + dist[(k, j)]
                if alt < dist[(i, j)]:
                    dist[(i, j)] = alt
    return verts, dist


# ---- harmonic centrality (MS-BFS) ----


def harmonic_oracle(rows):
    verts, dist = all_pairs_dist(rows)
    return {
        v: sum(
            1.0 / dist[(u, v)]
            for u in verts
            if u != v and dist[(u, v)] is not math.inf and dist[(u, v)] >= 1
        )
        for v in verts
    }


def harmonic_by_url(spark, graph):
    ids = {r["id"]: r["url"] for r in graph.vertices.collect()}
    out = {u: 0.0 for u in ids.values()}
    for r in harmonic_centrality(graph).collect():
        out[ids[r["id"]]] = r["harmonic"]
    return out


def test_harmonic_small(spark):
    graph = build(spark, SMALL_EDGES)
    got = harmonic_by_url(spark, graph)
    exp = harmonic_oracle(SMALL_EDGES)
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-12), k
    graph.unpersist()


@pytest.mark.parametrize("seed", [1, 2])
def test_harmonic_random_multiwave(spark, seed):
    # n=80 > 64 forces the multi-wave path (two bitmask waves)
    rows = rand_rows(seed, n=80, m=240)
    graph = build(spark, rows)
    got = harmonic_by_url(spark, graph)
    exp = harmonic_oracle(rows)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-12), k
    graph.unpersist()


def test_msbfs_bits_depths_match_bfs(spark):
    rows = rand_rows(7, n=20, m=50)
    graph = build(spark, rows)
    ids = sorted(r["id"] for r in graph.vertices.collect())
    seeds = ids[:5]
    touches = ms_bfs_bits(graph, seeds).collect()
    got = {}
    for r in touches:
        for j, s in enumerate(seeds):
            if r["fresh_bits"] & (1 << j):
                got[(s, r["id"])] = r["depth"]
    url = {r["id"]: r["url"] for r in graph.vertices.collect()}
    verts, dist = all_pairs_dist(rows)
    for s in seeds:
        for v in ids:
            d = dist[(url[s], url[v])]
            if d is math.inf:
                assert (s, v) not in got
            else:
                assert got[(s, v)] == d, (url[s], url[v])
    graph.unpersist()


def test_msbfs_duplicate_seed_bits_merge(spark):
    graph = build(spark, [("a", "b"), ("b", "c")])
    ids = {r["url"]: r["id"] for r in graph.vertices.collect()}
    touches = ms_bfs_bits(graph, [ids["a"], ids["a"]]).collect()
    at0 = [r for r in touches if r["depth"] == 0]
    assert len(at0) == 1 and at0[0]["fresh_bits"] == 3  # both bits on one row
    graph.unpersist()


def test_msbfs_rejects_edges_prepared_for_the_other_direction(spark):
    from web_search_pagerank_project_spark.operators.msbfs import _prepare_wave_edges

    graph = build(spark, [("a", "b"), ("b", "c")])
    backward = _prepare_wave_edges(graph, "dst_id", "src_id", graph.partitions)
    with pytest.raises(ValueError, match="prepared_edges"):
        ms_bfs_bits(graph, [0], direction="forward", prepared_edges=backward)
    # the matching orientation is accepted
    assert ms_bfs_bits(graph, [0], direction="backward", prepared_edges=backward).count() == 1
    backward.unpersist()
    graph.unpersist()


# ---- HyperBall neighborhood function ----


def _hash31(i):
    return ((i % _LCG_M) * _LCG_A + _LCG_C) % _LCG_M


def _init_reg(i, m):
    h = _hash31(i)
    j, rest = h % m, h // m
    rank = _RANK_CAP if rest == 0 else (rest & -rest).bit_length()
    r = [0] * m
    r[j] = rank
    return r


def _estimate_py(r, m):
    s = sum(2.0 ** -x for x in r)
    zeros = sum(1 for x in r if x == 0)
    raw = _alpha(m) * m * m / s
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw


def nf_oracle(rows, id_of, m):
    """Exact replay of HyperBall with the portable hash: registers of
    ball(v, t) = max over reachable-in-<=t of the singleton registers."""
    verts, dist = all_pairs_dist(rows)
    out, prev_sum = [], None
    for t in range(0, 200):
        total_nf, total_rs = 0.0, 0
        for v in verts:
            r = [0] * m
            for u in verts:
                if dist[(v, u)] is not math.inf and dist[(v, u)] <= t:
                    r = [max(a, b) for a, b in zip(r, _init_reg(id_of[u], m))]
            total_nf += _estimate_py(r, m)
            total_rs += sum(r)
        if prev_sum is not None and total_rs == prev_sum:
            break
        out.append((t, total_nf))
        prev_sum = total_rs
    return out


@pytest.mark.parametrize("rows_seed", ["small", 3])
def test_neighborhood_function_exact_replay(spark, rows_seed):
    rows = SMALL_EDGES if rows_seed == "small" else rand_rows(rows_seed, n=25, m=60)
    graph = build(spark, rows)
    id_of = {r["url"]: r["id"] for r in graph.vertices.collect()}
    got = [(r["t"], r["nf"]) for r in neighborhood_function(graph, m=16).collect()]
    exp = nf_oracle(rows, id_of, 16)
    assert [t for t, _ in got] == [t for t, _ in exp]
    for (t1, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, rel=1e-12), t1
    graph.unpersist()


def test_effective_diameter_interpolation():
    nf = [(0, 10.0), (1, 50.0), (2, 90.0), (3, 100.0)]
    # target 90 -> reached exactly at t=2
    assert effective_diameter(nf, 0.9) == pytest.approx(2.0)
    # target 95 -> between t=2 (90) and t=3 (100): 2 + 5/10
    assert effective_diameter(nf, 0.95) == pytest.approx(2.5)
    assert effective_diameter([(0, 7.0)]) == 0.0
    with pytest.raises(ValueError):
        effective_diameter([])


# ---- degree assortativity ----


def assort_oracle(rows, x, y):
    edges = sorted({(s, t) for s, t in rows if s != t})
    verts = {v for e in edges for v in e}
    outd = {v: 0 for v in verts}
    ind = {v: 0 for v in verts}
    for s, t in edges:
        outd[s] += 1
        ind[t] += 1
    tot = {v: outd[v] + ind[v] for v in verts}
    kind = {"out": outd, "in": ind, "total": tot}
    xs = [float(kind[x][s]) for s, t in edges]
    ys = [float(kind[y][t]) for s, t in edges]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / n
    sx = math.sqrt(sum((a - mx) ** 2 for a in xs) / n)
    sy = math.sqrt(sum((b - my) ** 2 for b in ys) / n)
    if sx == 0 or sy == 0:
        return math.nan
    return cov / (sx * sy)


@pytest.mark.parametrize("x,y", [("out", "in"), ("out", "out"), ("total", "total")])
def test_assortativity_random(spark, x, y):
    rows = rand_rows(11, n=25, m=80)
    graph = build(spark, rows)
    got = degree_assortativity(graph, x, y)
    exp = assort_oracle(rows, x, y)
    assert got == pytest.approx(exp, rel=1e-9)
    graph.unpersist()


def test_assortativity_degenerate_nan(spark):
    # directed 3-cycle: every degree is 1 -> correlation undefined
    graph = build(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert math.isnan(degree_assortativity(graph, "out", "in"))
    graph.unpersist()


def test_assortativity_bad_kind(spark):
    graph = build(spark, [("a", "b")])
    with pytest.raises(ValueError):
        degree_assortativity(graph, "sideways", "in")
    graph.unpersist()


# ---- host graph ----


def test_host_edges_collapse(spark):
    urls = spark.createDataFrame(
        [
            ("http://h1.ex/p1", "http://h2.ex/a"),
            ("http://h1.ex/p1", "http://h2.ex/b"),
            ("http://h1.ex/p2", "http://h2.ex/a"),
            ("http://h1.ex/p1", "http://h1.ex/intra"),
            ("https://h2.ex/x", "http://h3.ex/y"),
        ],
        "src string, dst string",
    )
    got = {
        (r["src"], r["dst"]): (r["n_links"], r["n_src_pages"])
        for r in host_edges(urls).collect()
    }
    assert got == {("h1.ex", "h2.ex"): (3, 2), ("h2.ex", "h3.ex"): (1, 1)}


def test_host_edges_keep_intra_and_fallback(spark):
    urls = spark.createDataFrame(
        [("http://h1.ex/p1", "http://h1.ex/p2"), ("tokenA", "tokenB")],
        "src string, dst string",
    )
    got = {
        (r["src"], r["dst"]): r["n_links"]
        for r in host_edges(urls, drop_intra_host=False).collect()
    }
    # scheme-less tokens fall back to the raw string (reference edge files
    # carry bare tokens; ws_pagerank.py applies no url validation)
    assert got == {("h1.ex", "h1.ex"): 1, ("tokenA", "tokenB"): 1}


def test_host_graph_feeds_build_graph(spark):
    urls = spark.createDataFrame(
        [
            ("http://a.ex/1", "http://b.ex/1"),
            ("http://b.ex/1", "http://c.ex/1"),
            ("http://c.ex/9", "http://a.ex/2"),
        ],
        "src string, dst string",
    )
    he = host_edges(urls)
    graph = build_graph(he.select("src", "dst"), cache=True)
    assert graph.n == 3
    assert graph.edges.count() == 3
    graph.unpersist()


# ---- stratified sampling ----


def test_sample_gate_exact_membership(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    kept = [
        r["doc_id"]
        for r in df.filter(sample_gate(F.col("doc_id"), 0.25, seed=7)).collect()
    ]
    def h2(i, seed):
        mix = ((seed % _LCG_M) * _LCG_A + _LCG_C) % _LCG_M
        return (((i % _LCG_M) ^ mix) * _LCG_A + _LCG_C) % _LCG_M

    exp = [i for i in range(5000) if h2(i, 7) < int(0.25 * _LCG_M)]
    assert sorted(kept) == exp
    # rate sanity: law of large numbers, wide band
    assert 0.2 < len(exp) / 5000 < 0.3


def test_sample_gate_bounds(spark):
    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    assert df.filter(sample_gate(F.col("doc_id"), 1.0)).count() == 100
    assert df.filter(sample_gate(F.col("doc_id"), 0.0)).count() == 0
    with pytest.raises(ValueError):
        sample_gate(F.col("doc_id"), 1.5)


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 1.0, "de": 0.5, "fr": 0.0}
    out = stratified_sample(df, "doc_id", "lang", rates)
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}
    assert all(lang != "fr" for _, lang in got)
    assert sum(1 for _, lang in got if lang == "en") == 1000
    de = sum(1 for _, lang in got if lang == "de")
    assert 400 < de < 600
    # membership survives arbitrary repartitioning (the DataFrame.sample
    # failure mode this operator exists to avoid)
    got2 = {
        (r["doc_id"], r["lang"])
        for r in stratified_sample(df.repartition(13), "doc_id", "lang", rates).collect()
    }
    assert got == got2


def test_stratified_sample_default_rate_and_validation(spark):
    df = spark.createDataFrame([(i, "xx") for i in range(100)], "doc_id long, lang string")
    assert stratified_sample(df, "doc_id", "lang", {"en": 1.0}).count() == 0
    assert (
        stratified_sample(df, "doc_id", "lang", {"en": 0.0}, default_rate=1.0).count()
        == 100
    )
    with pytest.raises(ValueError):
        stratified_sample(df, "doc_id", "lang", {"en": 2.0})


def test_stratified_seeds_decorrelate(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id").withColumn(
        "lang", F.lit("en")
    )
    a = {r["doc_id"] for r in stratified_sample(df, "doc_id", "lang", {"en": 0.5}, seed=1).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "doc_id", "lang", {"en": 0.5}, seed=2).collect()}
    overlap = len(a & b) / max(1, len(a))
    assert 0.3 < overlap < 0.7  # independent-ish, not identical, not disjoint
    assert a != b
