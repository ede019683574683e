"""Round-5 scale-path operators: HyperBall-derived geometric centralities
(operators/anf.py::hyperball_centralities) — the approximate replacement for
exact all-sources MS-BFS harmonic centrality (VERDICT r4 item 1) — and the
scale-boundary behavior of the exact path.

Reference parity note: the reference ranks by PageRank only
(/root/reference/ws_pagerank.py); geometric centralities are engine
scale-path surface (Boldi-Vigna, "In-Core Computation of Geometric
Centralities with HyperBall", 2013, §3).
"""

from __future__ import annotations

import math
import re

import pandas as pd
import pytest

from conftest import SMALL_EDGES
from test_pagerank_spark import _record_calls
from test_round4_breadth import (
    _estimate_py,
    _init_reg,
    all_pairs_dist,
    build,
    harmonic_oracle,
    rand_rows,
)

from web_search_pagerank_project_spark.operators.anf import hyperball_centralities
from web_search_pagerank_project_spark.operators.msbfs import harmonic_centrality


def hyperball_oracle(rows, id_of, m):
    """Exact replay of the HyperBall counter-delta estimator, mirroring the
    engine's accumulation order: per vertex w, registers of the IN-ball
    {u : dist(u, w) <= t}, est per t, h += (e - pe)/t, sd += (e - pe)*t."""
    verts, dist = all_pairs_dist(rows)

    def regs_at(w, t):
        r = [0] * m
        for u in verts:
            if dist[(u, w)] is not math.inf and dist[(u, w)] <= t:
                r = [max(a, b) for a, b in zip(r, _init_reg(id_of[u], m))]
        return r

    out = {}
    maxd = max(d for d in dist.values() if d is not math.inf)
    for w in verts:
        pe = _estimate_py(regs_at(w, 0), m)
        h = sd = 0.0
        for t in range(1, maxd + 1):
            e = _estimate_py(regs_at(w, t), m)
            h += (e - pe) / t
            sd += (e - pe) * t
            pe = e
        out[w] = (h, (1.0 / sd) if sd > 0 else 0.0)
    return out


@pytest.mark.parametrize("rows_seed", ["small", 11])
def test_hyperball_centralities_exact_replay(spark, rows_seed):
    rows = SMALL_EDGES if rows_seed == "small" else rand_rows(rows_seed, n=25, m=60)
    graph = build(spark, rows)
    id_of = {r["url"]: r["id"] for r in graph.vertices.collect()}
    urls = {r["id"]: r["url"] for r in graph.vertices.collect()}
    got = {
        urls[r["id"]]: (r["harmonic"], r["closeness"])
        for r in hyperball_centralities(graph, m=16).collect()
    }
    exp = hyperball_oracle(rows, id_of, 16)
    assert got.keys() == exp.keys()
    for w, (eh, ec) in exp.items():
        assert got[w][0] == pytest.approx(eh, rel=1e-12, abs=1e-12), w
        assert got[w][1] == pytest.approx(ec, rel=1e-12, abs=1e-12), w
    graph.unpersist()


def test_hyperball_rank_correlation_vs_exact(spark):
    """The HyperBall harmonic ESTIMATE must rank vertices consistently with
    the exact MS-BFS harmonic on the 100-vertex fixture class (m=16 HLL has
    ~26% per-counter error; rank order is what survives — the property a
    centrality consumer actually uses)."""
    rows = rand_rows(5, n=100, m=400)
    graph = build(spark, rows)
    urls = {r["id"]: r["url"] for r in graph.vertices.collect()}
    approx = {
        urls[r["id"]]: r["harmonic"]
        for r in hyperball_centralities(graph, m=16).collect()
    }
    exact = harmonic_oracle(rows)
    keys = sorted(exact)
    a = pd.Series([approx[k] for k in keys]).rank()
    b = pd.Series([exact[k] for k in keys]).rank()
    rho = a.corr(b)  # Spearman: Pearson of the (tie-averaged) ranks
    assert rho > 0.8, rho
    # and the estimate is not a constant / degenerate vector
    assert max(approx.values()) > min(approx.values())
    graph.unpersist()


def _cls(jplan) -> str:
    return jplan.getClass().getSimpleName()


def _plan_nodes(jplan):
    """Every operator of an executed physical plan, parents first, through
    AQE's final plan and its query stages (cached relations are leaves, so
    the graph build behind them is not walked)."""
    if _cls(jplan) == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(jplan.executedPlan())
        return
    if _cls(jplan).endswith("QueryStageExec"):
        yield from _plan_nodes(jplan.plan())
        return
    yield jplan
    children = jplan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_hyperball_round_combines_registers_map_side(spark, monkeypatch):
    """The plan of one round exactly as hyperball_centralities builds it
    (the DataFrame its lineage cut checkpoints): the m register maxima are
    combined map-side, in a partial aggregate right below the exchange, and
    no Broadcast node carries register state — a driver-built broadcast of
    the O(V) registers serializes on V."""
    m = 16
    graph = build(spark, rand_rows(11, n=25, m=60))
    calls = []
    _record_calls(monkeypatch, type(graph.edges), ["localCheckpoint"], calls)
    hyperball_centralities(graph, m=m, max_t=1)
    monkeypatch.undo()
    # calls[0] pins the initial registers; calls[1] is round 1
    nodes = list(_plan_nodes(calls[1][1]._jdf.queryExecution().executedPlan()))
    below_exchange = [
        next(
            op
            for op in _plan_nodes(node.children().apply(0))
            if _cls(op) not in ("WholeStageCodegenExec", "InputAdapter")
        ).simpleString(1000)
        for node in nodes
        if _cls(node) == "ShuffleExchangeExec"
    ]
    assert any(s.count("partial_max") >= m for s in below_exchange), below_exchange
    register = re.compile(r"\b(n_)?r\d+#")
    bcast = [
        node.output().toString()
        for node in nodes
        if _cls(node).startswith("Broadcast")
    ]
    assert not [out for out in bcast if register.search(out)], bcast
    graph.unpersist()


def test_build_graph_weight_col(spark):
    """build_graph(weight_col=...): a row carries w parallel links instead
    of 1 — per-pair multiplicity = SUM(w), weights = mult/outdeg as usual;
    null / non-positive rows carry no link mass and are dropped (the
    vertex dictionary follows the kept rows)."""
    from web_search_pagerank_project_spark import build_graph
    from web_search_pagerank_project_spark.operators.graph_build import (
        dangling_vertices,
    )

    rows = [
        ("a", "b", 3),
        ("a", "b", 2),  # duplicate pair: multiplicities sum -> 5
        ("a", "c", 1),
        ("b", "a", 2),
        ("c", "a", 0),  # zero-mass row: dropped, c becomes dangling
        ("c", "b", None),  # null mass: dropped
    ]
    df = spark.createDataFrame(rows, "src string, dst string, w long")
    g = build_graph(df, cache=True, weight_col="w")
    urls = {r["id"]: r["url"] for r in g.vertices.collect()}
    got = {
        (urls[r["src_id"]], urls[r["dst_id"]]): r["weight"]
        for r in g.edges.collect()
    }
    assert got == {
        ("a", "b"): 5.0 / 6.0,
        ("a", "c"): 1.0 / 6.0,
        ("b", "a"): 1.0,
    }
    assert {urls[r["id"]] for r in dangling_vertices(g).collect()} == {"c"}
    g.unpersist()


def test_exact_harmonic_all_sources_warns(spark):
    """seed_ids=None (exact all-sources MS-BFS) is the documented
    small-graph-only path: it must warn, and still be exact."""
    graph = build(spark, SMALL_EDGES)
    with pytest.warns(UserWarning, match="small-graph-only"):
        h = harmonic_centrality(graph)
    urls = {r["id"]: r["url"] for r in graph.vertices.collect()}
    got = {urls[r["id"]]: r["harmonic"] for r in h.collect()}
    exp = harmonic_oracle(SMALL_EDGES)
    for k, v in exp.items():
        if v > 0:
            assert got[k] == pytest.approx(v, rel=1e-12), k
    graph.unpersist()


# ---- deterministic random walks (operators/walks.py) ----

from web_search_pagerank_project_spark.operators.walks import random_walks

_WLCG_A, _WLCG_C, _WLCG_M = 1103515245, 12345, 1 << 31


def _walk_seed(wid):
    h = wid % _WLCG_M
    for shift, mult in ((15, 739982445), (12, 695872825)):
        h = ((h ^ (h >> shift)) * mult) % _WLCG_M
    return h ^ (h >> 15)


def _walk_oracle(graph_edges, ids_by_url, walk_length, walks_per_vertex):
    """Pure-python replay: cumulative intervals in dst order (last hi=2.0),
    one LCG state per walk, seeded by a mix of walk_id and advanced per
    step."""
    from collections import defaultdict

    outs = defaultdict(list)  # src_id -> [(dst_id, weight)] in dst order
    for (s, d), w in sorted(graph_edges.items()):
        outs[s].append((d, w))
    cum = {}
    for s, lst in outs.items():
        acc, iv = 0.0, []
        for i, (d, w) in enumerate(lst):
            lo = acc
            acc = acc + w
            hi = 2.0 if i == len(lst) - 1 else acc
            iv.append((d, lo, hi))
        cum[s] = iv
    rows = set()
    for v in ids_by_url.values():
        for j in range(walks_per_vertex):
            wid = v * walks_per_vertex + j
            rows.add((wid, 0, v))
            cur = v
            s = _walk_seed(wid)
            for step in range(1, walk_length + 1):
                if cur not in cum:
                    break
                s = (s * _WLCG_A + _WLCG_C) % _WLCG_M
                r = s / float(_WLCG_M)
                nxt = None
                for d, lo, hi in cum[cur]:
                    if lo <= r < hi:
                        nxt = d
                        break
                assert nxt is not None, (cur, r)
                rows.add((wid, step, nxt))
                cur = nxt
    return rows


@pytest.mark.parametrize("rows_seed", ["small", 21])
def test_random_walks_exact_replay(spark, rows_seed):
    rows = SMALL_EDGES if rows_seed == "small" else rand_rows(rows_seed, n=25, m=60)
    graph = build(spark, rows)
    ids = {r["url"]: r["id"] for r in graph.vertices.collect()}
    edges = {
        (r["src_id"], r["dst_id"]): r["weight"] for r in graph.edges.collect()
    }
    got = {
        (r["walk_id"], r["step"], r["id"])
        for r in random_walks(graph, walk_length=5, walks_per_vertex=2).collect()
    }
    exp = _walk_oracle(edges, ids, walk_length=5, walks_per_vertex=2)
    assert got == exp
    graph.unpersist()


def test_random_walks_draws_are_not_an_arithmetic_progression(spark):
    """Every vertex links to all 64 vertices with weight 1/64 (exact in
    float64), so a step's destination id is floor(64·draw). Draws affine in
    the step would advance every walk by the same amount mod 1, so the
    destination differences mod 64 of one walk would take at most two
    adjacent values; successive LCG outputs spread over many."""
    d = 64
    urls = [f"u{i:02d}" for i in range(d)]
    graph = build(spark, [(a, b) for a in urls for b in urls])
    walks = {}
    for r in random_walks(graph, walk_length=8).collect():
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["id"]
    assert len(walks) == d and all(len(w) == 9 for w in walks.values())
    for wid, w in walks.items():
        diffs = {(w[t + 1] - w[t]) % d for t in range(1, 8)}
        assert len(diffs) > 2, (wid, [w[t] for t in range(9)])
    graph.unpersist()


def test_random_walks_states_not_offset_across_walks(spark):
    """At a fixed step, the LCG states of walks w and w+1 must not differ by
    one constant for every w: an affine seed gives (s(w+1) - s(w)) mod M =
    A^(t+1) for all w, correlating every walk's draws with its neighbour's."""
    from pyspark.sql import functions as F

    from web_search_pagerank_project_spark.operators import walks

    s = walks._walk_seed(F.col("id"))
    for _ in range(3):
        s = walks._lcg_next(s)
    rows = spark.range(2000).select("id", s.alias("s")).orderBy("id").collect()
    states = [r["s"] for r in rows]
    # the pure-python replay in _walk_oracle agrees with the engine's mix
    replay = []
    for w in range(2000):
        x = _walk_seed(w)
        for _ in range(3):
            x = (x * _WLCG_A + _WLCG_C) % _WLCG_M
        replay.append(x)
    assert states == replay
    diffs = {(b - a) % _WLCG_M for a, b in zip(states, states[1:])}
    assert len(diffs) > 1000, len(diffs)


def test_random_walks_terminate_at_dangling(spark):
    # a -> b -> c, c dangling: every walk is exactly [start..c] prefix
    graph = build(spark, [("a", "b"), ("b", "c")])
    ids = {r["url"]: r["id"] for r in graph.vertices.collect()}
    got = sorted(
        (r["walk_id"], r["step"], r["id"])
        for r in random_walks(graph, walk_length=10).collect()
    )
    a, b, c = ids["a"], ids["b"], ids["c"]
    exp = sorted(
        [
            (a, 0, a), (a, 1, b), (a, 2, c),
            (b, 0, b), (b, 1, c),
            (c, 0, c),
        ]
    )
    assert got == exp
    graph.unpersist()


def test_random_walks_validation_and_start_subset(spark):
    from pyspark.sql import functions as SF

    graph = build(spark, SMALL_EDGES)
    with pytest.raises(ValueError):
        random_walks(graph, walk_length=-1)
    with pytest.raises(ValueError):
        random_walks(graph, walk_length=1, walks_per_vertex=0)
    one = graph.vertices.orderBy("id").limit(1).select("id")
    out = random_walks(graph, walk_length=3, start_vertices=one).collect()
    wids = {r["walk_id"] for r in out}
    assert len(wids) == 1
    assert {r["step"] for r in out} <= {0, 1, 2, 3}
    graph.unpersist()


def test_skipgram_pairs_window_semantics(spark):
    """skipgram_pairs == hand-counted window pairs over the walk corpus."""
    from collections import Counter

    from web_search_pagerank_project_spark.operators.walks import skipgram_pairs

    graph = build(spark, SMALL_EDGES)
    w = random_walks(graph, walk_length=4, walks_per_vertex=2)
    walks_rows = w.collect()
    by_walk = {}
    for r in walks_rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["id"]
    exp = Counter()
    for steps in by_walk.values():
        for sa, va in steps.items():
            for sb, vb in steps.items():
                if sa != sb and abs(sa - sb) <= 2:
                    exp[(va, vb)] += 1
    got = {
        (r["center"], r["context"]): r["pairs"]
        for r in skipgram_pairs(w, window=2).collect()
    }
    assert got == dict(exp)
    with pytest.raises(ValueError):
        skipgram_pairs(w, window=0)
    graph.unpersist()
