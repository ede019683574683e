"""The workloads. Each run sets up (several times, for ``setup_s``), runs
the workload's batch once (``batch_s``), and checks every output against
the oracles outside the timed region. All calls go through the package's
public functions; each call is wrapped in a span (see spans.py) named after
the layer it enters. Traced runs add, after the batch, the layers that do not
fit a timed batch (and, on web-analytics, a closed-loop query phase).

Lazy layers have no span of their own: ``sources.*`` readers,
``functions.query`` predicates and ``functions.html.edges_from_pages`` build
plans that run inside the next span that forces them (build_graph,
update_graph, search), and are charged there.

Iteration budget. On the default session one PageRank iteration costs a
second or more whatever the graph size (per-stage scheduling over 32
shuffle partitions), and the iterations a run needs to reach epsilon=1e-6
depend on the seed's graph (9 to over 100 on synth_pages graphs, whose
pages often link only to themselves). A batch whose
length follows the seed's iteration count would spread across seeds far
beyond any useful bound, so the timed PageRank calls stop after
``PR_ITERATIONS`` (at epsilon=1e-6, which they do not reach) and are
checked against the oracle after the same steps: ``batch_s`` sees the cost
of an iteration, not the number of them. The number is measured apart:
traced crawl-delta runs also run warm and cold PageRank to convergence (or
to ``CONVERGED_MAX_ITERATIONS``) and report their iteration counts. Per-iteration figures come
from a pair of calls on the same graph (see run.py ``per_iteration``).

Every check is one op: ``attempted`` counts checks, ``failed`` the checks
that failed, and a call that raises fails the op it was part of.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle

# per workload: sizes of a full run and of a smoke run
SIZES = {
    "web-analytics": {
        "full": dict(n_vertices=4000, n_edges=64000),
        "smoke": dict(n_vertices=300, n_edges=4800),
    },
    "crawl-delta": {
        "full": dict(n_base=1000, delta_share=0.05),
        "smoke": dict(n_base=300, delta_share=0.05),
    },
}
SETUP_REPEATS = 5
EPSILON = 1e-6
PR_ITERATIONS = 2
# the longer call of a per-iteration pair on web-analytics (traced runs)
LONG_ITERATIONS = 5
# crawl-delta's converged runs stop here if epsilon is not reached: the
# seed's graph sets the count (9 to over 100 at epsilon=1e-6), and a traced
# run must stay within its 180 s limit
CONVERGED_MAX_ITERATIONS = 25
# label_propagation defaults to 20 rounds; 20 cost about 30 s on the full
# web-analytics graph, too much of a traced run's 180 s limit
LPA_ROUNDS = 10
TOPIC = "news"  # personalization query of the traced pagerank_csr call
# a converged run stops at ||x_k - x_{k-1}||_2 < EPSILON; its distance to
# the fixed point is then about EPSILON * alpha / (1 - alpha) = 5.7e-6
FIXED_POINT_TOLERANCE = 1e-5
# engine and oracle ranks agree to rounding after the same steps; this
# bounds the ranking difference two urls may have and still swap places
RANK_TOLERANCE = 1e-9
GLOVE = os.path.join("tests", "fixtures", "glove_slice_50w_25d.txt")


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    batch_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Count one op; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


def _collect(df, key: str, value: str) -> dict:
    return {r[key]: r[value] for r in df.collect()}


def _check_ranks(out: Outcome, graph, result, urls, *expected) -> None:
    """Per-url allclose of a PageRankResult against oracle vectors, one op
    per (what, oracle vector, atol) in ``expected``."""
    got = _collect(result.by_url(graph), "url", "rank")
    x = np.array([got.get(u, np.nan) for u in urls.tolist()])
    for what, want, atol in expected:
        out.check(
            len(got) == len(urls) and np.allclose(x, want, rtol=0.0, atol=atol),
            f"{what}: {len(got)} ranked urls (oracle {len(urls)}), "
            f"max |rank - oracle| = {np.nanmax(np.abs(x - want)):.3e} > {atol}",
        )


def _check_labels(out: Outcome, what: str, graph, df, col: str, urls, want) -> None:
    """Exact per-vertex labels, compared by url: label ids map to urls."""
    id_url = _collect(graph.vertices, "id", "url")
    got = {id_url[r["id"]]: id_url[r[col]] for r in df.collect()}
    out.check([got.get(u) for u in urls.tolist()] == urls[want].tolist(), f"{what}: labels differ from the oracle")


def _check_search(out: Outcome, query: str, synonyms, rows, urls, ranks) -> None:
    """Top-10 rows against the oracle's search over the oracle's ranks: the
    same urls in the same order, except that urls whose oracle rankings
    differ by less than RANK_TOLERANCE may trade places."""
    tol = RANK_TOLERANCE
    want = oracle.search(urls, ranks, query, synonyms)
    got = [(r["url"], r["ranking"]) for r in rows]
    ok = [u for u, _ in got] == [u for u, _ in want] and np.allclose(
        [s for _, s in got], [s for _, s in want], rtol=tol, atol=tol
    )
    if not ok:
        ranking = dict(oracle.search(urls, ranks, query, synonyms, k=len(urls)))
        ok = len(got) == len(want) and all(
            u in ranking and abs(ranking[u] - s) <= tol and ranking[u] >= want[-1][1] - tol
            for u, s in got
        )
    out.check(ok, f"search {query!r}: {got[:3]} vs oracle {want[:3]}")


def _setup(out: Outcome, load, release):
    """Run ``load`` SETUP_REPEATS times, timing each; release all but the last."""
    state = None
    for _ in range(SETUP_REPEATS):
        if state is not None:
            release(state)
        t0 = time.perf_counter()
        state = load()
        out.setup_s.append(time.perf_counter() - t0)
    return state


def _timed_batch(out: Outcome, ctx, name: str, batch):
    """Run the batch once under a request id; returns its result, or None
    when a call raised."""
    ctx.tracer.next_request()
    t0 = time.perf_counter()
    try:
        return batch()
    except Exception as e:  # a failed batch counts against the run
        out.check(False, f"{name} batch: {e!r}")
        return None
    finally:
        out.batch_s.append(time.perf_counter() - t0)


def _serve(ctx, out: Outcome, graph, result, urls, ranks, words) -> None:
    """Closed-loop top-10 queries over a ranked graph (traced runs), then
    the checks: whole cycles of the query mix until ``ctx.seconds`` have
    passed, at least two, so every run sees the same mix of shapes.
    PageRank and graph build do no work here."""
    import web_search_pagerank_project_spark as w
    from web_search_pagerank_project_spark.functions.synonyms import WordVectors, synonyms_for_query

    t = ctx.tracer
    vectors = WordVectors.load(GLOVE)
    queries = gen.query_mix(ctx.seed, words, 1000)
    answers = []

    def ask(query: str, expand: bool) -> None:
        syn = None
        try:
            if expand:
                with t.span("synonyms_for_query", "synonyms"):
                    syn = synonyms_for_query(vectors, [x for x in query.split() if not x.startswith("-")])
            with t.span("search", "pipeline"):
                answers.append((query, syn, w.search(graph, result, query, synonyms=syn).collect()))
        except Exception as e:  # a failed query counts against the run
            out.check(False, f"search {query!r}: {e!r}")

    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < 2 * gen.QUERY_SHAPES or i % gen.QUERY_SHAPES or time.perf_counter() < deadline:
        t.next_request()
        ask(*queries[i % len(queries)])
        i += 1
    for query, syn, rows in answers:
        _check_search(out, query, syn, rows, urls, ranks)


# --- web-analytics ---------------------------------------------------------


def web_analytics(ctx) -> Outcome:
    """CLI-style batch jobs back to back over a url edge table: graph build,
    PageRank, a top-10."""
    import web_search_pagerank_project_spark as w

    size = SIZES["web-analytics"][ctx.size]
    words = gen.load_words(GLOVE)
    path = ctx.cache("web-analytics", size)
    src, dst = ctx.cached(
        path, lambda: gen.web_analytics(ctx.spark, ctx.seed, words=words, path=f"{path}/edges", **size)
    )
    keep = oracle.kept(src) & oracle.kept(dst)
    snap = gen.snapshot_from_url_edges(src[keep], dst[keep])
    urls = snap.urls

    out = Outcome()
    t = ctx.tracer

    def load():
        edges = w.read_edge_parquet(ctx.spark, f"{path}/edges").persist()
        edges.count()
        return edges

    edges = _setup(out, load, lambda e: e.unpersist())

    def batch():
        with t.span("build_graph", "graph_build") as s:
            g = w.build_graph(edges)
            if s:
                s.info.update(rows=len(src))
        with t.span("pagerank", "pagerank") as s:
            pr = w.pagerank(g, epsilon=EPSILON, max_iterations=PR_ITERATIONS)
            _pagerank_info(s, pr, len(snap.src), "short")
        with t.span("search", "pipeline"):
            top = w.search(g, pr, "").collect()
        return g, pr, top

    done = _timed_batch(out, ctx, "web-analytics", batch)
    if done is None:
        return out
    g, pr, top = done

    # checks, outside the timed region
    want_pr, _ = oracle.power_method(snap, epsilon=EPSILON, max_iterations=PR_ITERATIONS)
    if not out.check(g.n == len(urls), f"build_graph: n={g.n}, oracle {len(urls)}"):
        return out
    _check_ranks(out, g, pr, urls, ("pagerank", want_pr, 1e-6))
    _check_search(out, "", None, top, urls, want_pr)

    if ctx.tracer.enabled:
        _serve(ctx, out, g, pr, urls, want_pr, words)
        # layers that do not fit the timed batch, over the same graph
        with t.span("pagerank_long", "pagerank") as s:
            pr_long = w.pagerank(g, epsilon=EPSILON, max_iterations=LONG_ITERATIONS)
            _pagerank_info(s, pr_long, len(snap.src), "long")
        want_long, _ = oracle.power_method(snap, epsilon=EPSILON, max_iterations=LONG_ITERATIONS)
        _check_ranks(out, g, pr_long, urls, ("pagerank (long)", want_long, 1e-6))
        with t.span("connected_components", "components"):
            cc = w.connected_components(g).persist()
            cc.count()
        _check_labels(out, "connected_components", g, cc, "component", urls, oracle.components(snap))
        with t.span("triangle_count", "triangles") as s:
            tri = w.triangle_count(g)
            s.info.update(count=tri)
        want_tri = oracle.triangles(snap)
        out.check(tri == want_tri, f"triangle_count: {tri}, oracle {want_tri}")
        with t.span("label_propagation", "labelprop"):
            lpa = w.label_propagation(g, max_iterations=LPA_ROUNDS).persist()
            lpa.count()
        _check_labels(out, "label_propagation", g, lpa, "label", urls, oracle.label_propagation(snap, LPA_ROUNDS))
        with t.span("make_personalization_vector", "query"):
            v = w.make_personalization_vector(g, TOPIC)
        v_oracle = oracle.personalization(urls, TOPIC)
        for role, iters in (("short", PR_ITERATIONS), ("long", LONG_ITERATIONS)):
            with t.span(f"pagerank_csr_{role}", "csr_kernel") as s:
                pr_csr = w.pagerank_csr(g, v, epsilon=EPSILON, max_iterations=iters)
                _pagerank_info(s, pr_csr, len(snap.src), role)
            want_csr, _ = oracle.power_method(snap, v_oracle, epsilon=EPSILON, max_iterations=iters)
            _check_ranks(out, g, pr_csr, urls, (f"pagerank_csr ({role})", want_csr, 1e-6))
    return out


def _pagerank_info(span, result, nnz: int, pair: str) -> None:
    """Attach what run.per_iteration needs to a PageRank call's span: its
    iteration count, the wall of its iterations as the result reports them,
    the edge count and its role in the per-iteration pair."""
    if span is not None:
        span.info.update(
            iterations=result.iterations,
            loop_s=sum(m.wall_ms for m in result.metrics) / 1000.0,
            nnz=nnz,
            pair=pair,
        )


# --- crawl-delta -----------------------------------------------------------


def crawl_delta(ctx) -> Outcome:
    """A re-crawl batch from HTML pages to refreshed ranks and a top-10 over
    a saved snapshot."""
    import web_search_pagerank_project_spark as w
    from web_search_pagerank_project_spark.functions.html import edges_from_pages, extract_pages
    from web_search_pagerank_project_spark.operators.graph_build import load_graph

    size = SIZES["crawl-delta"][ctx.size]
    path = ctx.cache("crawl-delta", size)

    def make():
        cd = gen.crawl_delta(ctx.spark, ctx.seed, path=f"{path}/pages", **size)
        base_ranks, _ = oracle.power_method(cd.base, epsilon=EPSILON)
        gen.write_snapshot(cd.base, f"{path}/base", base_ranks)
        return cd, base_ranks

    cd, base_ranks = ctx.cached(path, make)
    base_urls = cd.base.urls
    updated = gen.snapshot_from_url_edges(
        np.concatenate([base_urls[cd.base.src].repeat(cd.base.mult), cd.delta_src]),
        np.concatenate([base_urls[cd.base.dst].repeat(cd.base.mult), cd.delta_dst]),
    )
    urls = updated.urls

    out = Outcome()
    t = ctx.tracer

    def load():
        with t.span("load_graph", "graph_build"):
            base = load_graph(ctx.spark, f"{path}/base")
        x0 = ctx.spark.read.parquet(f"{path}/base/ranks").persist()
        x0.count()
        return base, x0

    def release(state):
        state[0].unpersist()
        state[1].unpersist()

    base, x0 = _setup(out, load, release)

    # start the python workers with a trivial job, so that neither the text
    # check's extract_pages nor the batch's extraction pays their start-up
    ctx.spark.range(64, numPartitions=8).mapInPandas(lambda it: it, "id long").count()

    # the text check runs first, untimed
    pages = ctx.spark.read.parquet(f"{path}/pages")
    with t.span("extract_pages", "html") as s:
        extracted = extract_pages(pages).select("url", "text").collect()
        if s:
            s.info.update(pages=len(extracted))
    mismatches = sum(1 for r in extracted if cd.text.get(r["url"]) != r["text"])
    mismatches += abs(len(extracted) - len(cd.text))
    out.info["text_mismatches"] = mismatches
    out.check(mismatches == 0, f"extract_pages: {mismatches} pages whose text differs from the pages' text")

    def batch():
        delta = edges_from_pages(ctx.spark.read.parquet(f"{path}/pages"))
        with t.span("update_graph", "incremental"):
            g = w.update_graph(base, delta)
        with t.span("pagerank_warm", "pagerank") as s:
            pr = w.pagerank(g, epsilon=EPSILON, max_iterations=PR_ITERATIONS, x0=x0)
            _pagerank_info(s, pr, len(updated.src), "short")
        with t.span("search", "pipeline"):
            top = w.search(g, pr, "").collect()
        return g, pr, top

    done = _timed_batch(out, ctx, "crawl-delta", batch)
    if done is None:
        return out
    g, pr, top = done

    # checks, outside the timed region. update_graph appends new urls after
    # the base's ids; the checks compare by url, so the oracle's url-ordered
    # ids need not match the engine's
    x_warm = oracle.warm_start(updated, base_urls, base_ranks)
    want, _ = oracle.power_method(updated, epsilon=EPSILON, max_iterations=PR_ITERATIONS, x0=x_warm)
    if not out.check(g.n == len(urls), f"update_graph: n={g.n}, oracle {len(urls)}"):
        return out
    _check_ranks(out, g, pr, urls, ("warm pagerank", want, 1e-6))
    _check_search(out, "", None, top, urls, want)

    if not ctx.tracer.enabled:
        return out
    # converged warm and cold runs (traced runs): their iteration counts are
    # what the warm start saves or costs
    fixed = oracle.fixed_point(updated)
    for name, x, x_oracle in (("warm", x0, x_warm), ("cold", None, None)):
        try:
            with t.span(f"pagerank_{name}_converged", "pagerank") as s:
                res = w.pagerank(g, epsilon=EPSILON, max_iterations=CONVERGED_MAX_ITERATIONS, x0=x)
                _pagerank_info(s, res, len(updated.src), "long" if name == "warm" else "")
        except Exception as e:  # a failed call counts against the run
            out.check(False, f"{name} pagerank (converged): {e!r}")
            continue
        out.info[f"{name}_iterations"] = res.iterations
        print(f"perfbench: pagerank.{name}_iterations {res.iterations}", file=sys.stderr, flush=True)
        want, want_iters = oracle.power_method(
            updated, epsilon=EPSILON, max_iterations=CONVERGED_MAX_ITERATIONS, x0=x_oracle
        )
        out.check(
            abs(res.iterations - want_iters) <= 1,
            f"{name} pagerank: {res.iterations} iterations, oracle {want_iters}",
        )
        if res.iterations != want_iters:  # the residual crossed epsilon within rounding
            want, _ = oracle.power_method(updated, epsilon=0.0, max_iterations=res.iterations, x0=x_oracle)
        expected = [(f"{name} pagerank (converged)", want, 1e-6)]
        if res.converged:
            expected.append((f"{name} pagerank (fixed point)", fixed, FIXED_POINT_TOLERANCE))
        _check_ranks(out, g, res, urls, *expected)
    return out


WORKLOADS = {
    "web-analytics": web_analytics,
    "crawl-delta": crawl_delta,
}
