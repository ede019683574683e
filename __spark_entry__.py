"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full PageRank pipeline over an edge table
derived deterministically from the sf0.001 ``documents`` table.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 (+ the training-data-pipeline extensions). Graph construction is
arithmetic over doc_id (portable to ANSI SQL) so DuckDB can cross-check the
whole dataflow, including a 3-iteration unrolled power method with the exact
reference numeric semantics (dangling beta, L2-normalized v — SURVEY §1.3).

Iterative ops that SQL cannot express (convergence loops) have ``queries()``
entries without oracles (rows-only driver check) and are instead verified
against NumPy oracles in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

V = 100  # vertex universe for the derived graph (small => sf-stable)
_A, _C, _M = 1103515245, 12345, 2147483648  # LCG constants for dst derivation


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic url edge table from documents (see sources/synth.py:
    derive_edges_from_documents) — identical arithmetic in oracle SQL."""
    from web_search_pagerank_project_spark.sources.synth import (
        derive_edges_from_documents,
    )

    return derive_edges_from_documents(_docs(spark, sf_dir), n_vertices=V)


_EDGES_SQL = f"""
    SELECT 'n' || CAST((doc_id * doc_id) % {V} AS VARCHAR) AS src,
           'n' || CAST(((doc_id * {_A} + {_C}) % {_M}) % {V} AS VARCHAR) AS dst
    FROM documents
"""

# weighted edges + vertex count, shared CTE prefix for graph oracles —
# parameterized by the raw edge-list SQL so the same machinery serves the
# page graph AND graphs derived from it (e.g. the host graph)
def _graph_prefix(edges_sql: str) -> str:
    return f"""
WITH e AS ({edges_sql}),
verts AS (
    SELECT DISTINCT url FROM (
        SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
    )
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
mult AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS m FROM e GROUP BY src, dst),
outdeg AS (SELECT src, SUM(m) AS od FROM mult GROUP BY src),
pw AS (
    SELECT mult.src, mult.dst, mult.m / outdeg.od AS weight
    FROM mult JOIN outdeg ON mult.src = outdeg.src
)
"""


_GRAPH_SQL_PREFIX = _graph_prefix(_EDGES_SQL)

# host-graph edge list: one row per INTER-host page link, hosts minted from
# the same doc_id arithmetic q_host_graph uses to build the page urls —
# duplicate host pairs stay duplicated so the reference's multiplicity->
# weight accumulation applies to the collapsed graph too
_HOST_EDGES_SQL = f"""
    SELECT * FROM (
        SELECT 'h' || CAST((doc_id * doc_id) % 13 AS VARCHAR) || '.example' AS src,
               'h' || CAST(((doc_id * {_A} + {_C}) % {_M}) % 13 AS VARCHAR)
                 || '.example' AS dst
        FROM documents
    ) WHERE src <> dst
"""

_HOST_GRAPH_SQL_PREFIX = _graph_prefix(_HOST_EDGES_SQL)


# shared CTE for the random-walk oracles: cumulative per-source intervals
# (last hi widened to 2.0 against Σ-of-rounded-weights), pure-integer LCG
# draw per (walk_id, step), recursive step join — replays operators/walks.py
# exactly; wk(walk_id, step, id) is the full walk corpus (length 4,
# walks_per_vertex=1 => walk_id = vertex id)
_WALKS_ORACLE_CTE = f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        iu AS (
            SELECT url, ROW_NUMBER() OVER (ORDER BY url) - 1 AS id FROM verts
        ),
        wmult AS (
            SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS m FROM e GROUP BY src, dst
        ),
        wout AS (SELECT src, SUM(m) AS od FROM wmult GROUP BY src),
        wpw AS (
            SELECT wmult.src, wmult.dst, wmult.m / wout.od AS weight
            FROM wmult JOIN wout ON wmult.src = wout.src
        ),
        wpe AS (
            SELECT s.id AS src_id, d.id AS dst_id, wpw.weight
            FROM wpw JOIN iu s ON wpw.src = s.url JOIN iu d ON wpw.dst = d.url
        ),
        wcum AS (
            SELECT src_id, dst_id,
                   SUM(weight) OVER (PARTITION BY src_id ORDER BY dst_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - weight AS lo,
                   CASE WHEN ROW_NUMBER() OVER (PARTITION BY src_id
                                                ORDER BY dst_id DESC) = 1
                        THEN 2.0
                        ELSE SUM(weight) OVER (PARTITION BY src_id
                            ORDER BY dst_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   END AS hi
            FROM wpe
        ),
        -- walks.py::_walk_seed: xor-shift/multiply rounds over id mod 2^31
        wseed1 AS (
            SELECT id, (xor(h, h >> 15) * 739982445) % 2147483648 AS h
            FROM (SELECT id, id % 2147483648 AS h FROM iu)
        ),
        wseed2 AS (
            SELECT id, (xor(h, h >> 12) * 695872825) % 2147483648 AS h
            FROM wseed1
        ),
        wk(walk_id, step, id, s) AS (
            SELECT id, 0, id, xor(h, h >> 15) FROM wseed2
            UNION ALL
            SELECT w.walk_id, w.step + 1, c.dst_id,
                   (w.s * 1103515245 + 12345) % 2147483648
            FROM wk w JOIN wcum c ON w.id = c.src_id
            WHERE w.step < 4
              AND c.lo <= ((w.s * 1103515245 + 12345) % 2147483648)
                          / 2147483648.0
              AND ((w.s * 1103515245 + 12345) % 2147483648)
                  / 2147483648.0 < c.hi
        )
"""


# weighted-edge variant of _graph_prefix: the edge SQL yields (src, dst, w)
# and a pair's multiplicity is SUM(w) instead of COUNT(*) — the SQL mirror
# of build_graph(weight_col=...)
def _graph_prefix_weighted(edges_sql: str) -> str:
    return f"""
WITH e AS ({edges_sql}),
verts AS (
    SELECT DISTINCT url FROM (
        SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
    )
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
mult AS (SELECT src, dst, SUM(w) AS m FROM e GROUP BY src, dst),
outdeg AS (SELECT src, SUM(m) AS od FROM mult GROUP BY src),
pw AS (
    SELECT mult.src, mult.dst, mult.m / outdeg.od AS weight
    FROM mult JOIN outdeg ON mult.src = outdeg.src
)
"""


# host edges weighted by DISTINCT LINKING PAGES (n_src_pages): the weight
# that damps sitewide boilerplate links — a host linking from 1000 pages
# carries 1000x the n_src_pages mass of a single deep link, but duplicate
# links from the SAME page count once
_HOST_EDGES_WEIGHTED_SQL = f"""
    SELECT src, dst, CAST(COUNT(DISTINCT src_page) AS DOUBLE) AS w FROM (
        SELECT 'h' || CAST((doc_id * doc_id) % 13 AS VARCHAR) || '.example' AS src,
               'h' || CAST(((doc_id * {_A} + {_C}) % {_M}) % 13 AS VARCHAR)
                 || '.example' AS dst,
               'http://h' || CAST((doc_id * doc_id) % 13 AS VARCHAR)
                 || '.example/p' || CAST(doc_id AS VARCHAR) AS src_page
        FROM documents
    ) WHERE src <> dst GROUP BY src, dst
"""

# degree-ordered edge orientation (triangles.py:26-56) as appendable CTEs —
# shared by the triangle_count and triangles_per_vertex oracles
_ORIENTED_SQL = """
, und AS (
    SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
    FROM e WHERE src <> dst
),
deg AS (
    SELECT id, COUNT(*) AS d FROM (
        SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und
    ) GROUP BY id
),
oriented AS (
    SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
                THEN und.u ELSE und.v END AS a,
           CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
                THEN und.v ELSE und.u END AS b
    FROM und
    JOIN deg du ON und.u = du.id
    JOIN deg dv ON und.v = dv.id
)
"""


def _pr_oracle_sql(
    vraw_expr: str,
    iters: int = 3,
    epsilon: float | None = None,
    limit: int | None = None,
    normalize: bool = False,
    prefix: str | None = None,
) -> str:
    """Unrolled power-method iterations with exact reference numerics
    (q -> L1 -> L2-normalized v per ws_pagerank.py:115-139; dangling beta
    per iteration). ``vraw_expr`` is the raw personalization indicator over
    ``verts.url`` ('1.0' = uniform; uniform q -> v_i = 1/sqrt(n), matching
    the original inline oracle).

    With ``epsilon`` set this also replicates the engine's early-stop rule
    (operators/pagerank.py:159-247: return x_k at the FIRST k with
    ||x_k - x_{k-1}||_2 < epsilon, else x_{iters}) by tagging every
    iterate with its iteration number and residual, then selecting the
    first converged iterate — so the oracle is valid whether or not the
    graph converges within the unroll budget.  (Note the reference
    semantics do NOT renormalize x between iterations while v is
    L2-normalized, so total mass can GROW; at the contract SF the iterate
    diverges and the converged query is exactly the full-budget unroll.)

    ``normalize`` L2-normalizes the SELECTED iterate before rounding.
    PageRank scores are defined up to scale (SURVEY §1.3.5), and a long
    diverging unroll amplifies float64 accumulation-order differences
    between Spark and DuckDB past an absolute ROUND(x, 6) — dividing by
    ||x||_2 makes the compared quantity scale-stable so only relative
    (ulp-level) error remains (VERDICT r3 item 1).
    """
    # MATERIALIZED: each iterate is referenced several times (next step's
    # beta + contribution join, residual, final union); without the hint
    # DuckDB's inliner replicates the whole upstream chain per reference —
    # at 100 unrolled steps that exponential blowup exhausts file handles
    # on the parquet scan before planning finishes.
    mat = "MATERIALIZED " if iters > 3 or epsilon is not None else ""
    pw, vv, dang = ("pwm", "vvm", "dangm") if mat else ("pw", "vv", "dang")
    it_blocks = []
    if mat:
        it_blocks.append("""
        pwm AS MATERIALIZED (SELECT * FROM pw),
        vvm AS MATERIALIZED (SELECT * FROM vv),
        dangm AS MATERIALIZED (SELECT url FROM dang)""")
    for i in range(1, iters + 1):
        prev = f"x{i - 1}"
        it_blocks.append(f"""
        b{i} AS (SELECT 0.85 * COALESCE((SELECT SUM(x) FROM {prev} WHERE url IN (SELECT url FROM {dang})), 0) + 0.15 AS beta),
        x{i} AS {mat}(
            SELECT {vv}.url, (SELECT beta FROM b{i}) * {vv}.v + 0.85 * COALESCE(c.contrib, 0) AS x
            FROM {vv} LEFT JOIN (
                SELECT {pw}.dst AS url, SUM({pw}.weight * {prev}.x) AS contrib
                FROM {pw} JOIN {prev} ON {pw}.src = {prev}.url GROUP BY {pw}.dst
            ) c ON {vv}.url = c.url
        )""")
        if epsilon is not None:
            it_blocks.append(f"""
        r{i} AS (
            SELECT sqrt(SUM((a.x - b.x) * (a.x - b.x))) AS r
            FROM x{i} a JOIN {prev} b ON a.url = b.url
        )""")
    if normalize:
        score = "ROUND(x / (SELECT nrm FROM fnorm), 6)"
    else:
        score = "ROUND(x, 6)"
    if epsilon is None:
        fin = f", fin AS (SELECT url, x FROM x{iters})" if normalize else ""
        src = "fin" if normalize else f"x{iters}"
        fnorm = (
            ", fnorm AS (SELECT sqrt(SUM(x * x)) AS nrm FROM fin)"
            if normalize
            else ""
        )
        tail = f"{fin}{fnorm}\nSELECT url, {score} AS score FROM {src}"
    else:
        all_x = " UNION ALL ".join(
            f"SELECT {i} AS it, url, x FROM x{i}" for i in range(1, iters + 1)
        )
        all_r = " UNION ALL ".join(
            f"SELECT {i} AS it, (SELECT r FROM r{i}) AS r"
            for i in range(1, iters + 1)
        )
        fnorm = (
            ",\n        fnorm AS (SELECT sqrt(SUM(x * x)) AS nrm FROM fin)"
            if normalize
            else ""
        )
        tail = f"""
        , all_x AS ({all_x}),
        all_r AS ({all_r}),
        pick AS (
            SELECT COALESCE(
                (SELECT MIN(it) FROM all_r WHERE r < {epsilon!r}), {iters}
            ) AS it
        ),
        fin AS (
            SELECT url, x FROM all_x WHERE it = (SELECT it FROM pick)
        ){fnorm}
        SELECT url, {score} AS score FROM fin
        """
    order = "\nORDER BY score DESC, url"
    if limit is not None:
        order += f" LIMIT {limit}"
    return (
        (prefix if prefix is not None else _GRAPH_SQL_PREFIX)
        + f"""
        , qsum AS (SELECT SUM({vraw_expr}) AS s FROM verts),
        vl1 AS (SELECT url, ({vraw_expr}) / (SELECT s FROM qsum) AS v FROM verts),
        vnorm AS (SELECT sqrt(SUM(v * v)) AS nrm FROM vl1),
        vv AS (SELECT url, v / (SELECT nrm FROM vnorm) AS v FROM vl1),
        x0 AS {mat}(SELECT url, 1.0 / sqrt((SELECT n FROM nn)) AS x FROM verts),
        dang AS (SELECT url FROM verts WHERE url NOT IN (SELECT DISTINCT src FROM pw)),
        """
        + ",".join(it_blocks)
        + tail
        + order
    )


def _hits_oracle_sql(iters: int = 3) -> str:
    """Unrolled Kleinberg HITS (operators/hits.py semantics): over the
    deduplicated directed edge structure (pw's (src, dst) pairs — already
    duplicate-collapsed), h0 = 1/sqrt(n), then per iteration
    a = norm2(A^T h), h = norm2(A a). Per-step L2 normalization keeps every
    compared value O(1), so ROUND(x, 6) absolute tolerance is safe.

    Every CTE is MATERIALIZED: each is referenced two or three times (the
    norm and its normalized copy both read the raw vector), so inlined CTEs
    replicate the upstream chain per reference and DuckDB runs out of
    memory before the third iteration finishes."""
    blocks = []
    for i in range(1, iters + 1):
        prev = f"h{i - 1}"
        blocks.append(f"""
        ar{i} AS MATERIALIZED (
            SELECT verts.url, COALESCE(c.v, 0) AS x FROM verts LEFT JOIN (
                SELECT ed.dst AS url, SUM({prev}.s) AS v
                FROM ed JOIN {prev} ON ed.src = {prev}.url GROUP BY ed.dst
            ) c ON verts.url = c.url
        ),
        an{i} AS MATERIALIZED (SELECT sqrt(SUM(x * x)) AS nrm FROM ar{i}),
        a{i} AS MATERIALIZED (
            SELECT url, CASE WHEN (SELECT nrm FROM an{i}) > 0
                             THEN x / (SELECT nrm FROM an{i}) ELSE 0.0 END AS s
            FROM ar{i}
        ),
        hr{i} AS MATERIALIZED (
            SELECT verts.url, COALESCE(c.v, 0) AS x FROM verts LEFT JOIN (
                SELECT ed.src AS url, SUM(a{i}.s) AS v
                FROM ed JOIN a{i} ON ed.dst = a{i}.url GROUP BY ed.src
            ) c ON verts.url = c.url
        ),
        hn{i} AS MATERIALIZED (SELECT sqrt(SUM(x * x)) AS nrm FROM hr{i}),
        h{i} AS MATERIALIZED (
            SELECT url, CASE WHEN (SELECT nrm FROM hn{i}) > 0
                             THEN x / (SELECT nrm FROM hn{i}) ELSE 0.0 END AS s
            FROM hr{i}
        )""")
    return (
        _GRAPH_SQL_PREFIX
        + f"""
        , ed AS (SELECT src, dst FROM pw),
        h0 AS MATERIALIZED (SELECT url, 1.0 / sqrt((SELECT n FROM nn)) AS s FROM verts),
        """
        + ",".join(blocks)
        + f"""
        SELECT a{iters}.url, ROUND(a{iters}.s, 6) AS authority,
               ROUND(h{iters}.s, 6) AS hub
        FROM a{iters} JOIN h{iters} ON a{iters}.url = h{iters}.url
        ORDER BY authority DESC, a{iters}.url
        """
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peeling (operators/kcore.py semantics) over the
    deduplicated undirected self-loop-free structure. ``rounds`` must be
    >= the synchronous peel depth at the contract SF (measured: 2 at both
    sf0.001 and sf0.01 for k=6); extra rounds are no-ops at the fixed
    point, so over-unrolling is safe."""
    parts = [
        f"WITH e AS ({_EDGES_SQL}),",
        """
        ku0 AS MATERIALIZED (
            SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM e WHERE src <> dst
        )
        """,
    ]
    # MATERIALIZED: each round references its predecessor ~3x, so plain
    # (inlined) CTEs make the expansion 3^rounds scans of the base table —
    # DuckDB runs out of file handles before it runs out of patience
    for r in range(1, rounds + 1):
        parts.append(
            f"""
        , kd{r} AS (
            SELECT id FROM (
                SELECT u AS id FROM ku{r - 1}
                UNION ALL SELECT v AS id FROM ku{r - 1}
            ) GROUP BY id HAVING COUNT(*) >= {k}
        ),
        ku{r} AS MATERIALIZED (
            SELECT p.u, p.v FROM ku{r - 1} p
            JOIN kd{r} a ON p.u = a.id
            JOIN kd{r} b ON p.v = b.id
        )
        """
        )
    parts.append(
        f"""
        SELECT id AS url, COUNT(*) AS core_degree FROM (
            SELECT u AS id FROM ku{rounds}
            UNION ALL SELECT v AS id FROM ku{rounds}
        ) GROUP BY id ORDER BY url
        """
    )
    return "".join(parts)


def _lpa_oracle_sql(rounds: int) -> str:
    """Unrolled synchronous LPA (operators/labelprop.py semantics): each
    vertex adopts its most frequent neighbor label, ties -> MIN label; no
    neighbors -> keep own. Labels are urls here; the engine's integer ids are
    assigned in url sort order, so min-id and min-url tie-breaks agree."""
    parts = [
        f"WITH e AS ({_EDGES_SQL}),",
        """
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e
                UNION ALL SELECT dst AS src, src AS dst FROM e
            ) WHERE src <> dst
        ),
        l0 AS (SELECT url, url AS label FROM verts)
        """,
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""
        , f{k} AS (
            SELECT s.dst AS url, l.label, COUNT(*) AS cnt
            FROM sym s JOIN l{k - 1} l ON s.src = l.url
            GROUP BY s.dst, l.label
        ),
        w{k} AS (
            SELECT url, label FROM (
                SELECT url, label,
                       ROW_NUMBER() OVER (PARTITION BY url ORDER BY cnt DESC, label ASC) AS rn
                FROM f{k}
            ) WHERE rn = 1
        ),
        l{k} AS (
            SELECT l.url, COALESCE(w.label, l.label) AS label
            FROM l{k - 1} l LEFT JOIN w{k} w ON l.url = w.url
        )
        """
        )
    parts.append(
        f"""
        SELECT label AS community_url, COUNT(*) AS community_size
        FROM l{rounds}
        GROUP BY label
        ORDER BY community_size DESC, community_url
        """
    )
    return "\n".join(parts)


def _build_graph(spark: SparkSession, sf_dir: str):
    from web_search_pagerank_project_spark import build_graph

    return build_graph(_edges(spark, sf_dir), cache=True)


# --------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """PageRank to convergence on the sf0.001-derived graph; top 20 urls."""
    from web_search_pagerank_project_spark import pagerank, search

    graph = _build_graph(spark, "/root/testdata/sf0.001")
    result = pagerank(graph, alpha=0.85, max_iterations=100, epsilon=1e-6)
    return search(graph, result, query="", max_results=20)


# --------------------------------------------------------------------------
# queries


def q_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O8: scan -> derive -> dictionary-ish weighted edge table."""
    graph = _build_graph(spark, sf_dir)
    v = graph.vertices
    out = (
        graph.edges.join(v.withColumnRenamed("url", "src_url"), graph.edges.src_id == v.id)
        .drop("id")
        .join(
            v.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "id2"),
            F.col("dst_id") == F.col("id2"),
        )
        .select("src_url", "dst_url", F.round("weight", 6).alias("weight"))
    )
    return out


def q_in_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6/O17: in-degree aggregation + deterministic top-k."""
    e = _edges(spark, sf_dir)
    return (
        e.groupBy("dst")
        .agg(F.count("*").alias("indeg"))
        .orderBy(F.desc("indeg"), F.asc("dst"))
        .limit(20)
    )


def q_dangling_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: dangling detection via anti-join."""
    e = _edges(spark, sf_dir)
    verts = e.select(F.col("src").alias("url")).unionAll(
        e.select(F.col("dst").alias("url"))
    ).distinct()
    return verts.join(
        e.select(F.col("src").alias("url")).distinct(), "url", "left_anti"
    ).orderBy("url")


def q_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11-O14: three unrolled power-method iterations, exact reference
    semantics (uniform v => v = x0 = 1/sqrt(n); dangling beta per iter)."""
    from web_search_pagerank_project_spark import build_graph, pagerank

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    res = pagerank(graph, alpha=0.85, max_iterations=3, epsilon=0.0)
    return (
        res.by_url(graph)
        .select("url", F.round("rank", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
    )


def q_hits_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, 3 full iterations (operators/hits.py) — the
    other classic link-analysis ranking a web-search engine computes on the
    same edge table (breadth beyond the reference's PageRank-only scoring,
    ws_pagerank.py:121-178). Per half-step L2 normalization; oracle is the
    same 3 iterations unrolled in SQL (_hits_oracle_sql)."""
    from web_search_pagerank_project_spark import build_graph
    from web_search_pagerank_project_spark.operators.hits import hits

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    res = hits(graph, max_iterations=3, epsilon=0.0)
    return (
        res.by_url(graph)
        .select(
            "url",
            F.round("authority", 6).alias("authority"),
            F.round("hub", 6).alias("hub"),
        )
        .orderBy(F.desc("authority"), F.asc("url"))
    )


def q_url_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O19: query predicate (positive OR + negation veto) + rank by
    in-degree (stand-in score) + top-k."""
    from web_search_pagerank_project_spark.functions.query import query_predicate

    e = _edges(spark, sf_dir)
    scored = e.groupBy(F.col("dst").alias("url")).agg(F.count("*").alias("score"))
    return (
        scored.filter(query_predicate("n1 n2 -n12", "url"))
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(25)
    )


def q_filter_ratio_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: in-link-ratio spam filter (keep edge iff indeg(dst) < ratio*n)."""
    e = _edges(spark, sf_dir)
    n = (
        e.select(F.col("src").alias("u"))
        .unionAll(e.select(F.col("dst").alias("u")))
        .distinct()
        .count()
    )
    indeg = e.groupBy("dst").agg(F.count("*").alias("indeg"))
    kept = (
        e.join(indeg, "dst")
        .filter(F.col("indeg") < F.lit(0.05) * F.lit(float(n)))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("multiplicity"))
    )
    return kept.orderBy("src", "dst")


def q_limit_prefix_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: the reference's ``max_nnz`` row cap — which keeps the first
    ``max_nnz + 1`` rows, the break firing AFTER the appending read
    (pagerank.py:36-37) — applied to a deterministically ordered edge
    stream (doc_id order stands in for the reference's sequential CSV
    read; Catalyst compiles orderBy->project->limit to a single
    TakeOrderedAndProject, so the prefix is exact, not per-partition).
    Aggregated per src so the compared result is order-free."""
    from web_search_pagerank_project_spark.sources.edges import limit_nnz
    from web_search_pagerank_project_spark.sources.synth import (
        derive_edges_from_documents,
    )

    docs = _docs(spark, sf_dir).orderBy("doc_id")
    e = limit_nnz(derive_edges_from_documents(docs, n_vertices=V), max_nnz=299)
    return (
        e.groupBy("src")
        .agg(
            F.count("*").alias("prefix_out"),
            F.countDistinct("dst").alias("distinct_dst"),
        )
        .orderBy("src")
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: degree-ordered orientation triangle count (single scalar row)."""
    from web_search_pagerank_project_spark import build_graph, triangle_count

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    n = triangle_count(graph)
    return spark.createDataFrame([(n,)], "triangles long")


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (per-vertex form): triangles incident to each vertex — one count
    per corner of every oriented-wedge triangle (triangles.py:79-103,
    sharing the O(sqrt(m))-bounded wedge plan with q_triangle_count).
    Keyed by url so the oracle needs no id-assignment replay."""
    from web_search_pagerank_project_spark import build_graph
    from web_search_pagerank_project_spark.operators.triangles import (
        triangles_per_vertex,
    )

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    per_v = triangles_per_vertex(graph)
    return (
        per_v.join(graph.vertices, "id")
        .select("url", "triangles")
        .orderBy("url")
    )


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (normalized form): local clustering coefficient —
    2*tri(v)/(deg(v)*(deg(v)-1)) over the dedup undirected graph, 0 for
    deg<2 (triangles.py::clustering_coefficient, same oriented wedge
    plan). Oracle recomputes it from the shared oriented CTEs."""
    from web_search_pagerank_project_spark import build_graph, clustering_coefficient

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    cc = clustering_coefficient(graph)
    return (
        cc.join(graph.vertices, "id")
        .select("url", F.round("coeff", 6).alias("coeff"))
        .orderBy("url")
    )


def q_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: directed BFS hop distances from seed url 'n1'
    (operators/bfs.py). Oracle: depth-bounded recursive walk closure with
    MIN(d) per vertex — identical to synchronous frontier levels."""
    from web_search_pagerank_project_spark import bfs_distances, build_graph

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    dist = bfs_distances(graph, seed_predicate=F.col("url") == "n1")
    return dist.join(graph.vertices, "id").select("url", "dist").orderBy("url")


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: edge reciprocity of the dedup simple digraph (single scalar
    row; operators/metrics.py::reciprocity)."""
    from web_search_pagerank_project_spark import build_graph, reciprocity

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    r = reciprocity(graph)
    return spark.createDataFrame([(round(r, 6),)], "reciprocity double")


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: total-degree histogram over the dedup simple digraph, incl.
    the degree-0 row (operators/metrics.py::degree_histogram)."""
    from web_search_pagerank_project_spark import build_graph, degree_histogram

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    return degree_histogram(graph, "total").orderBy("degree")


def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: top-20 non-adjacent pairs by common-neighbor count
    (operators/linkpred.py). Deterministic order (common desc, jaccard
    desc, then pair); dense-id pair canonicalization == url-lexicographic
    because ids are assigned in url sort order."""
    from web_search_pagerank_project_spark import build_graph, common_neighbors_topk

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    top = common_neighbors_topk(graph, k=20)
    ua = graph.vertices.select(F.col("id").alias("id_a"), F.col("url").alias("url_a"))
    ub = graph.vertices.select(F.col("id").alias("id_b"), F.col("url").alias("url_b"))
    return (
        top.join(ua, "id_a")
        .join(ub, "id_b")
        .select("url_a", "url_b", "common", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.desc("common"), F.desc("jaccard"), "url_a", "url_b")
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: exact CC assignments (url -> component min-url). Iterative —
    no SQL oracle; verified vs union-find oracle in tests."""
    from web_search_pagerank_project_spark import build_graph, connected_components

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    comp = connected_components(graph)
    lab = comp.join(graph.vertices, "id").select(
        "url", F.col("component").alias("component_id")
    )
    min_urls = graph.vertices.select(
        F.col("id").alias("component_id"), F.col("url").alias("component_url")
    )
    return lab.join(min_urls, "component_id").select("url", "component_url").orderBy("url")


def q_kcore_6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: 6-core of the link graph (url, within-core degree) via
    distributed peeling (operators/kcore.py); oracle unrolls the same
    peel 8 synchronous rounds in SQL (_kcore_oracle_sql)."""
    from web_search_pagerank_project_spark import build_graph
    from web_search_pagerank_project_spark.operators.kcore import k_core

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    core = k_core(graph, 6)
    return (
        core.join(graph.vertices, "id")
        .select("url", "core_degree")
        .orderBy("url")
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: strongly connected components (url -> min-url of its SCC) via
    FW-BW coloring (operators/scc.py). Oracle: directed transitive closure
    (recursive CTE) + mutual-reachability min — exact at the contract SF.
    Dense ids are assigned in url sort order, so id-min == url-min."""
    from web_search_pagerank_project_spark import (
        build_graph,
        strongly_connected_components,
    )

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    res = strongly_connected_components(graph)
    lab = res.labels.join(graph.vertices, "id").select("url", "scc")
    min_urls = graph.vertices.select(
        F.col("id").alias("scc"), F.col("url").alias("scc_url")
    )
    return lab.join(min_urls, "scc").select("url", "scc_url").orderBy("url")


def q_bowtie_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: Broder bow-tie class sizes (CORE/IN/OUT/OTHER) against the
    largest SCC (operators/scc.py:bowtie_classes). Oracle: the same classes
    from the directed closure — IN reaches CORE, OUT is reached from it."""
    from web_search_pagerank_project_spark import build_graph, bowtie_classes

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    cls = bowtie_classes(graph)
    return (
        cls.groupBy("cls")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("cls"))
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: LPA community sizes after 5 synchronous rounds. Oracle: the same
    5 rounds unrolled in SQL (argmax-count labels, min-label tie-break);
    dense ids are assigned in url sort order so id-argmin == url-argmin."""
    from web_search_pagerank_project_spark import build_graph, label_propagation

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    labels = label_propagation(graph, max_iterations=5)
    lab_urls = graph.vertices.select(
        F.col("id").alias("label"), F.col("url").alias("community_url")
    )
    return (
        labels.join(lab_urls, "label")
        .groupBy("community_url")
        .agg(F.count("*").alias("community_size"))
        .orderBy(F.desc("community_size"), F.asc("community_url"))
    )


def q_pagerank_personalized_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15: personalization vector (query 'n1' substring match, L1- then
    L2-normalized per reference ws:115-139) driving 3 unrolled iterations."""
    from web_search_pagerank_project_spark import build_graph, pagerank
    from web_search_pagerank_project_spark.functions.query import (
        make_personalization_vector,
    )

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    v = make_personalization_vector(graph, "n1")
    res = pagerank(graph, v, alpha=0.85, max_iterations=3, epsilon=0.0)
    return (
        res.by_url(graph)
        .select("url", F.round("rank", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
    )


def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full converged PageRank incl. the epsilon-stop rule; oracle-checked
    against a 100-step unrolled DuckDB chain with first-converged-iterate
    selection (VERDICT r2 item 4 closed the last iterative `no_oracle`).

    The comparison is over the L2-NORMALIZED final iterate: scores are
    defined up to scale (SURVEY §1.3.5) and the iterate diverges at this
    SF, so comparing raw magnitudes at 100 steps amplifies float64
    summation-order drift between engines past an absolute ROUND(x, 6)
    (VERDICT r3 item 1). The oracle normalizes identically."""
    from web_search_pagerank_project_spark import build_graph, pagerank

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    res = pagerank(graph, max_iterations=100, epsilon=1e-6)
    ranks = res.by_url(graph)
    norm = ranks.agg(
        F.sqrt(F.sum(F.col("rank") * F.col("rank"))).alias("_nrm")
    )
    return (
        ranks.crossJoin(F.broadcast(norm))  # 1-row scalar, not a real cross
        .select("url", F.round(F.col("rank") / F.col("_nrm"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(50)
    )


# ---- relational operator coverage over the TPC-H-ish tables ----


def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + groupBy agg (sum/avg/count)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k across customer/orders."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(25)
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events stream table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("hour", "event_type")
    )


def q_events_sessionized_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-user event ordering + gap to previous event."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> UTC epoch
    out = ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("seq"),
        (epoch - F.lag(epoch, 1).over(w)).alias("gap_sec"),
    )
    return out.filter(F.col("seq") <= 5).orderBy("user_id", "seq")


def q_customer_nation_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations with customers INTERSECT nations with
    suppliers, then EXCEPT the ones with >100 customers."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    cust_nations = c.select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp_nations = s.select(F.col("s_nationkey").alias("nationkey")).distinct()
    big = (
        c.groupBy("c_nationkey")
        .agg(F.count("*").alias("nc"))
        .filter(F.col("nc") > 100)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    return (
        cust_nations.intersect(supp_nations).exceptAll(big).orderBy("nationkey")
    )


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: revenue by (orderpriority, orderstatus) with
    subtotals and grand total."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


# ---- training-data pipeline ops over documents/embeddings ----


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups via md5 of normalized text (portable hash)."""
    docs = _docs(spark, sf_dir)
    # head fingerprint (first 64 normalized chars): the synthetic corpus has
    # no full-text exact dups at small SF, so the head variant keeps this
    # check non-trivial; exact full-text dedup is exercised in tests/ with
    # synthesized duplicates.
    fp = F.md5(
        F.substring(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 64
        )
    )
    return (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
        .orderBy("fp")
    )


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation ratio (JVM-side expressions)."""
    docs = _docs(spark, sf_dir)
    toks = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    punct = F.round(
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
        ).cast("double")
        / F.greatest(F.length("text"), F.lit(1)).cast("double"),
        6,
    )
    return docs.select(
        "doc_id", toks.alias("n_tokens"), punct.alias("punct_ratio")
    ).orderBy("doc_id")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality scoring + BPE-ish token estimate —
    all JVM-side Catalyst expressions (functions/textstats.py)."""
    from web_search_pagerank_project_spark.functions.textstats import (
        bpe_ish_token_count,
        quality_score,
        stopword_ratio,
        uppercase_ratio,
    )

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        bpe_ish_token_count("text").alias("n_subtokens"),
        F.round(uppercase_ratio("text"), 6).alias("caps_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(quality_score("text"), 2).alias("quality"),
    ).orderBy("doc_id")


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 embedding (exact ANN baseline)."""
    from web_search_pagerank_project_spark.operators.similarity import cosine_sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(
                cosine_sim(F.col("embedding").cast("array<double>"), F.col("qv")), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 ancillary: component size distribution (exact, via converged CC)."""
    from web_search_pagerank_project_spark import build_graph, connected_components
    from web_search_pagerank_project_spark.operators.components import (
        component_sizes,
    )

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    comp = connected_components(graph)
    lab = graph.vertices.select(
        F.col("id").alias("component"), F.col("url").alias("component_url")
    )
    return (
        component_sizes(comp)
        .join(lab, "component")
        .select("component_url", "size")
        .orderBy(F.desc("size"), F.asc("component_url"))
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: hyperplane-LSH bucketed cosine top-k, oracle-checked
    against DuckDB brute force (VERDICT r2 item 4 closed the last ANN
    `no_oracle`). 48 bands x 3 planes makes the bucketed candidate set
    provably cover the true top-10 here: the weakest true neighbor has
    cosine ~0.276 (p_plane = 1 - acos(0.276)/pi ~= 0.589), so per-neighbor
    miss probability is (1 - p^3)^48 ~= 1.1e-5 and the seeded run is
    verified to return exactly the brute-force top-10 — which is what the
    oracle computes. Exact re-scoring on candidates means values are
    byte-identical to brute force whenever coverage holds."""
    from web_search_pagerank_project_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = lsh_topk(
        emb.filter(F.col("vec_id") != 0), [float(x) for x in q], k=10,
        bands=48, planes_per_band=3,
    )
    return top.select("id", F.round("cosine", 6).alias("cosine"))


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN scale path: spherical-k-means coarse
    quantizer trained on a bounded deterministic sample, Arrow-batched
    cluster assignment, probe-filtered exact re-score
    (operators/similarity.py::ivf_topk). Probing ALL n_clusters lists is
    exactly brute force — the identity this contract row pins, so the
    whole train/assign/probe plumbing hash-matches the DuckDB brute-force
    oracle. Partial-probe recall behavior is pinned separately in
    tests/test_similarity.py."""
    from web_search_pagerank_project_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = ivf_topk(
        emb.filter(F.col("vec_id") != 0), [float(x) for x in q], k=10,
        n_clusters=8, nprobe=8,
    )
    return top.select("id", F.round("cosine", 6).alias("cosine"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over consecutive-id candidate pairs —
    array_intersect/array_union JVM-side (operators/dedup.py)."""
    from web_search_pagerank_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    cands = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    pairs = ngram_jaccard_pairs(docs, cands)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a")


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate generation -> exact 3-gram-Jaccard verification
    >= 0.8 (VERDICT r1 item 5: the emitted pairs are a deterministic
    function of the data, so DuckDB can pin them with an all-pairs oracle).

    Banding 128 hashes / 32 bands (r=4) puts per-pair recall at
    1-(1-J^4)^32 >= 1-1.6e-15 for J >= 0.9 (the corpus' weakest true pair),
    so candidates ⊇ {exact pairs} and the verified output equals the
    all-pairs ground truth — which is exactly what the oracle computes.
    """
    from web_search_pagerank_project_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(docs, num_hashes=128, shingle_k=3)
    cands = minhash_lsh_candidates(sigs, bands=32, rows_per_band=4)
    return (
        ngram_jaccard_pairs(docs, cands, n=3)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pigeonhole candidates (hamming <= 7, EXACT recall for that
    radius by construction) -> exact 3-gram-Jaccard verification >= 0.8.
    Oracle-checkable like q_minhash_near_dups: the corpus' true near-dup
    pairs all sit at hamming <= 5, so the verified output equals the
    all-pairs ground truth while exercising the simhash path end-to-end.
    Radius 7 gives 8 pigeonhole blocks of 8 bits each (ADVICE r2: radius 16
    meant 17 blocks of 3 bits = 8 distinct keys per block, degenerating the
    candidate self-join toward all-pairs and leaving 13 bits unindexed)."""
    from web_search_pagerank_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_near_dups,
        simhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    sigs = simhash_signatures(docs)
    cands = simhash_near_dups(sigs, max_hamming=7).select("id_a", "id_b")
    return (
        ngram_jaccard_pairs(docs, cands, n=3)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_lsh_pairs_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup mining: hyperplane-LSH bucketed candidate
    pairs -> exact cosine >= 0.4 (operators/similarity.all_pairs_above).
    48 bands x 3 planes gives per-pair recall 1-(1-p^3)^48 >= 1-1e-6 at
    cos=0.4 (p = 1 - acos(0.4)/pi = 0.63), so the LSH output equals the
    all-pairs ground truth the DuckDB oracle computes."""
    from web_search_pagerank_project_spark.operators.similarity import (
        all_pairs_above,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # dim=64 (TESTDATA.md embeddings shape at every sf) keeps plan
    # construction action-free — no probe job
    pairs = all_pairs_above(
        emb, threshold=0.4, bands=48, planes_per_band=3, dim=64
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).orderBy("id_a", "id_b")


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: incoming harmonic centrality over all sources via bit-parallel
    multi-source BFS (operators/msbfs.py; Boldi-Vigna 2014's recommended
    web centrality). V=100 exercises the multi-wave (>64 sources) path.
    Oracle: bounded recursive walk closure from every vertex, MIN(d) per
    (source, vertex), SUM(1/d) per vertex."""
    from web_search_pagerank_project_spark import build_graph, harmonic_centrality

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    h = harmonic_centrality(graph)
    return (
        graph.vertices.join(h, "id", "left")
        .select(
            "url",
            F.round(F.coalesce(F.col("harmonic"), F.lit(0.0)), 6).alias("harmonic"),
        )
        .orderBy("url")
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: directed (out, in) degree assortativity of the dedup simple
    digraph (operators/metrics.py::degree_assortativity); single scalar
    row. Oracle: corr from covar_pop/stddev_pop over the same edge list."""
    from web_search_pagerank_project_spark import build_graph, degree_assortativity

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    r = degree_assortativity(graph, "out", "in")
    return spark.createDataFrame([(round(r, 6),)], "assortativity double")


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: page-graph -> host-graph collapse (operators/hostgraph.py).
    Page urls are derived arithmetically from doc_id so the oracle can
    rebuild the hosts without a url parser; the Spark side goes through
    the real `parse_url(url, 'HOST')` path. Weights: total links and
    distinct linking pages per host pair, intra-host links dropped."""
    from web_search_pagerank_project_spark import host_edges

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        F.concat(
            F.lit("http://h"),
            ((F.col("doc_id") * F.col("doc_id")) % 13).cast("string"),
            F.lit(".example/p"),
            F.col("doc_id").cast("string"),
        ).alias("src"),
        F.concat(
            F.lit("http://h"),
            (((F.col("doc_id") * _A + _C) % _M) % 13).cast("string"),
            F.lit(".example/p"),
            ((F.col("doc_id") * 7) % 1000).cast("string"),
        ).alias("dst"),
    )
    return host_edges(pages).orderBy("src", "dst")


def q_host_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19b: the canonical composition — collapse the page graph to hosts
    (parse_url path), then run exact-reference-semantics PageRank on the
    host graph (Common-Crawl-style host ranking). Duplicate host pairs are
    kept so page-link multiplicity becomes edge weight, exactly as the
    page-level build treats duplicate edges. Oracle: the standard unrolled
    power method over the host edge list."""
    from web_search_pagerank_project_spark import build_graph, pagerank
    from web_search_pagerank_project_spark.operators.hostgraph import host_of

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        F.concat(
            F.lit("http://h"),
            ((F.col("doc_id") * F.col("doc_id")) % 13).cast("string"),
            F.lit(".example/p"),
            F.col("doc_id").cast("string"),
        ).alias("src"),
        F.concat(
            F.lit("http://h"),
            (((F.col("doc_id") * _A + _C) % _M) % 13).cast("string"),
            F.lit(".example/p"),
            ((F.col("doc_id") * 7) % 1000).cast("string"),
        ).alias("dst"),
    )
    pairs = pages.select(
        host_of(F.col("src")).alias("src"), host_of(F.col("dst")).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    graph = build_graph(pairs, cache=True)
    res = pagerank(graph, alpha=0.85, max_iterations=3, epsilon=0.0)
    return (
        res.by_url(graph)
        .select("url", F.round("rank", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
    )


def q_host_pagerank_weighted_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19c: host PageRank weighted by DISTINCT LINKING PAGES — the reason
    host_edges carries n_src_pages (hostgraph.py): sitewide boilerplate
    links from one page count once, while a host linking from many pages
    carries proportional mass. build_graph(weight_col='n_src_pages') turns
    the column into edge multiplicity; the oracle replays SUM(w)-multiplicity
    weights through the same unrolled power method."""
    from web_search_pagerank_project_spark import build_graph, host_edges, pagerank

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        F.concat(
            F.lit("http://h"),
            ((F.col("doc_id") * F.col("doc_id")) % 13).cast("string"),
            F.lit(".example/p"),
            F.col("doc_id").cast("string"),
        ).alias("src"),
        F.concat(
            F.lit("http://h"),
            (((F.col("doc_id") * _A + _C) % _M) % 13).cast("string"),
            F.lit(".example/p"),
            ((F.col("doc_id") * 7) % 1000).cast("string"),
        ).alias("dst"),
    )
    he = host_edges(pages)  # (src, dst, n_links, n_src_pages), intra dropped
    graph = build_graph(he, cache=True, weight_col="n_src_pages")
    res = pagerank(graph, alpha=0.85, max_iterations=3, epsilon=0.0)
    return (
        res.by_url(graph)
        .select("url", F.round("rank", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
    )


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20: HyperBall approximate neighborhood function N(t) with m=16
    registers and the portable LCG hash (operators/anf.py; Boldi-Vigna
    2013). The oracle replays the ESTIMATOR exactly — registers of
    ball(v, t) from the walk closure, identical hash/rank/correction
    arithmetic — so even this approximate sketch is hash-checked, not
    rows-only. Rows end at the registers' fixed point."""
    from web_search_pagerank_project_spark import build_graph, neighborhood_function

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    nf = neighborhood_function(graph, m=16)
    return nf.select("t", F.round("nf", 6).alias("nf")).orderBy("t")


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25: deterministic weighted random-walk sampling (operators/
    walks.py — DeepWalk corpus generation over the link graph; the draw is
    a pure-integer LCG over (walk_id, step) and the transition kernel is
    the engine's mult/outdeg weights, so the oracle replays every step
    exactly with a recursive CTE over the same cumulative intervals)."""
    from web_search_pagerank_project_spark import build_graph
    from web_search_pagerank_project_spark.operators.walks import random_walks

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    w = random_walks(graph, walk_length=4, walks_per_vertex=1)
    return (
        w.join(graph.vertices, "id")
        .select("walk_id", "step", "url")
        .orderBy("walk_id", "step")
    )


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25b: skip-gram co-occurrence pairs over the sampled walk corpus
    (operators/walks.py::skipgram_pairs) — word2vec training pairs with
    walks as sentences. Oracle: the walks CTE self-joined within the
    window, aggregated to multiplicities."""
    from web_search_pagerank_project_spark import build_graph
    from web_search_pagerank_project_spark.operators.walks import (
        random_walks,
        skipgram_pairs,
    )

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    w = random_walks(graph, walk_length=4, walks_per_vertex=1)
    v = graph.vertices
    return (
        skipgram_pairs(w, window=2)
        .join(v.withColumnRenamed("url", "center_url"), F.col("center") == v.id)
        .drop("id")
        .join(
            v.withColumnRenamed("url", "context_url").withColumnRenamed(
                "id", "id2"
            ),
            F.col("context") == F.col("id2"),
        )
        .select("center_url", "context_url", "pairs")
        .orderBy("center_url", "context_url")
    )


def q_pagerank_batch_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: batched multi-personalization PageRank (operators/pagerank.py::
    pagerank_batch) — K rankings share ONE edge scan per round
    (topic-sensitive PageRank / TrustRank shape; the reference runs one
    personalization per process, ws_pagerank.py:115-139).

    The K vectors are K (v_k, x_k) column pairs of pagerank's one state
    table: each round is one edges⋈state join and one groupBy(id) with K
    sums, and the per-round action returns K residuals and K dangling
    masses; pagerank itself is the K = 1 call of the same loop. Uniform + a
    topic vector in one batch; the oracle joins two independent unrolled
    power methods, so each batch column is hash-checked against its
    lone-run semantics."""
    from web_search_pagerank_project_spark import (
        build_graph,
        make_personalization_vector,
        pagerank_batch,
    )

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    pv = make_personalization_vector(graph, "n1")
    res = pagerank_batch(
        graph, {"uniform": None, "topic": pv}, max_iterations=3, epsilon=0.0
    )
    return (
        res.by_url(graph)
        .select(
            "url",
            F.round("rank_uniform", 6).alias("score_uniform"),
            F.round("rank_topic", 6).alias("score_topic"),
        )
        .orderBy("url")
    )


def q_hyperball_centralities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22: HyperBall-derived approximate harmonic + closeness centrality
    (operators/anf.py::hyperball_centralities; Boldi-Vigna 2013 §3) — the
    100-TB-shaped replacement for exact all-sources MS-BFS harmonic. The
    oracle replays the FULL estimator: in-ball registers per (vertex, t)
    from the walk closure, per-round estimate deltas, Σ delta/t and
    1/Σ t·delta — identical LCG hash / rank / correction arithmetic, so
    the approximation itself is hash-checked, not rows-only."""
    from web_search_pagerank_project_spark import build_graph, hyperball_centralities

    graph = build_graph(_edges(spark, sf_dir), cache=True)
    hc = hyperball_centralities(graph, m=16)
    return (
        graph.vertices.join(hc, "id")
        .select(
            "url",
            F.round("harmonic", 6).alias("harmonic"),
            F.round("closeness", 6).alias("closeness"),
        )
        .orderBy("url")
    )


def _split_edges(spark: SparkSession, sf_dir: str):
    """Deterministic base/delta partition of the derived edge table (by
    source document id), for the incremental-maintenance queries: base ∪
    delta is exactly the full edge table, so the incremental path must
    reproduce the full-build oracles verbatim."""
    from web_search_pagerank_project_spark.sources.synth import (
        derive_edges_from_documents,
    )

    docs = _docs(spark, sf_dir)
    base = derive_edges_from_documents(
        docs.filter(F.col("doc_id") % 7 != 0), n_vertices=V
    )
    delta = derive_edges_from_documents(
        docs.filter(F.col("doc_id") % 7 == 0), n_vertices=V
    )
    return base, delta


def q_incremental_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23: incremental snapshot maintenance (operators/incremental.py).
    Build the graph from ~6/7 of the edges, patch in the rest with
    update_graph (dictionary-stable ids, multiplicity merge, weight
    refresh), and emit the weighted edge table by url. The oracle is the
    ONE-SHOT full build's — the equivalence contract, hash-checked."""
    from web_search_pagerank_project_spark import build_graph, update_graph

    base, delta = _split_edges(spark, sf_dir)
    g0 = build_graph(base, cache=True, keep_mult=True)
    g1 = update_graph(g0, delta)
    v = g1.vertices
    return (
        g1.edges.join(v.withColumnRenamed("url", "src_url"), g1.edges.src_id == v.id)
        .drop("id")
        .join(
            v.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "id2"),
            F.col("dst_id") == F.col("id2"),
        )
        .select("src_url", "dst_url", F.round("weight", 6).alias("weight"))
    )


def q_incremental_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23b: the composition that matters — PageRank runs on an
    incrementally-updated snapshot and must score exactly like a fresh
    full build (same oracle as pagerank_3iter)."""
    from web_search_pagerank_project_spark import build_graph, pagerank, update_graph

    base, delta = _split_edges(spark, sf_dir)
    g0 = build_graph(base, cache=True, keep_mult=True)
    g1 = update_graph(g0, delta)
    res = pagerank(g1, alpha=0.85, max_iterations=3, epsilon=0.0)
    return (
        res.by_url(g1)
        .select("url", F.round("rank", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21: deterministic hash-stratified corpus sampling over documents
    (functions/sampling.py): per-language keep rates behind a pure integer
    hash gate, so membership is exact and partitioning-independent. Oracle
    replays the gate verbatim (xor + LCG in ANSI SQL)."""
    from web_search_pagerank_project_spark import stratified_sample

    docs = _docs(spark, sf_dir)
    out = stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.25},
        default_rate=0.1,
        seed=7,
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edge_weights": q_edge_weights,
        "in_degree_topk": q_in_degree_topk,
        "dangling_vertices": q_dangling_vertices,
        "pagerank_3iter": q_pagerank_3iter,
        "pagerank_personalized_3iter": q_pagerank_personalized_3iter,
        "pagerank_converged": q_pagerank_converged,
        "hits_3iter": q_hits_3iter,
        "url_search": q_url_search,
        "filter_ratio_edges": q_filter_ratio_edges,
        "limit_prefix_edges": q_limit_prefix_edges,
        "triangle_count": q_triangle_count,
        "triangles_per_vertex": q_triangles_per_vertex,
        "clustering_coeff": q_clustering_coeff,
        "bfs_depths": q_bfs_depths,
        "reciprocity": q_reciprocity,
        "degree_histogram": q_degree_histogram,
        "common_neighbors": q_common_neighbors,
        "connected_components": q_connected_components,
        "scc": q_scc,
        "bowtie_classes": q_bowtie_classes,
        "label_propagation": q_label_propagation,
        "kcore_6": q_kcore_6,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "top_customers": q_top_customers,
        "events_hourly": q_events_hourly,
        "events_windows": q_events_sessionized_windows,
        "customer_nation_setops": q_customer_nation_setops,
        "orders_rollup": q_orders_rollup,
        "exact_dup_groups": q_exact_dup_groups,
        "doc_token_stats": q_doc_token_stats,
        "doc_quality": q_doc_quality,
        "lang_distribution": q_lang_distribution,
        "embedding_topk": q_embedding_topk,
        "ngram_jaccard": q_ngram_jaccard,
        "component_sizes": q_component_sizes,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "lsh_pairs_above": q_lsh_pairs_above,
        "harmonic_centrality": q_harmonic_centrality,
        "degree_assortativity": q_degree_assortativity,
        "host_graph": q_host_graph,
        "host_pagerank_3iter": q_host_pagerank_3iter,
        "host_pagerank_weighted_3iter": q_host_pagerank_weighted_3iter,
        "neighborhood_function": q_neighborhood_function,
        "hyperball_centralities": q_hyperball_centralities,
        "pagerank_batch_3iter": q_pagerank_batch_3iter,
        "random_walks": q_random_walks,
        "skipgram_pairs": q_skipgram_pairs,
        "incremental_edge_weights": q_incremental_edge_weights,
        "incremental_pagerank_3iter": q_incremental_pagerank_3iter,
        "stratified_sample": q_stratified_sample,
    }


# all-pairs exact word-3-gram Jaccard >= 0.8 over documents — ground truth
# for BOTH LSH near-dup paths (recall-guaranteed banding makes the engine
# outputs equal this; see q_minhash_near_dups / q_simhash_near_dups).
_ALLPAIRS_JACCARD_SQL = r"""
WITH t AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           END AS sh
    FROM t
),
j AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh)))
           END AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM j WHERE jaccard >= 0.8
ORDER BY id_a, id_b
"""


def oracle_sql() -> dict[str, str]:
    return {
        "edge_weights": _GRAPH_SQL_PREFIX
        + """
        SELECT src AS src_url, dst AS dst_url, ROUND(weight, 6) AS weight
        FROM pw
        """,
        "in_degree_topk": f"""
        WITH e AS ({_EDGES_SQL})
        SELECT dst, COUNT(*) AS indeg FROM e
        GROUP BY dst ORDER BY indeg DESC, dst LIMIT 20
        """,
        "dangling_vertices": f"""
        WITH e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        )
        SELECT url FROM verts
        WHERE url NOT IN (SELECT DISTINCT src FROM e)
        ORDER BY url
        """,
        "pagerank_3iter": _pr_oracle_sql("1.0"),
        # batched kernel: each column must equal an INDEPENDENT unrolled
        # power method — the oracle joins the uniform and topic lone-run
        # oracles on url (DuckDB allows CTEs inside subqueries)
        "pagerank_batch_3iter": f"""
        SELECT a.url AS url, a.score AS score_uniform, b.score AS score_topic
        FROM ({_pr_oracle_sql("1.0")}) a
        JOIN ({_pr_oracle_sql("CASE WHEN url LIKE '%n1%' THEN 1.0 ELSE 0.0 END")}) b
          ON a.url = b.url
        ORDER BY url
        """,
        # exact replay of random_walks (operators/walks.py): cumulative
        # intervals per source in dst_id order (last hi widened to 2.0),
        # per-walk pure-integer LCG state s carried by the recursive step
        # join (seeded from walk_id, advanced once per step, draw s / M).
        # walk_id = vertex id (walks_per_vertex=1); output is integral +
        # urls, so there is no float in the compared columns at all.
        "random_walks": _WALKS_ORACLE_CTE
        + """
        SELECT w.walk_id, CAST(w.step AS INTEGER) AS step, iu.url
        FROM wk w JOIN iu ON w.id = iu.id
        ORDER BY w.walk_id, w.step
        """,
        # the walk corpus self-joined within the skip-gram window,
        # aggregated to pair multiplicities (walks.py::skipgram_pairs)
        "skipgram_pairs": _WALKS_ORACLE_CTE
        + """
        SELECT cu.url AS center_url, xu.url AS context_url,
               COUNT(*) AS pairs
        FROM wk a JOIN wk b
          ON a.walk_id = b.walk_id
         AND a.step <> b.step
         AND ABS(a.step - b.step) <= 2
        JOIN iu cu ON a.id = cu.id
        JOIN iu xu ON b.id = xu.id
        GROUP BY cu.url, xu.url
        ORDER BY center_url, context_url
        """,
        # incremental maintenance: the oracle is the ONE-SHOT full build —
        # update_graph(base, delta) must reproduce it bit-for-bit in
        # (url, url, weight) space (same integer mult / integer outdeg)
        "incremental_edge_weights": _GRAPH_SQL_PREFIX
        + """
        SELECT src AS src_url, dst AS dst_url, ROUND(weight, 6) AS weight
        FROM pw
        """,
        "incremental_pagerank_3iter": _pr_oracle_sql("1.0"),
        "pagerank_personalized_3iter": _pr_oracle_sql(
            "CASE WHEN url LIKE '%n1%' THEN 1.0 ELSE 0.0 END"
        ),
        # full engine semantics incl. the epsilon-stop selection (VERDICT r2
        # item 4): 100 unrolled iterations + first-converged-iterate pick;
        # at this SF the iterate diverges (see _pr_oracle_sql docstring) so
        # the selected iterate is x100 — same as the engine's.
        # normalize=True: the compared quantity is the L2-normalized final
        # iterate — scale-stable, so the 100-step divergence can no longer
        # amplify Spark-vs-DuckDB summation-order drift past ROUND(x, 6)
        # (VERDICT r3 item 1; scores are defined up to scale, SURVEY §1.3.5)
        "pagerank_converged": _pr_oracle_sql(
            "1.0", iters=100, epsilon=1e-6, limit=50, normalize=True
        ),
        "hits_3iter": _hits_oracle_sql(iters=3),
        "url_search": f"""
        WITH e AS ({_EDGES_SQL}),
        scored AS (SELECT dst AS url, COUNT(*) AS score FROM e GROUP BY dst)
        SELECT url, score FROM scored
        WHERE (url LIKE '%n1%' OR url LIKE '%n2%') AND url NOT LIKE '%n12%'
        ORDER BY score DESC, url LIMIT 25
        """,
        "filter_ratio_edges": f"""
        WITH e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        indeg AS (SELECT dst, COUNT(*) AS indeg FROM e GROUP BY dst)
        SELECT e.src, e.dst, COUNT(*) AS multiplicity
        FROM e JOIN indeg ON e.dst = indeg.dst
        WHERE indeg.indeg < 0.05 * (SELECT COUNT(*) FROM verts)
        GROUP BY e.src, e.dst
        ORDER BY e.src, e.dst
        """,
        # O2 quirk: LIMIT 300 == max_nnz(299) + 1 — the cap keeps one row
        # MORE than asked (reference pagerank.py:36-37)
        "limit_prefix_edges": f"""
        WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300),
        e AS (
            SELECT 'n' || CAST((doc_id * doc_id) % {V} AS VARCHAR) AS src,
                   'n' || CAST(((doc_id * {_A} + {_C}) % {_M}) % {V} AS VARCHAR) AS dst
            FROM d
        )
        SELECT src, COUNT(*) AS prefix_out,
               COUNT(DISTINCT dst) AS distinct_dst
        FROM e GROUP BY src ORDER BY src
        """,
        "triangle_count": _GRAPH_SQL_PREFIX
        + _ORIENTED_SQL
        + """
        SELECT CAST(COUNT(*) AS BIGINT) AS triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.b = e2.a
        JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        "triangles_per_vertex": _GRAPH_SQL_PREFIX
        + _ORIENTED_SQL
        + """
        , tri AS (
            SELECT e1.a AS w_a, e1.b AS w_b, e2.b AS w_c
            FROM oriented e1
            JOIN oriented e2 ON e1.b = e2.a
            JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT w_a AS url FROM tri
            UNION ALL SELECT w_b FROM tri
            UNION ALL SELECT w_c FROM tri
        )
        SELECT verts.url,
               CAST(COALESCE(cnt.c, 0) AS BIGINT) AS triangles
        FROM verts
        LEFT JOIN (
            SELECT url, COUNT(*) AS c FROM corners GROUP BY url
        ) cnt ON verts.url = cnt.url
        ORDER BY verts.url
        """,
        "clustering_coeff": _GRAPH_SQL_PREFIX
        + _ORIENTED_SQL
        + """
        , tri AS (
            SELECT e1.a AS w_a, e1.b AS w_b, e2.b AS w_c
            FROM oriented e1
            JOIN oriented e2 ON e1.b = e2.a
            JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT w_a AS url FROM tri
            UNION ALL SELECT w_b FROM tri
            UNION ALL SELECT w_c FROM tri
        ),
        tcnt AS (SELECT url, COUNT(*) AS c FROM corners GROUP BY url)
        SELECT verts.url,
               ROUND(CASE WHEN COALESCE(deg.d, 0) >= 2
                          THEN 2.0 * COALESCE(tcnt.c, 0) / (deg.d * (deg.d - 1))
                          ELSE 0.0 END, 6) AS coeff
        FROM verts
        LEFT JOIN deg ON verts.url = deg.id
        LEFT JOIN tcnt ON verts.url = tcnt.url
        ORDER BY verts.url
        """,
        # depth-bounded directed walk closure; MIN(d) per vertex == BFS
        # level (the bound only has to exceed the true diameter <= |V|)
        "bfs_depths": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        walk(url, d) AS (
            SELECT url, 0 FROM verts WHERE url = 'n1'
            UNION
            SELECT de.dst, w.d + 1 FROM walk w JOIN de ON w.url = de.src
            WHERE w.d < 200
        )
        SELECT url, CAST(MIN(d) AS INTEGER) AS dist
        FROM walk GROUP BY url ORDER BY url
        """,
        "reciprocity": f"""
        WITH e AS ({_EDGES_SQL}),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)
        SELECT ROUND(
            (SELECT COUNT(*) FROM de a JOIN de b
             ON a.src = b.dst AND a.dst = b.src) * 1.0
            / (SELECT COUNT(*) FROM de), 6) AS reciprocity
        """,
        "degree_histogram": f"""
        WITH e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        dd AS (
            SELECT id, COUNT(*) AS degree FROM (
                SELECT src AS id FROM de UNION ALL SELECT dst AS id FROM de
            ) GROUP BY id
        ),
        dense AS (
            SELECT CAST(COALESCE(dd.degree, 0) AS BIGINT) AS degree
            FROM verts LEFT JOIN dd ON verts.url = dd.id
        )
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices
        FROM dense GROUP BY degree ORDER BY degree
        """,
        # wedge enumeration over the symmetric adjacency; pair canonical
        # order (leaf <) matches the engine's id order because dense ids
        # are assigned in url sort order. jaccard is a small-int ratio —
        # bit-identical float64 in both engines, safe as a sort key.
        "common_neighbors": f"""
        WITH e AS ({_EDGES_SQL}),
        und AS (
            SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM e WHERE src <> dst
        ),
        adj AS (
            SELECT u AS center, v AS leaf FROM und
            UNION ALL SELECT v AS center, u AS leaf FROM und
        ),
        deg AS (SELECT center AS id, COUNT(*) AS d FROM adj GROUP BY center),
        pairs AS (
            SELECT a1.leaf AS ua, a2.leaf AS ub, COUNT(*) AS common
            FROM adj a1 JOIN adj a2
              ON a1.center = a2.center AND a1.leaf < a2.leaf
            GROUP BY a1.leaf, a2.leaf
        ),
        cand AS (
            SELECT p.* FROM pairs p
            WHERE NOT EXISTS (
                SELECT 1 FROM und WHERE und.u = p.ua AND und.v = p.ub
            )
        )
        SELECT ua AS url_a, ub AS url_b, CAST(common AS BIGINT) AS common,
               ROUND(common * 1.0 / (da.d + db.d - common), 6) AS jaccard
        FROM cand
        JOIN deg da ON cand.ua = da.id
        JOIN deg db ON cand.ub = db.id
        ORDER BY common DESC,
                 common * 1.0 / (da.d + db.d - common) DESC, ua, ub
        LIMIT 20
        """,
        "lineitem_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
        SELECT c.c_custkey, c.c_name, ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c.c_custkey LIMIT 25
        """,
        "events_hourly": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        ORDER BY hour, event_type
        """,
        "events_windows": """
        WITH seqd AS (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - LAG(CAST(floor(epoch(ts)) AS BIGINT), 1)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_sec
            FROM events
        )
        SELECT user_id, event_id, CAST(seq AS INT) AS seq, gap_sec
        FROM seqd WHERE seq <= 5
        ORDER BY user_id, seq
        """,
        "connected_components": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e
                UNION ALL SELECT dst AS src, src AS dst FROM e
            ) WHERE src <> dst
        ),
        reach(a, b) AS (
            SELECT url, url FROM verts
            UNION
            SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
        )
        SELECT a AS url, MIN(b) AS component_url
        FROM reach GROUP BY a ORDER BY url
        """,
        "component_sizes": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e
                UNION ALL SELECT dst AS src, src AS dst FROM e
            ) WHERE src <> dst
        ),
        reach(a, b) AS (
            SELECT url, url FROM verts
            UNION
            SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
        ),
        comp AS (SELECT a AS url, MIN(b) AS component_url FROM reach GROUP BY a)
        SELECT component_url, CAST(COUNT(*) AS BIGINT) AS size
        FROM comp GROUP BY component_url
        ORDER BY size DESC, component_url
        """,
        # directed transitive closure + mutual reachability: u,v share an
        # SCC iff reach(u,v) AND reach(v,u); MIN over the mutual set is the
        # canonical label (operators/scc.py semantics). Exact at the
        # contract SF (closure <= |V|^2 = 10^4 pairs).
        "scc": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        reach(a, b) AS (
            SELECT url, url FROM verts
            UNION
            SELECT r.a, d.dst FROM reach r JOIN de d ON r.b = d.src
        )
        SELECT r1.a AS url, MIN(r1.b) AS scc_url
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY r1.a ORDER BY url
        """,
        # bow-tie against the largest SCC: the core's min member is a valid
        # reachability representative (the core is strongly connected, so
        # reaching one member == reaching all)
        "bowtie_classes": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        reach(a, b) AS (
            SELECT url, url FROM verts
            UNION
            SELECT r.a, d.dst FROM reach r JOIN de d ON r.b = d.src
        ),
        scc AS (
            SELECT r1.a AS url, MIN(r1.b) AS scc_url
            FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
            GROUP BY r1.a
        ),
        core_id AS (
            SELECT scc_url FROM (
                SELECT scc_url, COUNT(*) AS sz FROM scc GROUP BY scc_url
            ) ORDER BY sz DESC, scc_url LIMIT 1
        ),
        cls AS (
            SELECT s.url,
                   CASE WHEN s.scc_url = (SELECT scc_url FROM core_id)
                            THEN 'CORE'
                        WHEN EXISTS (SELECT 1 FROM reach r WHERE r.a = s.url
                                     AND r.b = (SELECT scc_url FROM core_id))
                            THEN 'IN'
                        WHEN EXISTS (SELECT 1 FROM reach r WHERE r.b = s.url
                                     AND r.a = (SELECT scc_url FROM core_id))
                            THEN 'OUT'
                        ELSE 'OTHER' END AS cls
            FROM scc s
        )
        SELECT cls, CAST(COUNT(*) AS BIGINT) AS n
        FROM cls GROUP BY cls ORDER BY n DESC, cls
        """,
        "label_propagation": _lpa_oracle_sql(5),
        # 4 unrolled rounds: measured sync peel depth at the contract SF is
        # 2 (sf0.001 and sf0.01); deeper unrolls blow DuckDB's file-handle
        # budget when it shares the process with a live SparkContext
        "kcore_6": _kcore_oracle_sql(6, 4),
        "customer_nation_setops": """
        SELECT nationkey FROM (
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        )
        EXCEPT ALL
        SELECT c_nationkey AS nationkey FROM customer
        GROUP BY c_nationkey HAVING COUNT(*) > 100
        ORDER BY nationkey
        """,
        "orders_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
        """,
        "exact_dup_groups": r"""
        SELECT md5(substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 64)) AS fp,
               COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        FROM documents
        GROUP BY 1 HAVING COUNT(*) > 1
        ORDER BY fp
        """,
        "doc_quality": r"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split_regex(lower(trim(text)), '\s+') AS toks,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE array_length(string_split_regex(trim(text), '\s+'))
                   END AS n_tokens
            FROM documents
        ),
        r AS (
            SELECT doc_id,
                   CAST(array_length(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])')) AS INT) AS n_subtokens,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / length(text)
                   END AS caps_ratio_raw,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / length(text)
                   END AS punct_ratio_raw,
                   CASE WHEN array_length(toks) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in'], x))) AS DOUBLE)
                             / array_length(toks)
                   END AS stop_ratio_raw,
                   n_tokens
            FROM t
        )
        SELECT doc_id, n_subtokens,
               ROUND(caps_ratio_raw, 6) AS caps_ratio,
               ROUND(stop_ratio_raw, 6) AS stop_ratio,
               ROUND((
                   (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN punct_ratio_raw < 0.3 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN caps_ratio_raw < 0.3 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN stop_ratio_raw > 0.01 THEN 1.0 ELSE 0.0 END)
               ) / 4.0, 2) AS quality
        FROM r ORDER BY doc_id
        """,
        "doc_token_stats": r"""
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE CAST(array_length(string_split_regex(trim(text), '\s+')) AS INT)
               END AS n_tokens,
               ROUND(
                 CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
                 / GREATEST(length(text), 1), 6
               ) AS punct_ratio
        FROM documents ORDER BY doc_id
        """,
        "lang_distribution": """
        SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars
        FROM documents GROUP BY lang ORDER BY lang
        """,
        "ngram_jaccard": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                   END AS sh
            FROM t
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(
                 CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                      ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.sh, b.sh)))
                 END, 6
               ) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        ORDER BY id_a
        """,
        "embedding_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               ROUND(
                 list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 6
               ) AS cosine
        FROM embeddings WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        # LSH top-k with coverage-guaranteed banding == brute-force top-k
        # (see q_lsh_ann_topk docstring for the recall argument)
        "lsh_ann_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               ROUND(
                 list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 6
               ) AS cosine
        FROM embeddings WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        # IVF with nprobe == n_clusters probes every inverted list and is
        # exactly brute force (see q_ivf_ann_topk)
        "ivf_ann_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               ROUND(
                 list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 6
               ) AS cosine
        FROM embeddings WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        # minhash/simhash emit LSH-candidate pairs verified by EXACT 3-gram
        # Jaccard >= 0.8; with recall-guaranteed banding (see the query
        # docstrings) that equals the all-pairs ground truth below.
        "minhash_near_dups": _ALLPAIRS_JACCARD_SQL,
        "simhash_near_dups": _ALLPAIRS_JACCARD_SQL,
        "lsh_pairs_above": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(
                 list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6
               ) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4
        ORDER BY id_a, id_b
        """,
        # all-sources walk closure -> MIN(d) per (source, vertex) -> SUM(1/d)
        "harmonic_centrality": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        walk(s, url, d) AS (
            SELECT url, url, 0 FROM verts
            UNION
            SELECT w.s, de.dst, w.d + 1 FROM walk w JOIN de ON w.url = de.src
            WHERE w.d < 200
        ),
        md AS (SELECT s, url, MIN(d) AS d FROM walk GROUP BY s, url),
        h AS (
            SELECT url, SUM(1.0 / d) AS harmonic FROM md WHERE d >= 1 GROUP BY url
        )
        SELECT verts.url, ROUND(COALESCE(h.harmonic, 0.0), 6) AS harmonic
        FROM verts LEFT JOIN h ON verts.url = h.url
        ORDER BY verts.url
        """,
        # corr((out-deg of src), (in-deg of dst)) over distinct non-loop
        # edges, zero-degree endpoints kept via LEFT JOIN + COALESCE
        "degree_assortativity": f"""
        WITH e AS ({_EDGES_SQL}),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        outd AS (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS d FROM de GROUP BY src),
        ind  AS (SELECT dst AS id, CAST(COUNT(*) AS DOUBLE) AS d FROM de GROUP BY dst),
        pairs AS (
            SELECT COALESCE(o.d, 0.0) AS x, COALESCE(i.d, 0.0) AS y
            FROM de
            LEFT JOIN outd o ON de.src = o.id
            LEFT JOIN ind  i ON de.dst = i.id
        )
        SELECT ROUND(
            covar_pop(x, y) / (stddev_pop(x) * stddev_pop(y)), 6
        ) AS assortativity FROM pairs
        """,
        # hosts rebuilt from the same doc_id arithmetic the query uses to
        # MINT the page urls — the oracle never parses a url, so the Spark
        # side's parse_url(HOST) path is what's actually under test
        "host_graph": f"""
        WITH pages AS (
            SELECT 'http://h' || CAST((doc_id * doc_id) % 13 AS VARCHAR)
                     || '.example/p' || CAST(doc_id AS VARCHAR) AS page_src,
                   'h' || CAST((doc_id * doc_id) % 13 AS VARCHAR) || '.example' AS src_host,
                   'h' || CAST(((doc_id * {_A} + {_C}) % {_M}) % 13 AS VARCHAR)
                     || '.example' AS dst_host
            FROM documents
        )
        SELECT src_host AS src, dst_host AS dst,
               CAST(COUNT(*) AS BIGINT) AS n_links,
               CAST(COUNT(DISTINCT page_src) AS BIGINT) AS n_src_pages
        FROM pages
        WHERE src_host <> dst_host
        GROUP BY src_host, dst_host
        ORDER BY src, dst
        """,
        # the page->host collapse feeding the standard unrolled power
        # method — same _pr_oracle_sql machinery, host-edge CTE prefix
        "host_pagerank_3iter": _pr_oracle_sql(
            "1.0", iters=3, prefix=_HOST_GRAPH_SQL_PREFIX
        ),
        "host_pagerank_weighted_3iter": _pr_oracle_sql(
            "1.0",
            iters=3,
            prefix=_graph_prefix_weighted(_HOST_EDGES_WEIGHTED_SQL),
        ),
        # exact replay of HyperBall (operators/anf.py): registers of
        # ball(v, t) = MAX over the walk closure of the singleton-register
        # ranks, identical LCG hash / rho / bias-correction arithmetic
        # (the per-vertex 2^-r sums are exact dyadic rationals, so both
        # engines produce bit-identical estimates); rows stop at the
        # registers' fixed point exactly as the engine's loop does
        "neighborhood_function": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        walk(v, u, d) AS (
            SELECT url, url, 0 FROM verts
            UNION
            SELECT w.v, de.dst, w.d + 1 FROM walk w JOIN de ON w.u = de.src
            WHERE w.d < 200
        ),
        md AS (SELECT v, u, MIN(d) AS d FROM walk GROUP BY v, u),
        iu AS (
            SELECT url,
                   ((ROW_NUMBER() OVER (ORDER BY url) - 1) * 1103515245 + 12345)
                     % 2147483648 AS h
            FROM verts
        ),
        iu2 AS (
            SELECT url, h % 16 AS j,
                   CASE WHEN h // 16 = 0 THEN 25
                        ELSE CAST(ROUND(log2((h // 16) & (-(h // 16)))) AS INTEGER) + 1
                   END AS rank
            FROM iu
        ),
        -- t = 0 .. maxd+1 (pairwise shortest distances are contiguous from
        -- 0, so DISTINCT d enumerates every integer step; +1 adds the
        -- fixed-point round; range() can't take a subquery bound)
        ts AS (SELECT DISTINCT d AS t FROM md UNION SELECT MAX(d) + 1 FROM md),
        regj AS (
            SELECT md.v, ts.t, iu2.j, MAX(iu2.rank) AS r
            FROM md JOIN iu2 ON md.u = iu2.url
            JOIN ts ON md.d <= ts.t
            GROUP BY md.v, ts.t, iu2.j
        ),
        pe AS (
            SELECT v, t,
                   0.673 * 256.0 / (SUM(pow(2.0, -r)) + (16 - COUNT(*))) AS raw,
                   16 - COUNT(*) AS zeros,
                   SUM(r) AS rsum
            FROM regj GROUP BY v, t
        ),
        pe2 AS (
            SELECT v, t,
                   CASE WHEN raw <= 40.0 AND zeros > 0
                        THEN 16.0 * ln(16.0 / zeros) ELSE raw END AS est,
                   rsum
            FROM pe
        ),
        tot AS (SELECT t, SUM(est) AS nf, SUM(rsum) AS rs FROM pe2 GROUP BY t),
        tot2 AS (SELECT t, nf, rs, LAG(rs) OVER (ORDER BY t) AS prs FROM tot),
        tstar AS (
            SELECT COALESCE(MIN(t), (SELECT MAX(t) + 1 FROM tot2)) AS tf
            FROM tot2 WHERE t >= 1 AND rs = prs
        )
        SELECT CAST(t AS INTEGER) AS t, ROUND(nf, 6) AS nf
        FROM tot2 WHERE t < (SELECT tf FROM tstar)
        ORDER BY t
        """,
        # full replay of hyperball_centralities (operators/anf.py):
        # IN-ball registers per (vertex, t) from the walk closure —
        # absorb the singleton registers of every v with dist(v, w) <= t —
        # then the Boldi-Vigna counter-delta estimator: harmonic =
        # Σ_t delta/t, closeness = 1/Σ_t t·delta. Identical LCG hash /
        # rho / bias-correction arithmetic as the neighborhood_function
        # oracle (per-vertex estimates are bit-identical; the delta sums
        # run over <= diameter terms, absorbed by ROUND 6).
        "hyperball_centralities": f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        verts AS (
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst AS url FROM e
            )
        ),
        de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        walk(v, u, d) AS (
            SELECT url, url, 0 FROM verts
            UNION
            SELECT w.v, de.dst, w.d + 1 FROM walk w JOIN de ON w.u = de.src
            WHERE w.d < 200
        ),
        md AS (SELECT v, u, MIN(d) AS d FROM walk GROUP BY v, u),
        iu AS (
            SELECT url,
                   ((ROW_NUMBER() OVER (ORDER BY url) - 1) * 1103515245 + 12345)
                     % 2147483648 AS h
            FROM verts
        ),
        iu2 AS (
            SELECT url, h % 16 AS j,
                   CASE WHEN h // 16 = 0 THEN 25
                        ELSE CAST(ROUND(log2((h // 16) & (-(h // 16)))) AS INTEGER) + 1
                   END AS rank
            FROM iu
        ),
        hts AS (SELECT DISTINCT d AS t FROM md),
        hbreg AS (
            SELECT md.u AS w, hts.t, iu2.j, MAX(iu2.rank) AS r
            FROM md JOIN iu2 ON md.v = iu2.url
            JOIN hts ON md.d <= hts.t
            GROUP BY md.u, hts.t, iu2.j
        ),
        hbraw AS (
            SELECT w, t,
                   0.673 * 256.0 / (SUM(pow(2.0, -r)) + (16 - COUNT(*))) AS raw,
                   16 - COUNT(*) AS zeros
            FROM hbreg GROUP BY w, t
        ),
        hbest AS (
            SELECT w, t,
                   CASE WHEN raw <= 40.0 AND zeros > 0
                        THEN 16.0 * ln(16.0 / zeros) ELSE raw END AS est
            FROM hbraw
        ),
        hbdel AS (
            SELECT cur.w, cur.t, cur.est - prv.est AS delta
            FROM hbest cur JOIN hbest prv
              ON cur.w = prv.w AND prv.t = cur.t - 1
        ),
        hbacc AS (
            SELECT w, SUM(delta / t) AS h, SUM(delta * t) AS sd
            FROM hbdel GROUP BY w
        )
        SELECT verts.url,
               ROUND(COALESCE(hbacc.h, 0.0), 6) AS harmonic,
               ROUND(CASE WHEN COALESCE(hbacc.sd, 0.0) > 0
                          THEN 1.0 / hbacc.sd ELSE 0.0 END, 6) AS closeness
        FROM verts LEFT JOIN hbacc ON verts.url = hbacc.w
        ORDER BY verts.url
        """,
        # the sampling gate replayed verbatim: xor-mixed seeded LCG,
        # integer thresholds (mix = lcg(7) = 1282168116; cuts =
        # floor(rate * 2^31))
        "stratified_sample": """
        SELECT doc_id, lang FROM documents
        WHERE (xor(doc_id % 2147483648, 1282168116) * 1103515245 + 12345)
              % 2147483648 <
              CASE lang WHEN 'en' THEN 1073741824
                        WHEN 'de' THEN 2147483648
                        WHEN 'fr' THEN 536870912
                        ELSE 214748364 END
        ORDER BY doc_id
        """,
    }
