"""End-to-end pipeline + search sink (reference O17-O24).

``run_pipeline`` is the engine's equivalent of the reference ``__main__``
(pagerank.py:232-254): ingest -> personalization -> power method -> search.

``search`` implements the ranked result sink: optional synonym re-scoring
(ws_pagerank.py:196-206: score(url) = sum over (word, sim) of
count(word in url) * sim**50, ranking = pagerank * score; empty query =>
score 1), then predicate filter, then sort + limit — Catalyst compiles the
sort+limit into TakeOrderedAndProject (no full result materialization).

substring count is expressed JVM-side with the length/replace identity:
count(w, url) = (len(url) - len(replace(url, w, ''))) / len(w).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.query import make_personalization_vector, query_predicate, _split_terms
from ..operators.graph_build import GraphTables, build_graph
from ..operators.pagerank import PageRankResult, pagerank
from ..sources.edges import read_edge_csv

log = logging.getLogger("wspr.engine")


def _synonym_score(url_col, terms_with_sims: list[tuple[str, float]]):
    """score = sum url.count(word) * sim**50 (ws_pagerank.py:199-203)."""
    score = F.lit(0.0)
    for word, sim in terms_with_sims:
        if not word:
            continue
        cnt = (
            F.length(url_col) - F.length(F.replace(url_col, F.lit(word), F.lit("")))
        ) / F.lit(float(len(word)))
        score = score + cnt * F.lit(float(sim) ** 50)
    return score


def search(
    graph: GraphTables,
    result: PageRankResult,
    query: str = "",
    max_results: int = 10,
    synonyms: dict[str, list[tuple[str, float]]] | None = None,
) -> DataFrame:
    """Returns (url, ranking) top-`max_results` matching `query`.

    synonyms: optional map term -> [(synonym, cosine_sim)] (the ws engine's
    gensim most_similar output shape). None/empty reproduces pagerank.py
    semantics exactly: ranking = raw pagerank score.
    """
    ranked = result.by_url(graph)

    pos, _neg = _split_terms(query)
    if query != "" and synonyms:
        syn_pairs: list[tuple[str, float]] = []
        for t in pos:
            syn_pairs.extend(synonyms.get(t, []))
        score = _synonym_score(F.col("url"), syn_pairs)
        ranked = ranked.withColumn("ranking", F.col("rank") * score)
        syn_words = {t: [w for w, _ in synonyms.get(t, [])] for t in pos}
    else:
        ranked = ranked.withColumn("ranking", F.col("rank"))
        syn_words = None

    return (
        ranked.filter(query_predicate(query, "url", syn_words))
        .select("url", "ranking")
        .orderBy(F.desc("ranking"), F.asc("url"))
        .limit(max_results)
    )


def run_pipeline(
    spark: SparkSession,
    data: str,
    personalization_vector_query: str | None = None,
    search_query: str = "",
    filter_ratio: float | None = None,
    alpha: float = 0.85,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    max_results: int = 10,
    checkpointer=None,
    verbose: bool = False,
    synonyms_file: str | None = None,
) -> DataFrame:
    """Reference CLI pipeline, returns the search result DataFrame and logs
    rows in the reference's ``rank=i pagerank=... url=...`` format.

    synonyms_file: optional local word2vec-text vector file; when given,
    search terms are expanded with their top-5 nearest words and results
    re-scored sim**50-weighted, reproducing ws_pagerank.py:196-225 without
    the network-downloaded gensim model (functions/synonyms.py).
    """
    edges = read_edge_csv(spark, data)
    graph = build_graph(edges, filter_ratio=filter_ratio)
    v = (
        make_personalization_vector(graph, personalization_vector_query)
        if personalization_vector_query is not None
        else None
    )
    result = pagerank(
        graph,
        v,
        alpha=alpha,
        max_iterations=max_iterations,
        epsilon=epsilon,
        checkpointer=checkpointer,
        verbose=verbose,
    )
    synonyms = None
    if synonyms_file and search_query:
        from ..functions.synonyms import WordVectors, synonyms_for_query

        pos, _ = _split_terms(search_query)
        synonyms = synonyms_for_query(WordVectors.load(synonyms_file), pos)
    out = search(
        graph, result, query=search_query, max_results=max_results,
        synonyms=synonyms,
    )
    for i, row in enumerate(out.collect()):
        log.info(f"rank={i} pagerank={row['ranking']:0.4e} url={row['url']}")
    return out
