"""web_search_pagerank_project_spark — a from-scratch PySpark-native link-graph
analytics engine with the query/data-processing capabilities of the reference
``Yugi00/Web_Search_Pagerank_Project`` (see SURVEY.md), re-expressed Spark-first.

Public API:

    from web_search_pagerank_project_spark import (
        get_spark, GraphTables, build_graph, read_edge_csv,
        pagerank, connected_components, label_propagation, triangle_count,
        search, make_personalization_vector,
    )
"""

from .session import get_spark
from .sources.edges import read_edge_csv, read_edge_parquet, edges_from_dataframe
from .operators.graph_build import GraphTables, build_graph
from .operators.incremental import update_graph
from .operators.walks import random_walks
from .operators.pagerank import (
    pagerank,
    PageRankResult,
    pagerank_batch,
    BatchPageRankResult,
)
from .operators.csr_kernel import pagerank_csr, build_csr_blocks
from .operators.components import connected_components, connected_components_star
from .operators.hits import hits, HitsResult
from .operators.kcore import k_core
from .operators.scc import strongly_connected_components, bowtie_classes, SccResult
from .operators.labelprop import label_propagation
from .operators.triangles import (
    clustering_coefficient,
    triangle_count,
    triangles_per_vertex,
)
from .operators.bfs import bfs_distances
from .operators.msbfs import ms_bfs_bits, harmonic_centrality
from .operators.metrics import degree_histogram, reciprocity, degree_assortativity
from .operators.linkpred import common_neighbors_topk
from .operators.hostgraph import host_of, host_edges
from .operators.anf import (
    neighborhood_function,
    hyperball_centralities,
    effective_diameter,
    hll_init_registers,
)
from .functions.query import query_predicate, make_personalization_vector
from .functions.sampling import sample_gate, stratified_sample
from .plans.pipeline import search, run_pipeline

__all__ = [
    "get_spark",
    "read_edge_csv",
    "read_edge_parquet",
    "edges_from_dataframe",
    "GraphTables",
    "build_graph",
    "update_graph",
    "pagerank_batch",
    "BatchPageRankResult",
    "random_walks",
    "pagerank",
    "pagerank_csr",
    "build_csr_blocks",
    "PageRankResult",
    "connected_components",
    "connected_components_star",
    "hits",
    "HitsResult",
    "k_core",
    "strongly_connected_components",
    "bowtie_classes",
    "SccResult",
    "label_propagation",
    "triangle_count",
    "triangles_per_vertex",
    "clustering_coefficient",
    "bfs_distances",
    "ms_bfs_bits",
    "harmonic_centrality",
    "reciprocity",
    "degree_histogram",
    "degree_assortativity",
    "common_neighbors_topk",
    "host_of",
    "host_edges",
    "neighborhood_function",
    "hyperball_centralities",
    "effective_diameter",
    "hll_init_registers",
    "sample_gate",
    "stratified_sample",
    "query_predicate",
    "make_personalization_vector",
    "search",
    "run_pipeline",
]

__version__ = "0.1.0"
