"""k-core decomposition by distributed iterative peeling.

The k-core of an undirected graph is the maximal subgraph in which every
vertex has degree >= k (Seidman 1983). On a web link graph the k-core
isolates the densely interlinked "core of the web" — the standard
complement to the reference's PageRank/HITS rankings (which score
vertices, while the core classifies them), computed on the same edge
table. Not present in the reference (/root/reference/ws_pagerank.py ranks
only); added as engine breadth alongside CC/LPA/triangles.

Algorithm (textbook peel, expressed as DataFrame ops):

    E0 = symmetrized, self-loop-free, deduplicated edges
    repeat: deg[v]  = |{(v, *) in E}|             (groupBy count)
            S       = {v : deg[v] >= k}           (filter)
            E       = E where src in S and dst in S  (two semi-joins)
    until no vertex was removed

Every surviving endpoint has degree >= k at the fixed point, which is
exactly the k-core (removal order never affects the result — peeling is
confluent because removing a vertex only lowers other degrees).

Scale notes (100 TB):

  * Per round: one shuffle for the degree aggregation (map-side partial
    combine bounds hub fan-in to one partial per partition) and two
    semi-joins keyed on the endpoints. The edge set only shrinks, so
    per-round cost is monotonically non-increasing; the first rounds
    dominate and carry exactly the same shuffle shape as the CC round.
  * The survivor table is O(V) ids — never broadcast here (same lesson as
    the PageRank iterate, PLANS.md §3: a driver-built broadcast is serial
    in V); SHUFFLE_HASH hints keep the planner from sort-merging every
    round. AQE (when on) may still elect a broadcast at the tail when the
    survivor set has collapsed, which is then genuinely small.
  * Each round's edge set is lineage-cut (localCheckpoint) so round R's
    plan does not replay rounds 1..R-1; the per-round driver action is the
    survivor count that doubles as the convergence check.
  * Worst-case round count is the graph's degeneracy-peel depth (a path
    peels one layer per round); web graphs peel in a few dozen rounds.
    ``max_rounds`` caps runaway inputs loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import _symmetrized
from .graph_build import GraphTables
from .lineage import cut_lineage


def k_core(
    graph: GraphTables,
    k: int,
    max_rounds: int = 200,
    verbose: bool = False,
) -> DataFrame:
    """Vertices of the k-core with their within-core degree.

    Returns ``DataFrame[id: long, core_degree: long]`` — empty when the
    k-core is empty. Degrees are over the deduplicated undirected
    structure (parallel edges collapse; self-loops are dropped), matching
    ``connected_components``/``triangle_count`` semantics.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = graph.edges.sparkSession

    sym = _symmetrized(graph, graph.partitions)  # persisted; each undirected edge twice
    edges = sym
    try:
        prev_n = None
        for _ in range(max_rounds):
            deg = cut_lineage(
                edges.groupBy("src_id")
                .agg(F.count("*").alias("core_degree"))
                .filter(F.col("core_degree") >= k),
                eager=True,
            )
            n_surv = deg.count()
            if verbose:
                print(f"k_core(k={k}): {n_surv} survivors")
            if n_surv == 0:
                return spark.createDataFrame(
                    [], "id long, core_degree long"
                )
            if prev_n is not None and n_surv == prev_n:
                # fixed point: survivors_r ⊆ endpoints(edges_r) ⊆
                # survivors_{r-1}, so equal counts force set equality —
                # every remaining endpoint has degree >= k and this
                # round's degree table IS the k-core answer
                return deg.select(F.col("src_id").alias("id"), "core_degree")
            prev_n = n_surv
            s = deg.select("src_id").hint("shuffle_hash")
            edges = cut_lineage(
                edges.join(s, "src_id", "left_semi")
                .join(
                    s.select(F.col("src_id").alias("dst_id")),
                    "dst_id",
                    "left_semi",
                )
                .select("src_id", "dst_id")
            )
        raise RuntimeError(f"k_core: no fixed point in {max_rounds} rounds")
    finally:
        sym.unpersist()
