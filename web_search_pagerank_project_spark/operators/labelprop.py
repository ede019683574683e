"""Synchronous label propagation for community detection (north_star X5).

Semantics (deterministic, matching tests/oracle.py::label_propagation_oracle):
undirected neighborhood; each vertex adopts the most frequent neighbor label;
ties broken by the MINIMUM label; a vertex with no neighbors keeps its own
label; labels initialized to the vertex's own id. Synchronous rounds until
fixed point or ``max_iterations`` (LPA can 2-cycle on bipartite structures,
so hitting the cap is a normal terminal state, not an error).

Plan per iteration: edges⋈labels -> groupBy(dst, label).count() ->
row_number window partitioned by dst ordered by (count desc, label asc) -> 1.
The window is partitioned by vertex, so it parallelizes across the cluster;
the frequency count benefits from map-side partial aggregation (hub skew is
bounded the same way as PageRank's contribution sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .components import _symmetrized
from .graph_build import GraphTables


def label_propagation(
    graph: GraphTables,
    max_iterations: int = 20,
    verbose: bool = False,
) -> DataFrame:
    """Returns (id: long, label: long)."""
    num_partitions = graph.partitions
    sym = _symmetrized(graph, num_partitions)

    # same iterative-join discipline as pagerank.py / components.py: labels
    # pinned to hash(id, P) via partitioning-preserving localCheckpoint (the
    # Aggregate in each round clamps inherited stats), SHUFFLE_HASH hints so
    # the O(V) label state is never driver-broadcast
    labels = (
        graph.vertices.select("id", F.col("id").alias("label"))
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=False)
    )

    for it in range(max_iterations):
        lh = labels.hint("shuffle_hash")
        freq = (
            sym.join(lh, sym.src_id == lh.id)
            .groupBy("dst_id", "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("dst_id").orderBy(F.desc("cnt"), F.asc("label"))
        winner = (
            freq.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("dst_id"), F.col("label").alias("new_label"))
            .hint("shuffle_hash")
        )
        new_labels = (
            labels.join(winner, labels.id == winner.dst_id, "left")
            .select(
                labels.id.alias("id"),
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                (F.coalesce(F.col("new_label"), F.col("label")) != F.col("label")).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.agg(
                F.sum(F.when(F.col("_changed"), 1).otherwise(0)).alias("c")
            ).collect()[0]["c"]
            or 0
        )
        if verbose:
            print(f"lpa iter={it} changed={changed}")
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    sym.unpersist()
    return labels
