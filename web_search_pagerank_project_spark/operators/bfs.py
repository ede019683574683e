"""Single/multi-source BFS shortest-path distances over the directed graph.

Round-4 breadth: hop-distance from a seed set is the classic crawl-frontier
metric (crawl depth, distance-from-seed spam heuristics) and the natural
companion to the bow-tie reachability classes (operators/scc.py) — the same
frontier propagation, but carrying the hop count instead of a boolean.

Scale shape (same discipline as components.py / scc.py):
  * per-round movement is the FRONTIER (newly reached ids), never the edge
    table — edges are partitioned once by src_id and joined against the
    frontier with SHUFFLE_HASH hints (an O(V) build side must never become
    a driver-built broadcast relation);
  * exactly one scalar action per round (the new-vertex count, which is
    also the loop's termination test);
  * each round's accumulated distance table is lineage-cut with a plain
    localCheckpoint (keeps outputPartitioning, so rounds don't re-shuffle).

Distances are exact under synchronous frontier expansion: a vertex is
first reached at round d iff its directed hop distance from the seed set
is d (the anti-join guarantees no vertex is ever re-labeled, and BFS
levels are monotone).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables

__all__ = ["bfs_distances"]


def bfs_distances(
    graph: GraphTables,
    seed_predicate: Column | None = None,
    seed_ids: list[int] | None = None,
    max_depth: int = 1000,
    direction: str = "forward",
) -> DataFrame:
    """Hop distances (id: long, dist: int) from the seed set; vertices the
    seeds cannot reach are absent from the result (callers wanting a dense
    table left-join against graph.vertices).

    Seeds: either ``seed_predicate`` (a boolean Column over
    graph.vertices.url, e.g. ``F.col("url").contains("n1")``) or an
    explicit ``seed_ids`` list. ``direction='backward'`` follows edges in
    reverse (distance TO the seed set).
    """
    if (seed_predicate is None) == (seed_ids is None):
        raise ValueError("provide exactly one of seed_predicate / seed_ids")
    spark = graph.edges.sparkSession
    npart = graph.partitions

    if direction == "forward":
        from_col, to_col = "src_id", "dst_id"
    elif direction == "backward":
        from_col, to_col = "dst_id", "src_id"
    else:
        raise ValueError(f"direction must be forward|backward, got {direction!r}")

    if seed_predicate is not None:
        seeds = graph.vertices.filter(seed_predicate).select("id")
    else:
        seeds = spark.createDataFrame([(int(i),) for i in seed_ids], "id long")

    edges = (
        graph.edges.select(from_col, to_col)
        .filter(F.col("src_id") != F.col("dst_id"))
        .repartition(npart, from_col)
        .persist()
    )

    dist = (
        seeds.select("id", F.lit(0).alias("dist"))
        .repartition(npart, "id")
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("id")
    for depth in range(1, max_depth + 1):
        step = (
            edges.join(frontier.hint("shuffle_hash"), edges[from_col] == frontier.id)
            .select(F.col(to_col).alias("id"))
            .distinct()
        )
        new = (
            step.join(dist.hint("shuffle_hash"), "id", "left_anti")
            .select("id", F.lit(depth).alias("dist"))
            .localCheckpoint(eager=True)
        )
        if new.count() == 0:
            break
        dist = dist.unionByName(new).localCheckpoint(eager=False)
        frontier = new.select("id")
    else:
        edges.unpersist()
        raise RuntimeError(f"bfs_distances: frontier alive after max_depth={max_depth}")
    edges.unpersist()
    return dist
