"""Triangle counting via degree-ordered edge orientation + self-join (X6).

Standard MapReduce-era algorithm (Suri & Vassilvitskii, "Counting Triangles
and the Curse of the Last Reducer"): orient each undirected edge from the
endpoint with (degree, id)-lower rank to the higher one; every triangle then
has exactly one wedge a->b, a->c with b->c, so

    triangles = |oriented ⋈ oriented (wedges) ⋉ oriented (closing edge)|

The orientation bounds every vertex's out-degree by O(sqrt(m)), which is what
kills the last-reducer hub problem at web scale — the wedge join fans out on
the oriented adjacency, not on raw hub degree.

Self-loops are dropped and parallel/bidirectional edges collapse to one
undirected edge (canonical (least, greatest) form) before counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables


def _undirected_edges(graph: GraphTables) -> DataFrame:
    """Canonical undirected edge table (u < v), self-loops dropped,
    parallel/bidirectional edges collapsed."""
    e = graph.edges.select("src_id", "dst_id")
    return (
        e.filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("u"),
            F.greatest("src_id", "dst_id").alias("v"),
        )
        .distinct()
    )


def _undirected_degrees(undirected: DataFrame) -> DataFrame:
    """(id, deg) over the canonical undirected edge table."""
    return (
        undirected.select(F.col("u").alias("id"))
        .unionAll(undirected.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )


def _oriented_edges(graph: GraphTables, num_partitions: int) -> DataFrame:
    undirected = _undirected_edges(graph)
    deg = _undirected_degrees(undirected)
    # orient from lower (deg, id) to higher (deg, id)
    with_deg = (
        undirected.join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    return oriented.repartition(num_partitions, "a").persist()


def _closed_wedges(oriented: DataFrame) -> DataFrame:
    """(w_a, w_b, w_c) — one row per triangle: the wedge w_a->w_b, w_b->w_c
    whose closing edge w_a->w_c exists in the oriented adjacency. The wedge
    join's fan-out per join key is the ORIENTED out-degree, O(sqrt(m)) by
    construction, so a raw-degree hub cannot become the last reducer."""
    e1 = oriented.select(F.col("a").alias("w_a"), F.col("b").alias("w_b"))
    e2 = oriented.select(F.col("a").alias("w_b2"), F.col("b").alias("w_c"))
    wedges = e1.join(e2, F.col("w_b") == F.col("w_b2")).select("w_a", "w_b", "w_c")
    closing = oriented.select(F.col("a").alias("w_a"), F.col("b").alias("w_c"))
    return wedges.join(closing, ["w_a", "w_c"], "left_semi")


def triangle_count(graph: GraphTables) -> int:
    """Total number of distinct undirected triangles in the graph."""
    oriented = _oriented_edges(graph, graph.partitions)
    count = _closed_wedges(oriented).count()
    oriented.unpersist()
    return count


def triangles_per_vertex(graph: GraphTables) -> DataFrame:
    """(id: long, triangles: long) — number of triangles incident to each
    vertex (each triangle counts once per corner)."""
    oriented = _oriented_edges(graph, graph.partitions)

    tris = _closed_wedges(oriented)
    corners = (
        tris.select(F.col("w_a").alias("id"))
        .unionAll(tris.select(F.col("w_b").alias("id")))
        .unionAll(tris.select(F.col("w_c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    result = graph.vertices.select("id").join(corners, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )
    oriented.unpersist()
    return result


def clustering_coefficient(graph: GraphTables) -> DataFrame:
    """Local clustering coefficient per vertex (id: long, coeff: double):
    2 * triangles(v) / (deg(v) * (deg(v) - 1)) over the deduplicated
    undirected graph; 0.0 for deg < 2 (the usual convention). Same
    degree-ordered wedge plan as triangle counting — the O(sqrt(m))
    oriented out-degree bound is what keeps the wedge join web-scale."""
    oriented = _oriented_edges(graph, graph.partitions)
    tris = _closed_wedges(oriented)
    corners = (
        tris.select(F.col("w_a").alias("id"))
        .unionAll(tris.select(F.col("w_b").alias("id")))
        .unionAll(tris.select(F.col("w_c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )
    deg = _undirected_degrees(_undirected_edges(graph))
    result = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .join(corners, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                2.0
                * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )
    oriented.unpersist()
    return result
