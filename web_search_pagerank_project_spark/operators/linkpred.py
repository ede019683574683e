"""Link prediction: common-neighbor / Jaccard scoring of non-adjacent pairs.

Round-4 breadth: the classic neighborhood-overlap recommender over the
undirected link graph (Liben-Nowell & Kleinberg, "The link-prediction
problem for social networks", 2003). For every non-adjacent vertex pair
{a, b} that shares at least one neighbor, score

    common  = |N(a) ∩ N(b)|
    jaccard = common / |N(a) ∪ N(b)|

Scale notes. Common-neighbor enumeration is inherently a wedge join — a
center vertex w with degree d emits C(d, 2) candidate pairs, so raw hubs
are quadratic in their degree. Unlike triangle counting, orientation can
NOT fix this: the output itself (all overlapping pairs) is what's
quadratic, not an intermediate. The standard web-scale mitigation is the
``max_center_degree`` cap: wedges are only generated through centers with
degree <= tau. This is both a cost bound (per-center fan-out <= C(tau, 2))
and a quality choice — a mega-hub shared by half the web is weak evidence
of similarity (Adamic-Adar formalizes this as 1/log d weighting; a cap is
its hard-threshold cousin). Pairs whose ONLY witnesses are super-hub
centers drop out; their common counts also exclude capped centers, which
keeps the reported score consistent with the candidate generation (and
with the oracle, which applies the same cap).

Plan shape: degree agg -> capped adjacency self-join on the center column
(shuffle-hash, fan-out bounded by tau) -> groupBy pair -> anti-join the
existing edge set -> top-k (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables
from .triangles import _undirected_degrees, _undirected_edges

__all__ = ["common_neighbors_topk"]


def common_neighbors_topk(
    graph: GraphTables,
    k: int = 20,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Top-k non-adjacent pairs (id_a < id_b) by common-neighbor count
    (ties: jaccard desc, then id_a, id_b — fully deterministic).

    Returns (id_a: long, id_b: long, common: long, jaccard: double).
    ``max_center_degree`` caps wedge centers (see module docstring); None
    means uncapped — fine for tests/small graphs, set a tau for web scale.
    """
    npart = graph.partitions
    und = _undirected_edges(graph).persist()
    deg = _undirected_degrees(und)

    # symmetric adjacency (center, leaf), centers optionally degree-capped
    adj = und.select(
        F.col("u").alias("center"), F.col("v").alias("leaf")
    ).unionAll(und.select(F.col("v").alias("center"), F.col("u").alias("leaf")))
    if max_center_degree is not None:
        ok = deg.filter(F.col("deg") <= max_center_degree).select(
            F.col("id").alias("center")
        )
        adj = adj.join(ok.hint("shuffle_hash"), "center", "left_semi")
    adj = adj.repartition(npart, "center")

    # wedge join on the center: every unordered leaf pair sharing a center
    a1 = adj.select("center", F.col("leaf").alias("id_a"))
    a2 = adj.select(F.col("center").alias("center2"), F.col("leaf").alias("id_b"))
    pairs = (
        a1.join(a2, (F.col("center") == F.col("center2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )

    # keep only non-adjacent pairs ((id_a, id_b) is already canonical u<v)
    existing = und.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    cand = pairs.join(existing.hint("shuffle_hash"), ["id_a", "id_b"], "left_anti")

    # jaccard = common / (deg_a + deg_b - common); degrees are UNCAPPED
    # neighborhood sizes (the cap limits which wedges are witnessed, not
    # what a vertex's neighborhood is)
    da = deg.select(F.col("id").alias("id_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("id_b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(da.hint("shuffle_hash"), "id_a")
        .join(db.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            (
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    out = scored.orderBy(
        F.desc("common"), F.desc("jaccard"), F.asc("id_a"), F.asc("id_b")
    ).limit(k)
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    return out
