"""Bit-parallel multi-source BFS and harmonic centrality.

Round-4 breadth: harmonic centrality (Sigma_{u != v} 1/d(u, v), incoming
paths) is the centrality Boldi & Vigna's "Axioms for centrality" (2014)
single out as the principled web-page score next to PageRank — the
reference ranks by PageRank only (ws_pagerank.py), so this is scale-path
surface, not a port.

The kernel is MS-BFS (Then et al., VLDB 2014) re-expressed relationally:
up to 64 BFS sources run in ONE frontier propagation by packing "which
sources have reached this vertex" into a single int64 bitmask column.
Per round, per wave:

    arrived(v)  = BIT_OR over in-edges (u -> v) of frontier_bits(u)
    fresh(v)    = arrived(v) & ~seen(v)         -- first-touch bits only
    harmonic(v) += bit_count(fresh(v)) / depth  -- all new sources at once
    frontier'   = rows with fresh != 0; seen |= fresh

Everything is Catalyst built-ins (groupBy + bit_or aggregate, bitwise
and/xor, bit_count) — zero Python in the loop, map-side partial combine
on the bit_or, and the shuffle carries one (id, long) row per frontier
vertex per round instead of one row per (source, vertex) pair: 64 BFS
traversals for the shuffle volume of one. Sources beyond 64 run as
independent waves of 64 (embarrassingly parallel across waves on a
cluster; sequential here to bound local-mode memory).

Same iterative discipline as operators/bfs.py: edges partitioned once by
the join key and persisted, SHUFFLE_HASH hints so an O(V) side is never
a driver-built broadcast, one scalar action per round, and per-round
state behind eager cut_lineage checkpoints. Plain localCheckpoint is NOT
enough here: each round's plan references the previous state TWICE
(fresh = arrived x seen, then seen' = seen x fresh), so the size-only
stats visitor's join-size product SQUARES the inherited sizeInBytes per
round — at bench scale the BigInteger stat overflows Long within a few
rounds (observed at 2M edges). cut_lineage resets leaf statistics.
"""

from __future__ import annotations

import warnings
from itertools import islice

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables
from .lineage import cut_lineage

__all__ = ["ms_bfs_bits", "harmonic_centrality"]

_WAVE = 64  # bits per int64 bitmask


def _prepare_wave_edges(
    graph: GraphTables, from_col: str, to_col: str, npart: int
) -> DataFrame:
    """Dedup + partition the edge table on the wave-join key, once. Multi-
    wave callers (harmonic_centrality) prepare this a single time and pass
    it to every ms_bfs_bits call — re-deriving it per wave would re-shuffle
    the full edge table ceil(V/64) times on the all-sources path."""
    return (
        graph.edges.select(from_col, to_col)
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(npart, from_col)
        .persist()
    )


def ms_bfs_bits(
    graph: GraphTables,
    seed_ids: list[int],
    direction: str = "forward",
    max_depth: int = 1000,
    prepared_edges: DataFrame | None = None,
) -> DataFrame:
    """One bit-parallel wave (<= 64 sources): returns per-round first-touch
    sets as (id, depth, fresh_bits) rows, where bit j of ``fresh_bits``
    means ``seed_ids[j]`` first reached ``id`` at exactly ``depth`` hops
    (seed self-rows at depth 0 included). Building block for harmonic /
    closeness centrality and reach statistics.

    ``prepared_edges``: a _prepare_wave_edges result for this direction,
    owned (persisted/unpersisted) by the caller; when None, this wave
    prepares and releases its own copy.
    """
    if not 1 <= len(seed_ids) <= _WAVE:
        raise ValueError(f"a wave takes 1..{_WAVE} seeds, got {len(seed_ids)}")
    if direction == "forward":
        from_col, to_col = "src_id", "dst_id"
    elif direction == "backward":
        from_col, to_col = "dst_id", "src_id"
    else:
        raise ValueError(f"direction must be forward|backward, got {direction!r}")
    if prepared_edges is not None and prepared_edges.columns[:1] != [from_col]:
        raise ValueError(
            f"prepared_edges leads with {prepared_edges.columns[:1]}, but a "
            f"{direction} wave joins on {from_col!r}: prepare the edges for "
            "this direction"
        )
    spark = graph.edges.sparkSession
    npart = graph.partitions

    owns_edges = prepared_edges is None
    edges = (
        _prepare_wave_edges(graph, from_col, to_col, npart)
        if owns_edges
        else prepared_edges
    )

    # bit 63 is the int64 sign bit: represent it as the two's-complement
    # value so a full 64-seed wave fits one long column
    seeds = spark.createDataFrame(
        [
            (int(v), (1 << j) if j < 63 else -(1 << 63))
            for j, v in enumerate(seed_ids)
        ],
        "id long, bits long",
    )
    # two or more seed_ids may alias the same vertex: merge their bits
    seen = (
        seeds.groupBy("id")
        .agg(F.bit_or("bits").alias("bits"))
        .repartition(npart, "id")
        .localCheckpoint(eager=True)
    )
    frontier = seen
    touches = [seen.select("id", F.lit(0).alias("depth"), F.col("bits").alias("fresh_bits"))]

    for depth in range(1, max_depth + 1):
        arrived = (
            edges.join(frontier.hint("shuffle_hash"), edges[from_col] == frontier.id)
            .groupBy(F.col(to_col).alias("id"))
            .agg(F.bit_or("bits").alias("arrived"))
        )
        fresh = (
            arrived.join(seen.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (
                    F.col("arrived").bitwiseAND(
                        F.coalesce(F.col("bits"), F.lit(0)).bitwiseXOR(F.lit(-1))
                    )
                ).alias("bits"),
            )
            .filter(F.col("bits") != 0)
            .transform(lambda df: cut_lineage(df, eager=True))
        )
        if fresh.count() == 0:
            break
        touches.append(
            fresh.select("id", F.lit(depth).alias("depth"), F.col("bits").alias("fresh_bits"))
        )
        seen = (
            seen.join(fresh.withColumnRenamed("bits", "nb"), "id", "full")
            .select(
                "id",
                (
                    F.coalesce(F.col("bits"), F.lit(0)).bitwiseOR(
                        F.coalesce(F.col("nb"), F.lit(0))
                    )
                ).alias("bits"),
            )
            .transform(lambda df: cut_lineage(df, eager=True))
        )
        frontier = fresh
    else:
        if owns_edges:
            edges.unpersist()
        raise RuntimeError(f"ms_bfs_bits: frontier alive after max_depth={max_depth}")

    out = touches[0]
    for t in touches[1:]:
        out = out.unionByName(t)
    result = out.localCheckpoint(eager=True)
    if owns_edges:
        edges.unpersist()
    return result


def harmonic_centrality(
    graph: GraphTables,
    seed_ids: list[int] | None = None,
    direction: str = "forward",
    max_depth: int = 1000,
) -> DataFrame:
    """Harmonic centrality (id, harmonic double): for each vertex v, the
    sum of 1/d(s, v) over sources s that reach v in >= 1 hop (incoming
    harmonic centrality when the sources are all vertices — the
    Boldi-Vigna web ranking). ``seed_ids=None`` uses every vertex as a
    source, in waves of 64. Vertices reached by no source are absent
    (dense callers left-join vertices and coalesce to 0).

    Exact, deterministic: counts are integral per (vertex, depth, wave);
    the only float work is the final sum of count/depth terms.

    SCALE BOUNDARY — the exact all-sources default is a small-graph /
    test-oracle path: it is inherently O(V·E/64) work across ceil(V/64)
    waves (sequential here to bound local-mode memory; on a cluster the
    waves are embarrassingly parallel jobs). Seed ids stream to the driver
    in wave-sized batches via toLocalIterator — never one O(V) collect —
    but the wave count itself is the cost. At web scale use
    ``operators.anf.hyperball_centralities``: the HyperBall counter-delta
    estimator covers every vertex in one register sweep per diameter
    round.
    """
    npart = graph.partitions
    from_col = "src_id" if direction == "forward" else "dst_id"
    to_col = "dst_id" if direction == "forward" else "src_id"

    if seed_ids is None:
        warnings.warn(
            "harmonic_centrality(seed_ids=None) runs exact all-sources "
            "MS-BFS: ceil(V/64) waves, O(V*E/64) total work — exact but "
            "small-graph-only; use anf.hyperball_centralities at scale",
            stacklevel=2,
        )
        seed_iter = (
            r["id"]
            for r in graph.vertices.select("id").orderBy("id").toLocalIterator()
        )
    else:
        if not seed_ids:
            raise ValueError("no sources")
        seed_iter = iter(seed_ids)

    # dedup/partition/persist the wave-join edge table ONCE for every wave
    edges = _prepare_wave_edges(graph, from_col, to_col, npart)
    out = None
    try:
        while True:
            wave = list(islice(seed_iter, _WAVE))
            if not wave:
                break
            touches = ms_bfs_bits(
                graph,
                wave,
                direction=direction,
                max_depth=max_depth,
                prepared_edges=edges,
            )
            part = touches.filter(F.col("depth") >= 1).select(
                "id",
                (
                    F.bit_count("fresh_bits").cast("double")
                    / F.col("depth").cast("double")
                ).alias("h"),
            )
            out = part if out is None else out.unionByName(part)
    finally:
        edges.unpersist()
    if out is None:
        raise ValueError("no sources")
    return out.groupBy("id").agg(F.sum("h").alias("harmonic"))
