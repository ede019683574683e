"""HITS (hubs & authorities) as DataFrame joins/aggregations.

Kleinberg's algorithm over the engine's deduplicated link structure — a
breadth extension beyond the reference's PageRank-only ranking
(/root/reference/ws_pagerank.py ranks by PageRank alone; HITS is the other
classic link-analysis score a web-search engine computes on the same edge
table), in float64:

    h0   = ones(n) / sqrt(n)
    loop: a_raw[t] = sum_{s->t} h[s]     (authority from in-link hubs)
          a        = a_raw / ||a_raw||_2
          h_raw[s] = sum_{s->t} a[t]     (hub from out-link authorities)
          h        = h_raw / ||h_raw||_2
          stop when ||a - a_prev||_2 < epsilon

Execution design mirrors operators/pagerank.py (one action per iteration):

  * TWO static edge layouts, built once: the graph's contract table is
    already hashed by ``src_id`` (feeds the authority half-step); a second
    persisted copy hashed by ``dst_id`` feeds the hub half-step. Each
    iteration shuffles only the O(V) score vectors — the O(E) edges never
    move after setup, which is what survives 10^12 edges.
  * SHUFFLE_HASH hints on the score side everywhere (never broadcast the
    iterate: a broadcast relation is built serially on the driver and its
    cost grows with V — the measured 0.54 -> 0.93 weak-scaling lesson from
    the PageRank kernel, PLANS.md §3).
  * Both L2 norms ride the plan as broadcast 1-row aggregates (crossJoin),
    so an iteration's only driver action is the residual, which also
    materializes the lazily local-checkpointed new iterates.
  * Hub-skew defense is the same as SpMV: map-side partial aggregation
    before the shuffle bounds a mega-authority's fan-in to one partial per
    upstream partition, with AQE skew-join behind it.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables
from .pagerank import IterationMetrics


@dataclass
class HitsResult:
    """scores: (id: long, authority: double, hub: double)."""

    scores: DataFrame
    iterations: int
    converged: bool
    residuals: list[float] = field(default_factory=list)
    metrics: list[IterationMetrics] = field(default_factory=list)

    def by_url(self, graph: GraphTables) -> DataFrame:
        return self.scores.join(graph.vertices, "id").select(
            "url", "authority", "hub"
        )


def _normalized_step(
    verts: DataFrame,
    edges: DataFrame,
    scores: DataFrame,
    join_key: str,
    group_key: str,
) -> DataFrame:
    """One HITS half-step: sum `scores.s` over `edges` grouped by
    `group_key`, expand to the full vertex set (absent => 0.0), and
    L2-normalize — all in one plan, no driver action."""
    sh = scores.hint("shuffle_hash")
    raw = (
        edges.join(sh, edges[join_key] == sh["id"])
        .groupBy(group_key)
        .agg(F.sum("s").alias("_raw"))
    )
    full = (
        verts.join(
            raw.hint("shuffle_hash"), verts["id"] == raw[group_key], "left"
        )
        .select(
            verts["id"],
            F.coalesce(F.col("_raw"), F.lit(0.0)).alias("_raw"),
        )
    )
    norm = full.agg(F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))).alias("_n"))
    return full.crossJoin(F.broadcast(norm)).select(
        "id",
        F.when(F.col("_n") > 0.0, F.col("_raw") / F.col("_n"))
        .otherwise(F.lit(0.0))
        .alias("s"),
    )


def hits(
    graph: GraphTables,
    max_iterations: int = 100,
    epsilon: float = 1e-6,
    verbose: bool = False,
) -> HitsResult:
    """Run HITS on a built graph; stops at the first iteration whose
    authority-vector L2 delta is below ``epsilon``."""
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    parts = graph.partitions

    def _pin(df: DataFrame) -> DataFrame:
        return df.repartition(parts, "id").localCheckpoint(eager=False)

    # static layouts: contract table is hashed by src_id already; the hub
    # half-step streams a dst_id-hashed copy (built once, per-run persist)
    e_src = graph.edges.select("src_id", "dst_id")
    e_dst = e_src.repartition(parts, "dst_id").persist()

    verts = _pin(graph.vertices.select("id"))
    h = _pin(
        graph.vertices.select(
            "id", F.lit(1.0 / math.sqrt(n)).cast("double").alias("s")
        )
    )
    a = None

    residuals: list[float] = []
    metrics: list[IterationMetrics] = []
    converged = False
    it = 0
    try:
        while it < max_iterations and not converged:
            t0 = time.monotonic()
            a_prev = a
            a = _pin(_normalized_step(verts, e_src, h, "src_id", "dst_id"))
            h = _pin(_normalized_step(verts, e_dst, a, "dst_id", "src_id"))
            if a_prev is None:
                # first iteration: no previous authority vector, so no
                # residual action — the lazy checkpoints materialize when
                # iteration 2's residual (or the caller's first action)
                # pulls on them
                residual = float("inf")
            else:
                # the single per-iteration action; h's lazy checkpoint is
                # materialized by the NEXT iteration's a-step (which reads
                # it inside that residual's lineage) or the caller
                residual = float(
                    a.alias("new")
                    .join(a_prev.hint("shuffle_hash").alias("old"), "id")
                    .agg(
                        F.sqrt(
                            F.sum(
                                (F.col("new.s") - F.col("old.s"))
                                * (F.col("new.s") - F.col("old.s"))
                            )
                        )
                    )
                    .collect()[0][0]
                )
            it += 1
            wall_ms = (time.monotonic() - t0) * 1000.0
            residuals.append(residual)
            metrics.append(IterationMetrics(it - 1, residual, wall_ms))
            if verbose:
                print(f"i={it - 1} residual={residual}")
            if residual < epsilon:
                converged = True
    finally:
        # materialize the final hub checkpoint before dropping the dst-hashed
        # edge cache, so the caller's actions never recompute that shuffle
        try:
            h.count()
        except Exception:
            pass
        e_dst.unpersist()

    scores = (
        a.withColumnRenamed("s", "authority")
        .join(h.withColumnRenamed("s", "hub").hint("shuffle_hash"), "id")
        .select("id", "authority", "hub")
    )
    return HitsResult(
        scores=scores,
        iterations=it,
        converged=converged,
        residuals=residuals,
        metrics=metrics,
    )
