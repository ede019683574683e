"""Batched multi-personalization PageRank: K rankings, ONE edge scan/round.

The reference computes one personalized ranking per process invocation
(ws_pagerank.py:115-139 builds a single q vector and runs the power
method); a production search/trust stack wants MANY personalization
vectors over the same graph — topic-sensitive PageRank (Haveliwala 2002)
keeps one ranking per topic, TrustRank (Gyöngyi et al. 2004) one per seed
set, and at the 10^12-document design point each power iteration's
dominant cost is the scan+join over the EDGE table, not the rank-vector
arithmetic. Re-running the single-vector kernel K times scans the edges
K·iters times.

This module is the float analogue of MS-BFS bit-packing (operators/
msbfs.py): the K iterates ride as K double COLUMNS of one state table, so
every iteration is

    contribs_k(t) = Σ_s w(s,t) · x_k(s)      -- ONE edges⋈state join,
                                              K products, K map-side-
                                              combined sum aggregates
    β_k           = α·(x_k·a) + (1−α)        -- K dangling masses, rides
                                              the same residual action
    x_k'          = β_k·v_k + α·contribs_k   -- one projection

Numeric semantics per column are EXACTLY the single-vector kernel's
(operators/pagerank.py — same v L2-normalization, same x0 = 1/sqrt(n),
same unnormalized iterate): after T iterations, column k matches a lone
pagerank(v=v_k, max_iterations=T) run up to float64 addition order inside
the shared aggregates (tested at 1e-12). The ε-stop fires when EVERY
column's residual is below ε, so under early stopping a fast-converging
column runs extra rounds and comes out MORE converged (closer to its
unique fixed point) than its lone run — never less; its extra rounds cost
only projection arithmetic, since the edge scan is shared with the
still-converging columns.

Scale shape: per-round shuffle is O(V·K) doubles (the state vector),
edges stay put in their build partitioning; K is bounded by row width
(K ≤ ~100 is the practical band — beyond that, split into column groups).
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables, dangling_vertices
from .pagerank import IterationMetrics

__all__ = ["pagerank_batch", "BatchPageRankResult"]

from dataclasses import dataclass, field


@dataclass
class BatchPageRankResult:
    """ranks: (id: long, rank_<key> double ...) — one column per input key."""

    ranks: DataFrame
    keys: list[str]
    iterations: int
    converged: bool
    residuals: dict[str, list[float]] = field(default_factory=dict)
    metrics: list[IterationMetrics] = field(default_factory=list)

    def by_url(self, graph: GraphTables) -> DataFrame:
        return self.ranks.join(graph.vertices, "id").select(
            "url", *[f"rank_{k}" for k in self.keys]
        )


def pagerank_batch(
    graph: GraphTables,
    vs: dict[str, DataFrame | None],
    alpha: float = 0.85,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    verbose: bool = False,
) -> BatchPageRankResult:
    """Run the power method for every personalization vector in ``vs``
    simultaneously. ``vs`` maps a key (must be a valid column-name suffix)
    to an (id, v) DataFrame — already L1-normalized, as for pagerank() —
    or None for the uniform vector. Returns per-key rank columns
    ``rank_<key>``.
    """
    if not vs:
        raise ValueError("vs must contain at least one personalization vector")
    keys = list(vs)
    for k in keys:
        if not k.isidentifier():
            raise ValueError(f"key {k!r} is not a valid column-name suffix")
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")
    edges = graph.edges  # persisted, hashed by src_id (build_graph contract)
    parts = graph.partitions
    a = float(alpha)

    def _pin(df: DataFrame) -> DataFrame:
        return df.repartition(parts, "id").localCheckpoint(eager=False)

    # one dense (id, v_<k>...) table: each column L2-normalized as the
    # single-vector kernel does (v / ||v||_2 with the norm a literal)
    vtab = graph.vertices.select("id")
    for k in keys:
        vk = vs[k]
        if vk is None:
            vtab = vtab.withColumn(f"v_{k}", F.lit(1.0 / n).cast("double"))
        else:
            vtab = vtab.join(
                vk.select("id", F.col("v").cast("double").alias(f"v_{k}")).hint(
                    "shuffle_hash"
                ),
                "id",
                "left",
            ).withColumn(f"v_{k}", F.coalesce(F.col(f"v_{k}"), F.lit(0.0)))
    norms = vtab.agg(
        *[
            F.sqrt(F.sum(F.col(f"v_{k}") * F.col(f"v_{k}"))).alias(k)
            for k in keys
        ]
    ).collect()[0]
    for k in keys:
        nk = float(norms[k])
        if not nk > 0.0:
            raise ValueError(f"personalization vector {k!r} has zero norm")
        vtab = vtab.withColumn(f"v_{k}", F.col(f"v_{k}") / F.lit(nk))
    vtab = _pin(vtab)

    dangling = _pin(dangling_vertices(graph).withColumn("_dang", F.lit(1)))

    x0_val = 1.0 / math.sqrt(n)
    state = _pin(
        graph.vertices.select(
            "id", *[F.lit(x0_val).cast("double").alias(f"x_{k}") for k in keys]
        )
    )

    # dangling masses of the current iterate, carried across rounds so the
    # single per-round action yields residuals AND the next betas at once
    dm_row = (
        state.join(dangling.hint("shuffle_hash"), "id", "left")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("_dang") == 1, F.col(f"x_{k}"))),
                    F.lit(0.0),
                ).alias(k)
                for k in keys
            ]
        )
        .collect()[0]
    )
    dang_mass = {k: float(dm_row[k]) for k in keys}

    residuals: dict[str, list[float]] = {k: [] for k in keys}
    metrics: list[IterationMetrics] = []
    converged = False
    it = 0
    for it in range(1, max_iterations + 1):
        t0 = time.monotonic()
        # ONE edges⋈state join feeds all K contribution aggregates
        sh = state.hint("shuffle_hash")
        contribs = (
            edges.join(sh, edges.src_id == sh.id)
            .select(
                "dst_id",
                *[
                    (F.col("weight") * F.col(f"x_{k}")).alias(f"wx_{k}")
                    for k in keys
                ],
            )
            .groupBy("dst_id")
            .agg(*[F.sum(f"wx_{k}").alias(f"c_{k}") for k in keys])
            .hint("shuffle_hash")
        )
        new_state = (
            vtab.join(contribs, vtab["id"] == contribs["dst_id"], "left")
            .select(
                vtab["id"].alias("id"),
                *[
                    (
                        F.lit(a * dang_mass[k] + (1.0 - a)) * F.col(f"v_{k}")
                        + F.lit(a)
                        * F.coalesce(F.col(f"c_{k}"), F.lit(0.0))
                    ).alias(f"x_{k}")
                    for k in keys
                ],
            )
            .localCheckpoint(eager=False)
        )
        row = (
            new_state.alias("new")
            .join(state.hint("shuffle_hash").alias("old"), "id")
            .join(dangling.hint("shuffle_hash"), "id", "left")
            .agg(
                *[
                    F.sqrt(
                        F.sum(
                            (F.col(f"new.x_{k}") - F.col(f"old.x_{k}"))
                            * (F.col(f"new.x_{k}") - F.col(f"old.x_{k}"))
                        )
                    ).alias(f"r_{k}")
                    for k in keys
                ],
                *[
                    F.coalesce(
                        F.sum(
                            F.when(F.col("_dang") == 1, F.col(f"new.x_{k}"))
                        ),
                        F.lit(0.0),
                    ).alias(f"d_{k}")
                    for k in keys
                ],
            )
            .collect()[0]
        )
        state = new_state
        rmax = 0.0
        for k in keys:
            rk = float(row[f"r_{k}"])
            residuals[k].append(rk)
            dang_mass[k] = float(row[f"d_{k}"])
            rmax = max(rmax, rk)
        metrics.append(
            IterationMetrics(it - 1, rmax, (time.monotonic() - t0) * 1000.0)
        )
        if verbose:
            print(f"i={it - 1} max_residual={rmax}")
        if rmax < epsilon:
            converged = True
            break

    ranks = state.select(
        "id", *[F.col(f"x_{k}").alias(f"rank_{k}") for k in keys]
    )
    return BatchPageRankResult(
        ranks=ranks,
        keys=keys,
        iterations=it,
        converged=converged,
        residuals=residuals,
        metrics=metrics,
    )
