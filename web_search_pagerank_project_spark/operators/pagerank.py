"""Damped power-iteration PageRank as DataFrame joins/aggregations.

Exact numeric semantics of the reference power method
(/root/reference/ws_pagerank.py:121-178; SURVEY.md §1.3), in float64:

    v    = v / ||v||_2                  (input v is L1-normalized upstream)
    x0   = ones(n) / sqrt(n)
    a[i] = 1  iff outdeg(i) == 0        (dangling; left-anti join, not a loop)
    loop: beta = alpha * (x . a) + (1 - alpha)
          x    = beta * v + alpha * P^T x
          stop when ||x - x_prev||_2 < epsilon

The iterate is intentionally NOT re-normalized (the reference never does), so
the fixed point is a scaled PageRank vector; tests compare per-url against the
float64 NumPy oracle (tests/oracle.py) at atol=1e-6.

Execution design (SURVEY.md §4.3) — one Spark action per iteration:

  * The static weighted edge table is persisted pre-partitioned by ``src_id``
    (graph_build), so each iteration's SpMV join re-shuffles only the rank
    vector, never the edges.
  * Every per-iteration join carries a SHUFFLE_HASH hint: the rank side is
    O(V) and comfortably hash-buildable per partition, but it must NOT be
    broadcast — a broadcast hash-relation of the iterate is built serially
    on the driver and its cost grows with V while adding executors adds
    nothing (measured: the pre-hint plan broadcast 500k-2M row iterates per
    iteration under AQE and weak-scaled at 0.54; at web scale, V ~ 10^10
    rows cannot be broadcast at all). SHJ streams the pre-partitioned edges
    with zero movement and shuffles only O(V) rank rows across all cores;
    it also skips the per-iteration sorts a sort-merge join would pay.
  * ``beta`` (dangling mass) is folded into the same plan as the new iterate
    via a broadcast scalar-aggregate cross join — no separate driver round
    trip for it.
  * The residual L2-norm aggregate is the single per-iteration action; it
    also materializes the lazily local-checkpointed new iterate.
  * ``localCheckpoint`` every iteration truncates both RDD lineage and the
    logical plan, keeping Catalyst analysis O(1) per iteration instead of
    O(iteration depth) (iterative-lineage blowup, SURVEY.md §7.3).
  * Hub skew in the contribution aggregation is handled map-side by partial
    aggregation (hash agg combines per task before the shuffle) plus AQE
    skew-join splitting; an explicit salted two-phase variant is available
    via ``salt_partitions`` (SURVEY.md X7) for extreme hubs.
  * Optional durable checkpointing (``checkpointer``) writes per-iteration
    state + lineage metadata for resumability (operators/checkpoint.py).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables, dangling_vertices


@dataclass
class IterationMetrics:
    iteration: int
    residual: float
    wall_ms: float


@dataclass
class PageRankResult:
    """ranks: (id: long, rank: double); join graph.vertices for urls."""

    ranks: DataFrame
    iterations: int
    converged: bool
    residuals: list[float] = field(default_factory=list)
    metrics: list[IterationMetrics] = field(default_factory=list)

    def by_url(self, graph: GraphTables) -> DataFrame:
        return (
            self.ranks.join(graph.vertices, "id")
            .select("url", F.col("rank"))
        )


def mass_matched_x0(
    graph: GraphTables,
    x0: DataFrame,
    mv: float,
    alpha: float,
    fill: float,
) -> DataFrame:
    """Dense warm-start iterate (id, x) from a previous snapshot's vector.

    Vertices missing from ``x0`` (urls new in this snapshot) start at the
    cold value ``fill``; the whole vector is then rescaled to the power
    iteration's invariant L1 mass. The reference's cold init is
    mass-matched by construction (uniform q: mass(x0) = mass(v) = sqrt(n)),
    so its error has no component along the slowest mode — the mass
    functional, which the affine map shrinks by exactly alpha per step. An
    unscaled previous-snapshot vector carries an O(Δn) mass mismatch, and
    without this correction that single slow mode dominates (measured on a
    40→42-vertex update: 109 warm iterations to 30 cold; 29 with it).
    Fixed-point mass m* = mv + alpha·δ*(mv−1)/(1−alpha) with mv = mass of
    the L2-NORMALIZED teleport vector and δ* the dangling mass; estimating
    δ* ≈ s·δ0 and solving for the scale s gives
    s = mv / (m0 − alpha·δ0·(mv−1)/(1−alpha)).

    Shared by both kernels (pagerank ``x0=`` and pagerank_csr ``x0=``), so
    their warm paths are numerically identical.
    """
    xcol = "rank" if "rank" in x0.columns else "x"
    x = graph.vertices.select("id").join(
        x0.select("id", F.col(xcol).cast("double").alias("_x0")).hint(
            "shuffle_hash"
        ),
        "id",
        "left",
    ).select(
        "id",
        F.coalesce(F.col("_x0"), F.lit(fill).cast("double")).alias("x"),
    ).localCheckpoint(eager=False)
    # dangling probe built from the EDGE table with a freshly-aliased id:
    # x's checkpoint inherits graph.vertices' attribute ids, so joining it
    # against dangling_vertices(graph) (also vertices-derived) makes both
    # join children expose the same exprIds — Spark's self-join dedup then
    # dies with INTERNAL_ERROR "conflicting references" under the
    # ResolvedHint (hit in the bench's incremental section). has-out-edge
    # is the complement of dangling, so d0 = Σx over null-probe rows.
    has_out = graph.edges.select(F.col("src_id").alias("id")).distinct()
    row0 = (
        x.join(
            has_out.withColumn("_out", F.lit(1)).hint("shuffle_hash"),
            "id",
            "left",
        )
        .agg(
            F.sum("x").alias("m0"),
            F.coalesce(
                F.sum(F.when(F.col("_out").isNull(), F.col("x"))), F.lit(0.0)
            ).alias("d0"),
        )
        .collect()[0]
    )
    m0, d0 = float(row0["m0"]), float(row0["d0"])
    denom = m0 - alpha * d0 * (mv - 1.0) / (1.0 - alpha)
    if denom > 0 and math.isfinite(denom) and mv > 0:
        s = mv / denom
        x = x.select("id", (F.col("x") * F.lit(s)).alias("x"))
    return x


def _l2_normalize(df: DataFrame, col: str) -> DataFrame:
    norm_df = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_norm"))
    return (
        df.crossJoin(F.broadcast(norm_df))
        .select(df["id"], (F.col(col) / F.col("_norm")).alias(col))
    )


def pagerank(
    graph: GraphTables,
    v: DataFrame | None = None,
    alpha: float = 0.85,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    salt_partitions: int | None = None,
    checkpointer=None,
    checkpoint_every: int = 10,
    verbose: bool = False,
    iters_per_action: int = 1,
    x0: DataFrame | None = None,
) -> PageRankResult:
    """Run the power method on a built graph.

    v: optional personalization DataFrame (id: long, v: double), already
       L1-normalized (functions.query.make_personalization_vector); this
       routine applies the reference's L2 re-normalization (ws:139).
    salt_partitions: if set, use explicit two-phase salted aggregation for
       the contribution sum (groupBy(dst_id, salt) partial -> groupBy(dst_id)
       final) to break extreme hub keys across reducers.
    checkpointer: optional operators.checkpoint.IterationCheckpointer for
       durable per-iteration state + lineage (resume supported).
    iters_per_action: fuse this many power steps into one Spark action.
       Inner steps compute β JVM-side (1-row dangling aggregate broadcast
       into the iterate) and skip the residual join entirely; numerics are
       identical, but the ε-stop (and residual reporting) happens once per
       batch — keep the default 1 when reference iteration-count parity
       matters.
    x0: optional warm-start iterate (id, rank|x) — typically the previous
       snapshot's converged ranks after operators.incremental.update_graph,
       or a checkpointer.resume() state from a DIFFERENT run. Vertices
       missing from x0 (e.g. urls new in this snapshot) start at the cold
       value 1/sqrt(n). The iteration is an affine contraction with a
       unique fixed point, so warm and cold starts converge to identical
       scores; warm-starting only shortens the path. Ignored when THIS
       run's checkpointer has committed state (resume wins — it is the
       same run's newer iterate).
    """
    spark = graph.edges.sparkSession
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")
    if iters_per_action < 1:
        raise ValueError("iters_per_action must be >= 1")

    edges = graph.edges  # (src_id, dst_id, weight) persisted, hashed by src_id

    # The statics below and x0 are pinned hash(id, P), P = graph.partitions
    # (the edge table's partition count), so every shuffle that reads them
    # runs P map tasks. What else the pin buys depends on AQE. With AQE off,
    # plain localCheckpoint carries hash(id, P) into its LogicalRDD and a
    # join of two pins at P needs no exchange. With AQE on (get_spark's
    # default) the checkpoint carries no partitioning, and the executed plans
    # of one iteration (Spark 4.1) hold 7 shuffle exchanges: the SpMV join
    # shuffles the iterate to the edges' partitioning; the contribution
    # aggregate and the teleport join shuffle at the session's shuffle
    # partitions (AQE coalesces them); the residual action shuffles both
    # iterates and the dangling set, then sums. tests/test_pagerank_spark.py
    # holds that count as a bound.
    # The DF loop can safely keep plain localCheckpoint stats: its plans
    # have Aggregate barriers, which clamp the inherited-sizeInBytes
    # squaring that forces the CSR kernel to cut_lineage (lineage.py doc).
    parts = graph.partitions

    def _pin(df: DataFrame) -> DataFrame:
        return df.repartition(parts, "id").localCheckpoint(eager=False)

    if v is None:
        v_df = graph.vertices.select(
            "id", F.lit(1.0 / n).cast("double").alias("v")
        )
    else:
        v_df = v.select("id", F.col("v").cast("double"))
    v_df = _pin(_l2_normalize(v_df, "v"))

    dangling = _pin(dangling_vertices(graph))

    start_iter = 0
    x = None
    if checkpointer is not None:
        resumed = checkpointer.resume(spark)
        if resumed is not None:
            x, start_iter = resumed
            x = _pin(x)
    if x is None and x0 is not None:
        # mass-matched warm start (see mass_matched_x0): mv = L1 mass of
        # the L2-normalized teleport vector actually used this run
        mv = float(v_df.agg(F.sum("v")).collect()[0][0])
        x = _pin(mass_matched_x0(graph, x0, mv, alpha, 1.0 / math.sqrt(n)))
    if x is None:
        x = _pin(
            graph.vertices.select(
                "id", F.lit(1.0 / math.sqrt(n)).cast("double").alias("x")
            )
        )

    residuals: list[float] = []
    metrics: list[IterationMetrics] = []
    converged = False
    it = start_iter

    # dangling mass of the CURRENT iterate, carried across iterations so no
    # separate beta subplan/job runs inside the loop: iteration t's single
    # action computes both the residual and sum(x_{t+1} over dangling) for
    # the next beta (the CSR kernel uses the same trick)
    dang_mass = float(
        x.join(dangling.hint("shuffle_hash"), "id", "left_semi")
        .agg(F.coalesce(F.sum("x"), F.lit(0.0)))
        .collect()[0][0]
    )

    done = start_iter
    while done < max_iterations and not converged:
        t0 = time.monotonic()
        batch = min(iters_per_action, max_iterations - done)
        xx = x
        prev = x
        for sub in range(batch):
            # contribs[t] = sum_s w(s,t) * x[s]  — P^T x. SHUFFLE_HASH on
            # the rank side: edges stay put (pre-hashed by src_id), the
            # O(V) iterate shuffles + hash-builds per partition in parallel
            # (never broadcast — see module doc).
            xh = xx.hint("shuffle_hash")
            joined = edges.join(xh, edges.src_id == xh.id).select(
                "dst_id", (F.col("weight") * F.col("x")).alias("wx")
            )
            if salt_partitions:
                # salt derived from the *source* side so one hot dst_id fans
                # out across `salt_partitions` partial-agg keys first
                partial = joined.withColumn(
                    "_salt", F.pmod(F.spark_partition_id(), F.lit(salt_partitions))
                ).groupBy("dst_id", "_salt").agg(F.sum("wx").alias("wx"))
                contribs = partial.groupBy("dst_id").agg(F.sum("wx").alias("contrib"))
            else:
                contribs = joined.groupBy("dst_id").agg(F.sum("wx").alias("contrib"))

            if sub == 0:
                # β from the dangling mass the previous action computed
                base = v_df
                beta_col = F.lit(alpha * dang_mass + (1.0 - alpha))
            else:
                # inner steps of a fused batch: β stays JVM-side — 1-row
                # dangling-mass aggregate broadcast-crossed into the iterate
                dm = xx.join(
                    dangling.hint("shuffle_hash"), "id", "left_semi"
                ).agg(F.coalesce(F.sum("x"), F.lit(0.0)).alias("_dm"))
                base = v_df.crossJoin(F.broadcast(dm))
                beta_col = F.lit(alpha) * F.col("_dm") + F.lit(1.0 - alpha)

            prev = xx
            contribs = contribs.hint("shuffle_hash")
            xx = (
                base.join(contribs, base["id"] == contribs["dst_id"], "left")
                .select(
                    base["id"].alias("id"),
                    (
                        beta_col * F.col("v")
                        + F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    ).alias("x"),
                )
                # plain checkpoint: cuts the lineage; the next SpMV and
                # residual joins re-shuffle the iterate under AQE (see the
                # pins above). Lazy on purpose (round-4 probe):
                # fused PR batches do NOT recompute the iterate (task counts
                # identical lazy vs eager), and eager intermediate jobs only
                # serialize the batch
                .localCheckpoint(eager=False)
            )

        # the one action per batch: residual (between the batch's last two
        # iterates — reference stop semantics at batch granularity) + the
        # next batch's dangling mass in one pass; materializes the
        # checkpoints of every fused step too
        row = (
            xx.alias("new")
            .join(prev.hint("shuffle_hash").alias("old"), "id")
            .join(
                dangling.withColumn("_dang", F.lit(1)).hint("shuffle_hash"),
                "id",
                "left",
            )
            .agg(
                F.sqrt(
                    F.sum(
                        (F.col("new.x") - F.col("old.x"))
                        * (F.col("new.x") - F.col("old.x"))
                    )
                ).alias("r"),
                F.coalesce(
                    F.sum(F.when(F.col("_dang") == 1, F.col("new.x"))),
                    F.lit(0.0),
                ).alias("dm"),
            )
            .collect()[0]
        )
        residual, dang_mass = float(row["r"]), float(row["dm"])
        x = xx
        done += batch
        it = done - 1

        wall_ms = (time.monotonic() - t0) * 1000.0
        residuals.append(residual)
        metrics.append(IterationMetrics(it, residual, wall_ms / batch))
        if verbose:
            print(f"i={it} residual={residual}")

        if checkpointer is not None and (
            done % checkpoint_every == 0 or residual < epsilon
        ):
            checkpointer.write(
                x.withColumnRenamed("x", "rank"),
                iteration=done,
                meta={"residual": residual, "alpha": alpha, "wall_ms": wall_ms},
            )

        if residual < epsilon:
            converged = True

    ranks = x.withColumnRenamed("x", "rank")
    return PageRankResult(
        ranks=ranks,
        iterations=done,
        converged=converged,
        residuals=residuals,
        metrics=metrics,
    )
