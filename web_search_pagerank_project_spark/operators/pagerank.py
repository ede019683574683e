"""Damped power-iteration PageRank as DataFrame joins/aggregations.

Exact numeric semantics of the reference power method
(/root/reference/ws_pagerank.py:121-178; SURVEY.md §1.3), in float64:

    v    = v / ||v||_2                  (input v is L1-normalized upstream)
    x0   = ones(n) / sqrt(n)
    a[i] = 1  iff outdeg(i) == 0        (dangling)
    loop: beta = alpha * (x . a) + (1 - alpha)
          x    = beta * v + alpha * P^T x
          stop when ||x - x_prev||_2 < epsilon

The iterate is intentionally NOT re-normalized (the reference never does), so
the fixed point is a scaled PageRank vector; tests compare per-url against the
float64 NumPy oracle (tests/oracle.py) at atol=1e-6.

Execution design (SURVEY.md §4.3) — cost is fixed per stage and per job, so
the plan keeps one state table and one action per iteration:

  * The prologue builds one state table (id, v, dang, x) with a single
    ``unionByName`` + ``groupBy("id")`` over the vertices, the edge sources
    (has-out-edge flag), the teleport vector and the starting iterate (x0 or
    the checkpointer's resumed state), pins it hash(id, P) at
    ``graph.partitions`` and runs ONE aggregate action: Σv², Σv, the start
    mass m0 and dangling mass d0 (plus a count of teleport ids outside the
    graph, which are rejected). The L2 norm of v, its L1 mass mv, the
    warm-start scale (:func:`warm_scale`) and the first β are literals.
  * The edge table is persisted hashed by ``src_id`` (graph_build), so the
    SpMV join re-shuffles only (id, x), never the edges. Its SHUFFLE_HASH
    hint keeps the O(V) iterate from being broadcast: a broadcast relation is
    built serially on the driver and grows with V (measured: weak scaling
    0.54; at web scale V ~ 10^10 rows cannot be broadcast at all).
  * The join's (dst_id, wx) rows and the state rows meet in one
    ``groupBy("id")``: its sum is P^T x, and v, dang and the previous x ride
    through it, so the new iterate is computed beside everything the residual
    needs — no teleport join, no dangling join, no residual join. Vertices
    absent from a sparse v carry v = 0 and are never dropped.
  * The one action per iteration is a plain global aggregate over the new
    checkpoint: the residual and the next β's dangling mass. Under AQE an
    iteration runs 3 shuffle exchanges (iterate to the edges' partitioning,
    the union into the groupBy, the global sum); tests/test_pagerank_spark.py
    pins that count.
  * ``localCheckpoint`` every iteration truncates both RDD lineage and the
    logical plan, keeping Catalyst analysis O(1) per iteration instead of
    O(iteration depth) (iterative-lineage blowup, SURVEY.md §7.3).
  * Hub skew in the contribution sum is handled map-side by partial
    aggregation plus AQE; an explicit salted two-phase variant is available
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

from .graph_build import GraphTables


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


def warm_scale(m0: float, d0: float, mv: float, alpha: float) -> float:
    """Factor that rescales a warm-start iterate to the power iteration's
    invariant L1 mass (1.0 when the estimate is degenerate).

    m0, d0: L1 mass and dangling mass of the unscaled warm iterate; mv: L1
    mass of the L2-NORMALIZED teleport vector. The reference's cold init is
    mass-matched by construction (uniform q: mass(x0) = mass(v) = sqrt(n)),
    so its error has no component along the slowest mode — the mass
    functional, which the affine map shrinks by exactly alpha per step. An
    unscaled previous-snapshot vector carries an O(Δn) mass mismatch, and
    without this correction that single slow mode dominates (measured on a
    40→42-vertex update: 109 warm iterations to 30 cold; 29 with it).
    Fixed-point mass m* = mv + alpha·δ*(mv−1)/(1−alpha) with δ* the dangling
    mass; estimating δ* ≈ s·δ0 and solving for s gives
    s = mv / (m0 − alpha·δ0·(mv−1)/(1−alpha)).

    Both kernels call it (pagerank's prologue, pagerank_csr through
    :func:`mass_matched_x0`), so their warm paths are numerically identical.
    """
    denom = m0 - alpha * d0 * (mv - 1.0) / (1.0 - alpha)
    if denom > 0 and math.isfinite(denom) and mv > 0:
        return mv / denom
    return 1.0


def mass_matched_x0(
    graph: GraphTables,
    x0: DataFrame,
    mv: float,
    alpha: float,
    fill: float,
) -> DataFrame:
    """Dense warm-start iterate (id, x) from a previous snapshot's vector:
    vertices missing from ``x0`` (urls new in this snapshot) start at the
    cold value ``fill``, then the whole vector is scaled by
    :func:`warm_scale`. Used by pagerank_csr; pagerank computes the same
    m0/d0 in its state-table prologue."""
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
    # d0 = Σx over rows with no has-out-edge probe hit. The probe comes from
    # the EDGE table: a vertices-derived dangling set shares x's exprIds, and
    # the self-join dedup then fails ("conflicting references") under hints.
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
    s = warm_scale(float(row0["m0"]), float(row0["d0"]), mv, alpha)
    return x.select("id", (F.col("x") * F.lit(s)).alias("x"))


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
       routine applies the reference's L2 re-normalization (ws:139). It need
       not be dense: vertices it leaves out get v = 0. Ids outside the graph
       raise ValueError.
    salt_partitions: if set, use explicit two-phase salted aggregation for
       the contribution sum (groupBy(dst_id, salt) partial -> groupBy(dst_id)
       final) to break extreme hub keys across reducers.
    checkpointer: optional operators.checkpoint.IterationCheckpointer for
       durable per-iteration state + lineage (resume supported).
    iters_per_action: fuse this many power steps into one Spark action.
       Inner steps compute β JVM-side (1-row dangling aggregate broadcast
       into the iterate); numerics are identical, but the ε-stop (and
       residual reporting) happens once per batch — keep the default 1 when
       reference iteration-count parity matters.
    x0: optional warm-start iterate (id, rank|x) — typically the previous
       snapshot's converged ranks after operators.incremental.update_graph,
       or a checkpointer.resume() state from a DIFFERENT run. Ids outside the
       graph are ignored; vertices missing from x0 (e.g. urls new in this
       snapshot) start at the cold value 1/sqrt(n), and the vector is then
       mass-matched (:func:`warm_scale`). The iteration is an affine
       contraction with a unique fixed point, so warm and cold starts
       converge to identical scores; warm-starting only shortens the path.
       Ignored when THIS run's checkpointer has committed state (resume wins
       — it is the same run's newer iterate, and enters unscaled).
    """
    spark = graph.edges.sparkSession
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")
    if iters_per_action < 1:
        raise ValueError("iters_per_action must be >= 1")

    edges = graph.edges  # (src_id, dst_id, weight) persisted, hashed by src_id

    x_in, start_iter, warm = None, 0, False
    if checkpointer is not None:
        resumed = checkpointer.resume(spark)
        if resumed is not None:
            x_in, start_iter = resumed
    if x_in is None and x0 is not None:
        xcol = "rank" if "rank" in x0.columns else "x"
        x_in, warm = x0.select("id", F.col(xcol).alias("x")), True

    # The state table: one row per id of any input, pinned hash(id, P) at
    # P = graph.partitions. Edge sources are made distinct inside the edge
    # table's src_id partitions, so the pin's one exchange moves O(V) rows.
    # Under AQE (get_spark's default) no checkpoint carries partitioning, so
    # each iteration re-shuffles the state. Plain localCheckpoint is safe:
    # the loop's Aggregate barriers clamp the inherited-sizeInBytes squaring
    # that forces the CSR kernel to cut_lineage (lineage.py doc).
    rows = graph.vertices.select(
        "id",
        F.lit(True).alias("g"),
        F.lit(1.0 / n if v is None else None).cast("double").alias("v"),
        F.lit(None).cast("boolean").alias("out"),
        F.lit(None).cast("double").alias("x"),
    ).unionByName(
        edges.select(F.col("src_id").alias("id"))
        .distinct()
        .withColumn("out", F.lit(True)),
        allowMissingColumns=True,
    )
    for extra, col in ((v, "v"), (x_in, "x")):
        if extra is not None:
            rows = rows.unionByName(
                extra.select("id", F.col(col).cast("double")),
                allowMissingColumns=True,
            )
    pinned = (
        rows.repartition(graph.partitions, "id")
        .groupBy("id")
        .agg(
            F.max("g").alias("g"),
            F.sum("v").alias("v"),
            F.max("out").alias("out"),
            F.max("x").alias("x"),
        )
        .localCheckpoint(eager=False)
    )

    in_graph = F.col("g").isNotNull()
    x_start = F.coalesce(F.col("x"), F.lit(1.0 / math.sqrt(n)))
    row = pinned.agg(
        F.sum(F.when(in_graph, F.col("v") * F.col("v"))).alias("vv"),
        F.sum(F.when(in_graph, F.col("v"))).alias("vs"),
        F.sum(F.when(in_graph, x_start)).alias("m0"),
        F.sum(F.when(in_graph & F.col("out").isNull(), x_start)).alias("d0"),
        F.count(F.when(~in_graph & F.col("v").isNotNull(), 1)).alias("outside"),
    ).collect()[0]
    if row["outside"]:
        raise ValueError(f"personalization vector has {row['outside']} ids "
                         "outside the graph")
    norm = math.sqrt(row["vv"] or 0.0)
    if not norm > 0.0:
        raise ValueError("personalization vector has zero norm")
    d0 = row["d0"] or 0.0
    s = warm_scale(row["m0"], d0, row["vs"] / norm, alpha) if warm else 1.0
    # dangling mass of the current iterate, carried across iterations so no
    # separate β job runs inside the loop: each iteration's action returns
    # the next one
    dang_mass = s * d0
    x = pinned.where("g").select(
        "id",
        F.coalesce(F.col("v"), F.lit(0.0)).alias("v"),
        F.col("out").isNull().alias("dang"),
        (x_start * F.lit(s)).alias("x"),
    )

    dang_sum = F.coalesce(F.sum(F.when(F.col("dang"), F.col("x"))), F.lit(0.0))
    residuals: list[float] = []
    metrics: list[IterationMetrics] = []
    converged = False

    done = start_iter
    while done < max_iterations and not converged:
        t0 = time.monotonic()
        batch = min(iters_per_action, max_iterations - done)
        for sub in range(batch):
            # P^T x: SHUFFLE_HASH on the iterate — edges stay put (hashed by
            # src_id), the O(V) iterate shuffles + hash-builds per partition
            # (never broadcast — see module doc)
            xh = x.select("id", "x").hint("shuffle_hash")
            contribs = edges.join(xh, edges.src_id == xh.id).select(
                F.col("dst_id").alias("id"),
                (F.col("weight") * F.col("x")).alias("wx"),
            )
            if salt_partitions:
                # salt derived from the *source* side so one hot dst_id fans
                # out across `salt_partitions` partial-agg keys first
                contribs = (
                    contribs.withColumn(
                        "_salt",
                        F.pmod(F.spark_partition_id(), F.lit(salt_partitions)),
                    )
                    .groupBy("id", "_salt")
                    .agg(F.sum("wx").alias("wx"))
                    .drop("_salt")
                )
            step = (
                contribs.unionByName(
                    x.select("id", "v", "dang", "x"), allowMissingColumns=True
                )
                .groupBy("id")
                .agg(
                    F.sum("wx").alias("c"),
                    F.max("v").alias("v"),
                    F.max("dang").alias("dang"),
                    F.max("x").alias("xp"),
                )
            )
            if sub == 0:
                # β from the dangling mass the previous action computed
                beta_col = F.lit(alpha * dang_mass + (1.0 - alpha))
            else:
                # inner steps of a fused batch: β stays JVM-side — 1-row
                # dangling-mass aggregate broadcast-crossed into the iterate
                step = step.crossJoin(F.broadcast(x.agg(dang_sum.alias("_dm"))))
                beta_col = F.lit(alpha) * F.col("_dm") + F.lit(1.0 - alpha)
            x = step.select(
                "id",
                "v",
                "dang",
                (
                    beta_col * (F.col("v") / F.lit(norm))
                    + F.lit(alpha) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("x"),
                "xp",
            ).localCheckpoint(eager=False)
            # lazy on purpose: fused batches do not recompute the iterate, and
            # eager intermediate jobs would only serialize the batch

        # the one action per batch: residual (between the batch's last two
        # iterates — reference stop semantics at batch granularity) + the
        # next batch's dangling mass; materializes every fused checkpoint
        row = x.agg(
            F.sqrt(
                F.sum((F.col("x") - F.col("xp")) * (F.col("x") - F.col("xp")))
            ).alias("r"),
            dang_sum.alias("dm"),
        ).collect()[0]
        residual, dang_mass = float(row["r"]), float(row["dm"])
        done += batch

        wall_ms = (time.monotonic() - t0) * 1000.0
        residuals.append(residual)
        metrics.append(IterationMetrics(done - 1, residual, wall_ms / batch))
        if verbose:
            print(f"i={done - 1} residual={residual}")

        if checkpointer is not None and (
            done % checkpoint_every == 0 or residual < epsilon
        ):
            checkpointer.write(
                x.select("id", F.col("x").alias("rank")),
                iteration=done,
                meta={"residual": residual, "alpha": alpha, "wall_ms": wall_ms},
            )

        if residual < epsilon:
            converged = True

    return PageRankResult(
        ranks=x.select("id", F.col("x").alias("rank")),
        iterations=done,
        converged=converged,
        residuals=residuals,
        metrics=metrics,
    )
