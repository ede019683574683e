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

K personalization vectors (``pagerank_batch``; topic-sensitive PageRank,
Haveliwala 2002, keeps one ranking per topic, TrustRank one per seed set)
run through the same loop: the state table carries one ``v_<k>`` and one
``x_<k>`` column per vector, so each iteration is still ONE edges⋈state
join and ONE ``groupBy("id")`` with K sums, and the per-iteration action
returns K residuals and K dangling masses. The edge scan, which dominates
an iteration, is shared instead of repeated K times; the shuffle carries
O(V·K) doubles. ``pagerank`` is the K = 1 call, so column k equals a lone
``pagerank(v=v_k)`` run up to float64 addition order. The ε-stop fires when
the LARGEST residual is below ε: a fast-converging column runs extra
rounds and ends closer to its fixed point than its lone run, never less.
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

    The prologue of :func:`_power_method` calls it with the m0/d0 it
    aggregates from the state table.
    """
    denom = m0 - alpha * d0 * (mv - 1.0) / (1.0 - alpha)
    if denom > 0 and math.isfinite(denom) and mv > 0:
        return mv / denom
    return 1.0


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
    x, done, converged, residuals, metrics = _power_method(
        graph,
        {"": v},
        alpha,
        max_iterations,
        epsilon,
        verbose,
        salt_partitions=salt_partitions,
        checkpointer=checkpointer,
        checkpoint_every=checkpoint_every,
        x0=x0,
    )
    return PageRankResult(
        ranks=x.select("id", F.col("x_0").alias("rank")),
        iterations=done,
        converged=converged,
        residuals=residuals[0],
        metrics=metrics,
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
    ``rank_<key>``. Column k after T iterations equals a lone
    ``pagerank(v=vs[k], max_iterations=T)``; the run stops when every
    column's residual is below ε.
    """
    if not vs:
        raise ValueError("vs must contain at least one personalization vector")
    keys = list(vs)
    for k in keys:
        if not k.isidentifier():
            raise ValueError(f"key {k!r} is not a valid column-name suffix")
    x, done, converged, residuals, metrics = _power_method(
        graph, vs, alpha, max_iterations, epsilon, verbose
    )
    return BatchPageRankResult(
        ranks=x.select(
            "id", *[F.col(f"x_{i}").alias(f"rank_{k}") for i, k in enumerate(keys)]
        ),
        keys=keys,
        iterations=done,
        converged=converged,
        residuals=dict(zip(keys, residuals)),
        metrics=metrics,
    )


def _power_method(
    graph: GraphTables,
    vs: dict[str, DataFrame | None],
    alpha: float,
    max_iterations: int,
    epsilon: float,
    verbose: bool,
    salt_partitions: int | None = None,
    checkpointer=None,
    checkpoint_every: int = 10,
    x0: DataFrame | None = None,
) -> tuple[DataFrame, int, bool, list[list[float]], list[IterationMetrics]]:
    """The one power-method loop: column i of the state table is the
    iterate for the i-th vector of ``vs`` (None: uniform). Returns the final
    state (id, v_i, dang, x_i, xp_i), the iteration count, whether the
    largest residual fell below ε, per-column residuals and per-iteration
    metrics. ``x0`` and ``checkpointer`` hold one column's state, so only a
    single vector may use them."""
    spark = graph.edges.sparkSession
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")

    edges = graph.edges  # (src_id, dst_id, weight) persisted, hashed by src_id
    cols = range(len(vs))
    names = [
        f"personalization vector {k!r}" if k else "personalization vector"
        for k in vs
    ]

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
    # an iteration multiplies the state's inherited sizeInBytes by the edge
    # table's, never by a second copy of the state, so its bit-length grows
    # linearly instead of doubling (lineage.py doc).
    rows = graph.vertices.select(
        "id",
        F.lit(True).alias("g"),
        *[
            F.lit(1.0 / n if v is None else None).cast("double").alias(f"v_{i}")
            for i, v in zip(cols, vs.values())
        ],
        F.lit(None).cast("boolean").alias("out"),
        *[F.lit(None).cast("double").alias(f"x_{i}") for i in cols],
    ).unionByName(
        edges.select(F.col("src_id").alias("id"))
        .distinct()
        .withColumn("out", F.lit(True)),
        allowMissingColumns=True,
    )
    inputs = [(v, "v", f"v_{i}") for i, v in zip(cols, vs.values())]
    for df, col, name in inputs + [(x_in, "x", "x_0")]:
        if df is not None:
            rows = rows.unionByName(
                df.select("id", F.col(col).cast("double").alias(name)),
                allowMissingColumns=True,
            )
    pinned = (
        rows.repartition(graph.partitions, "id")
        .groupBy("id")
        .agg(
            F.max("g").alias("g"),
            *[F.sum(f"v_{i}").alias(f"v_{i}") for i in cols],
            F.max("out").alias("out"),
            *[F.max(f"x_{i}").alias(f"x_{i}") for i in cols],
        )
        .localCheckpoint(eager=False)
    )

    in_graph = F.col("g").isNotNull()
    x_start = [F.coalesce(F.col(f"x_{i}"), F.lit(1.0 / math.sqrt(n))) for i in cols]
    row = pinned.agg(
        *[
            agg.alias(f"{name}_{i}")
            for i in cols
            for name, agg in (
                ("vv", F.sum(F.when(in_graph, F.col(f"v_{i}") * F.col(f"v_{i}")))),
                ("vs", F.sum(F.when(in_graph, F.col(f"v_{i}")))),
                ("m0", F.sum(F.when(in_graph, x_start[i]))),
                ("d0", F.sum(F.when(in_graph & F.col("out").isNull(), x_start[i]))),
                ("outside", F.count(
                    F.when(~in_graph & F.col(f"v_{i}").isNotNull(), 1)
                )),
            )
        ]
    ).collect()[0]
    norms, scales, dang_mass = [], [], []
    for i in cols:
        if row[f"outside_{i}"]:
            raise ValueError(f"{names[i]} has {row[f'outside_{i}']} ids "
                             "outside the graph")
        norm = math.sqrt(row[f"vv_{i}"] or 0.0)
        if not norm > 0.0:
            raise ValueError(f"{names[i]} has zero norm")
        d0 = row[f"d0_{i}"] or 0.0
        s = 1.0
        if warm:
            s = warm_scale(row[f"m0_{i}"], d0, row[f"vs_{i}"] / norm, alpha)
        norms.append(norm)
        scales.append(s)
        # dangling mass of the current iterate, carried across iterations so
        # no separate β job runs inside the loop: each iteration's action
        # returns the next one
        dang_mass.append(s * d0)
    vcols = [f"v_{i}" for i in cols]
    xcols = [f"x_{i}" for i in cols]
    x = pinned.where("g").select(
        "id",
        *[F.coalesce(F.col(f"v_{i}"), F.lit(0.0)).alias(f"v_{i}") for i in cols],
        F.col("out").isNull().alias("dang"),
        *[(x_start[i] * F.lit(scales[i])).alias(f"x_{i}") for i in cols],
    )

    residuals: list[list[float]] = [[] for _ in cols]
    metrics: list[IterationMetrics] = []
    converged = False

    done = start_iter
    while done < max_iterations and not converged:
        t0 = time.monotonic()
        # P^T x: SHUFFLE_HASH on the iterate — edges stay put (hashed by
        # src_id), the O(V·K) iterate shuffles + hash-builds per partition
        # (never broadcast — see module doc)
        xh = x.select("id", *xcols).hint("shuffle_hash")
        contribs = edges.join(xh, edges.src_id == xh.id).select(
            F.col("dst_id").alias("id"),
            *[(F.col("weight") * F.col(f"x_{i}")).alias(f"wx_{i}") for i in cols],
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
                .agg(*[F.sum(f"wx_{i}").alias(f"wx_{i}") for i in cols])
                .drop("_salt")
            )
        step = (
            contribs.unionByName(
                x.select("id", *vcols, "dang", *xcols), allowMissingColumns=True
            )
            .groupBy("id")
            .agg(
                *[F.sum(f"wx_{i}").alias(f"c_{i}") for i in cols],
                *[F.max(f"v_{i}").alias(f"v_{i}") for i in cols],
                F.max("dang").alias("dang"),
                *[F.max(f"x_{i}").alias(f"xp_{i}") for i in cols],
            )
        )
        # β from the dangling mass the previous action computed
        betas = [alpha * dm + (1.0 - alpha) for dm in dang_mass]
        x = step.select(
            "id",
            *vcols,
            "dang",
            *[
                (
                    F.lit(betas[i]) * (F.col(f"v_{i}") / F.lit(norms[i]))
                    + F.lit(alpha) * F.coalesce(F.col(f"c_{i}"), F.lit(0.0))
                ).alias(f"x_{i}")
                for i in cols
            ],
            *[f"xp_{i}" for i in cols],
        ).localCheckpoint(eager=False)

        # the one action per iteration: per-column residual + the next
        # iteration's dangling masses; it also materializes the checkpoint
        row = x.agg(
            *[
                F.sqrt(
                    F.sum(
                        (F.col(f"x_{i}") - F.col(f"xp_{i}"))
                        * (F.col(f"x_{i}") - F.col(f"xp_{i}"))
                    )
                ).alias(f"r_{i}")
                for i in cols
            ],
            *[
                F.coalesce(
                    F.sum(F.when(F.col("dang"), F.col(f"x_{i}"))), F.lit(0.0)
                ).alias(f"dm_{i}")
                for i in cols
            ],
        ).collect()[0]
        for i in cols:
            residuals[i].append(float(row[f"r_{i}"]))
        dang_mass = [float(row[f"dm_{i}"]) for i in cols]
        residual = max(r[-1] for r in residuals)
        done += 1

        wall_ms = (time.monotonic() - t0) * 1000.0
        metrics.append(IterationMetrics(done - 1, residual, wall_ms))
        if verbose:
            print(f"i={done - 1} residual={residual}")

        if checkpointer is not None and (
            done % checkpoint_every == 0 or residual < epsilon
        ):
            checkpointer.write(
                x.select("id", F.col("x_0").alias("rank")),
                iteration=done,
                meta={"residual": residual, "alpha": alpha, "wall_ms": wall_ms},
            )

        if residual < epsilon:
            converged = True

    return x, done, converged, residuals, metrics
