"""Approximate neighborhood function / effective diameter (HyperBall).

Round-4 breadth: the neighborhood function N(t) = |{(v, u) : dist(v, u)
<= t}| and the effective diameter derived from it are THE classic
web-graph measurements (Broder et al. 2000's bow-tie paper reports them;
Boldi-Vigna's HyperBall, "In-Core Computation of Geometric Centralities
with HyperBall", 2013, is the canonical algorithm: one HyperLogLog
counter per vertex, per round each counter absorbs its successors'
counters by register-wise max, N(t) = sum of per-vertex HLL estimates).

Spark-first shape (no Python in the loop):
  * the m HLL registers per vertex are m tinyint COLUMNS r0..r{m-1}, so
    one round is edges JOIN regs ON dst -> groupBy(src) with m MAX
    aggregates (map-side partial combine), then a register-wise GREATEST
    against the vertex's own row — all Catalyst built-ins inside
    whole-stage codegen. Per-round shuffle volume is one (id, m bytes)
    row per vertex, never edges.
  * rounds run until the registers reach their fixed point, detected with
    ONE scalar per round (the monotone register sum — registers only grow,
    and one unchanged round proves global convergence since the round map
    is deterministic on the state).
  * per-round state sits behind eager cut_lineage checkpoints — the
    round plan references the previous registers TWICE (regs' = regs x
    nbr(regs)), so a plain localCheckpoint lets the join-size-product
    statistic square per round and overflow at scale
    (operators/lineage.py has the full pathology).

Determinism / oracle parity: the vertex hash is a pure-integer LCG
(((id % 2^31) * 1103515245 + 12345) % 2^31 — overflow-free in int64 for
ANY id) and the register rank is the lowest-set-bit position of the
hash's upper bits — both expressible verbatim in ANSI SQL, so a DuckDB
oracle can replay the EXACT estimate, registers and all (the per-vertex
2^-r sums are dyadic rationals representable exactly in float64, so both
engines compute bit-identical per-vertex estimates). Production swaps the
LCG for xxhash64 via ``hash_col`` without touching the kernel.

At 10^12 vertices: m=16 registers is 16 bytes of state per vertex
(HyperBall's own design point); the round is one self-partitioned join +
one aggregation, and the register table can be bucketed by id alongside
the edge table so only the aggregation shuffles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables
from .lineage import cut_lineage

__all__ = [
    "lcg_hash",
    "hll_init_registers",
    "neighborhood_function",
    "hyperball_centralities",
    "effective_diameter",
]

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31
# Sentinel rank assigned when the post-index hash bits are all zero (rest==0
# leaves no lowest-set-bit to read). Computed ranks from nonzero rest can
# legitimately reach 1 + (31 - log2(m)) — e.g. 27 for m=16 — this constant is
# NOT an upper bound on them, just the rest==0 stand-in, replayed verbatim by
# the SQL oracle.
_RANK_CAP = 25


def lcg_hash(id_col: Column) -> Column:
    """Portable 31-bit integer hash: overflow-free in int64 for any id,
    and writable verbatim in ANSI SQL (the oracle-parity property)."""
    return (F.pmod(id_col, F.lit(_LCG_M)) * _LCG_A + _LCG_C) % _LCG_M


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_init_registers(
    vertices: DataFrame, m: int = 16, hash_col=lcg_hash
) -> DataFrame:
    """(id, r0..r{m-1} int): the HLL register vector of the singleton set
    {v}. Register index = hash % m; rank = 1 + lowest-set-bit position of
    hash // m (the Flajolet-Martin rho), capped for the hash width."""
    if m & (m - 1) or m < 2:
        raise ValueError(f"m must be a power of two >= 2, got {m}")
    h = hash_col(F.col("id"))
    j = F.pmod(h, F.lit(m))
    rest = (h / m).cast("long")  # floor division: h >= 0
    low = rest.bitwiseAND(-rest)  # lowest set bit (a power of two), 0 if rest=0
    rank = F.when(rest == 0, F.lit(_RANK_CAP)).otherwise(
        (F.round(F.log2(low)) + 1).cast("int")
    )
    cols = [
        F.when(j == jj, rank).otherwise(F.lit(0)).cast("int").alias(f"r{jj}")
        for jj in range(m)
    ]
    return vertices.select("id", *cols)


def _estimate(m: int) -> Column:
    """Per-row HLL cardinality estimate from registers r0..r{m-1}, with the
    standard small-range correction — written as one fixed-order
    expression so Spark and an oracle replaying the same arithmetic get
    bit-identical float64 results (the 2^-r sum is exact in float64)."""
    s = F.lit(0.0)
    zeros = F.lit(0)
    for jj in range(m):
        r = F.col(f"r{jj}")
        s = s + F.pow(F.lit(2.0), -r.cast("double"))
        zeros = zeros + F.when(r == 0, 1).otherwise(0)
    raw = F.lit(_alpha(m) * m * m) / s
    return F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)


def neighborhood_function(
    graph: GraphTables,
    m: int = 16,
    max_t: int = 256,
    hash_col=lcg_hash,
) -> DataFrame:
    """HyperBall: (t int, nf double) for t = 0 .. the registers' fixed
    point — nf(t) estimates |{(v, u) : directed dist(v, u) <= t}|.
    Deterministic given ``hash_col``; exact-replayable by the SQL oracle
    with the default LCG hash."""
    spark = graph.edges.sparkSession
    npart = graph.partitions
    rcols = [f"r{jj}" for jj in range(m)]

    # partitioned ONCE by the per-round join key (dst_id): the frontier
    # side shuffles O(V) rows per round while the edge arrays stay put —
    # partitioning by src_id here would re-shuffle the whole edge table
    # every round to meet the dst-keyed join
    edges = (
        graph.edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(npart, "dst_id")
        .persist()
    )
    regs = (
        hll_init_registers(graph.vertices, m, hash_col)
        .repartition(npart, "id")
        .localCheckpoint(eager=True)
    )

    nf0 = float(regs.select(F.sum(_estimate(m)).alias("nf")).collect()[0]["nf"])
    out = [(0, nf0)]
    # systolic HyperBall (Boldi-Vigna 2013 §4): only vertices whose
    # registers CHANGED last round are propagated. Exact, by the usual
    # monotone-frontier argument: an unchanged neighbor's registers were
    # already absorbed in the round it last changed, so re-sending them
    # is a no-op — register values per round are identical to the dense
    # sweep (the SQL oracle replays the dense form and still matches).
    frontier = regs
    for t in range(1, max_t + 1):
        nbr = (
            edges.join(
                frontier.withColumnRenamed("id", "dst_id").hint("shuffle_hash"),
                "dst_id",
            )
            .groupBy(F.col("src_id").alias("id"))
            .agg(*[F.max(c).alias(f"n_{c}") for c in rcols])
        )
        merged = (
            regs.join(nbr.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                *[
                    F.greatest(
                        F.col(c), F.coalesce(F.col(f"n_{c}"), F.lit(0))
                    ).alias(c)
                    for c in rcols
                ],
                # did any register grow? registers are monotone, so
                # "greater candidate exists" == "row changed this round"
                F.greatest(
                    *[
                        (F.coalesce(F.col(f"n_{c}"), F.lit(0)) > F.col(c)).cast(
                            "int"
                        )
                        for c in rcols
                    ]
                ).alias("chg"),
            )
            .transform(lambda df: cut_lineage(df, eager=True))
        )
        # one aggregate job yields the round's estimate AND the stop test
        row = merged.select(
            F.sum(_estimate(m)).alias("nf"), F.sum("chg").alias("nchg")
        ).collect()[0]
        if int(row["nchg"]) == 0:
            break  # fixed point: monotone registers + deterministic round map
        regs = merged.drop("chg")
        frontier = merged.filter(F.col("chg") == 1).drop("chg")
        out.append((t, float(row["nf"])))
    edges.unpersist()
    return spark.createDataFrame(out, "t int, nf double")


def hyperball_centralities(
    graph: GraphTables,
    m: int = 16,
    max_t: int = 256,
    hash_col=lcg_hash,
) -> DataFrame:
    """Approximate harmonic and closeness centrality from HyperBall counter
    deltas (Boldi-Vigna 2013 §3): maintaining one HLL counter per vertex
    over its IN-ball B⁻(v, t) = {u : dist(u, v) <= t}, both geometric
    centralities fall out of the per-round estimate deltas

        harmonic(v)  = Σ_t (|B⁻(v,t)| − |B⁻(v,t−1)|) / t
        closeness(v) = 1 / Σ_t t · (|B⁻(v,t)| − |B⁻(v,t−1)|)      (0 if no
                       vertex reaches v)

    with NO extra shuffles over the neighborhood-function loop: the two
    accumulators are two extra double columns updated in the same per-round
    projection. This is the 100-TB-shaped replacement for the exact
    all-sources ``operators.msbfs.harmonic_centrality`` default, whose
    O(V·E/64) wave schedule is test/small-graph-only — here the whole graph
    costs one register-table sweep per round of the (effective-)diameter
    rounds, with m tinyints + 3 doubles of state per vertex.

    In-balls mean counters flow ALONG edge direction (v absorbs its
    predecessors' counters), the mirror image of ``neighborhood_function``'s
    out-balls, so edges are partitioned once on src_id — the per-round join
    key on this orientation.

    Returns (id, harmonic double, closeness double), one row per vertex.
    Deterministic given ``hash_col``; with the default LCG hash the whole
    estimator (registers, deltas, divisions) is exactly replayable by the
    ANSI-SQL oracle, same technique as ``neighborhood_function``.
    """
    npart = graph.partitions
    rcols = [f"r{jj}" for jj in range(m)]

    edges = (
        graph.edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(npart, "src_id")
        .persist()
    )
    # state: registers + pe (previous round's own-ball estimate) + the two
    # centrality accumulators. pe starts at the singleton-ball estimate so
    # round 1's delta is |B⁻(v,1)| − |B⁻(v,0)| exactly.
    regs = (
        hll_init_registers(graph.vertices, m, hash_col)
        .withColumn("pe", _estimate(m))
        .withColumn("h", F.lit(0.0))
        .withColumn("sd", F.lit(0.0))
        .repartition(npart, "id")
        .localCheckpoint(eager=True)
    )

    # systolic frontier, same exactness argument as neighborhood_function:
    # an unchanged vertex's registers were absorbed the round it last
    # changed, so only changed rows need to propagate; unchanged vertices
    # see delta == 0.0 exactly (est is a deterministic function of the
    # registers), so the accumulators are untouched on quiet rounds.
    frontier = regs
    for t in range(1, max_t + 1):
        nbr = (
            edges.join(
                frontier.withColumnRenamed("id", "src_id")
                .select("src_id", *rcols)
                .hint("shuffle_hash"),
                "src_id",
            )
            .groupBy(F.col("dst_id").alias("id"))
            .agg(*[F.max(c).alias(f"n_{c}") for c in rcols])
        )
        merged = (
            regs.join(nbr.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                *[
                    F.greatest(
                        F.col(c), F.coalesce(F.col(f"n_{c}"), F.lit(0))
                    ).alias(c)
                    for c in rcols
                ],
                "pe",
                "h",
                "sd",
                F.greatest(
                    *[
                        (F.coalesce(F.col(f"n_{c}"), F.lit(0)) > F.col(c)).cast(
                            "int"
                        )
                        for c in rcols
                    ]
                ).alias("chg"),
            )
            .withColumn("est", _estimate(m))
            .select(
                "id",
                *rcols,
                F.col("est").alias("pe"),
                (F.col("h") + (F.col("est") - F.col("pe")) / F.lit(float(t))).alias(
                    "h"
                ),
                (F.col("sd") + (F.col("est") - F.col("pe")) * F.lit(float(t))).alias(
                    "sd"
                ),
                "chg",
            )
            .transform(lambda df: cut_lineage(df, eager=True))
        )
        nchg = int(
            merged.agg(F.sum("chg").alias("nchg")).collect()[0]["nchg"] or 0
        )
        regs = merged.drop("chg")
        if nchg == 0:
            break
        frontier = merged.filter(F.col("chg") == 1)
    edges.unpersist()
    return regs.select(
        "id",
        F.col("h").alias("harmonic"),
        F.when(F.col("sd") > 0.0, F.lit(1.0) / F.col("sd"))
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def effective_diameter(nf_rows: list[tuple[int, float]], fraction: float = 0.9) -> float:
    """Boldi-Vigna effective diameter: the (linearly interpolated) t at
    which N(t) reaches ``fraction`` of its final value. Driver-side over
    the collected (t, nf) rows — O(diameter) scalars."""
    rows = sorted(nf_rows)
    if not rows:
        raise ValueError("empty neighborhood function")
    target = fraction * rows[-1][1]
    prev_t, prev_nf = rows[0]
    if prev_nf >= target:
        return float(prev_t)
    for t, nf in rows[1:]:
        if nf >= target:
            if nf == prev_nf:
                return float(t)
            return prev_t + (target - prev_nf) / (nf - prev_nf) * (t - prev_t)
        prev_t, prev_nf = t, nf
    return float(rows[-1][0])
