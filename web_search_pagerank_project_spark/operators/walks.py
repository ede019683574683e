"""Deterministic weighted random-walk sampling over the link graph.

The missing input stage for graph-embedding training data (DeepWalk,
Perozzi et al. 2014; node2vec's p=q=1 case): sample fixed-length random
walks from every (or a chosen set of) vertex, following out-edges with
probability proportional to edge weight — the engine's weights are
mult/outdeg (graph_build), so a step is exactly the PageRank transition
kernel without teleport. The reference has no walk sampler (it ranks
only); this is training-data-pipeline surface, like dedup/ANN.

Spark-first, no per-row Python, and — unusual for a "random" operator —
exactly replayable by the SQL oracle:

  * per-source cumulative edge intervals [lo, hi) come from ONE running-sum
    window per src in dst_id order (the same hash(src) partitioning the
    edge table already has; both engines left-fold the running sum in the
    same ascending order, so interval bounds are bit-identical float64);
    the last interval's hi is forced to 2.0 so a Σweights = 1−ulp rounding
    artifact can never drop a walk;
  * each walk carries its own pure-integer LCG state as a column of the
    step state: seeded from walk_id, advanced once per step, and the step's
    uniform draw is state / M — overflow-free in int64 (products stay below
    2^62) and writable verbatim as a recursive SQL CTE. Consecutive draws of
    one walk are successive LCG outputs, not an arithmetic progression in
    step;
  * one step = state ⋈ cum-edges equi-join on the current vertex + an
    interval filter — map-side fan-out is the out-degree, the shuffle
    carries one (walk_id, vertex) row per LIVE walk per step (walks at
    dangling vertices terminate, the standard DeepWalk convention);
  * per-step state sits behind lineage cuts; steps accumulate lazily and
    union once at the end.

At 10^12 scale: walks-per-vertex × V rows of O(16 bytes) state, edges
static in their build partitioning; the walk corpus streams straight into
a skip-gram window generator (one groupBy(walk_id) + posexplode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph_build import GraphTables
from .lineage import cut_lineage

__all__ = ["random_walks", "skipgram_pairs"]

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


def _lcg_next(state_col):
    """One LCG step (state·A + C) mod M on a state in [0, M): the product
    stays below 2^62, so int64 never overflows."""
    return F.pmod(state_col * _LCG_A + _LCG_C, F.lit(_LCG_M))


def random_walks(
    graph: GraphTables,
    walk_length: int,
    walks_per_vertex: int = 1,
    start_vertices: DataFrame | None = None,
) -> DataFrame:
    """Sample ``walks_per_vertex`` weighted random walks of up to
    ``walk_length`` steps from every start vertex (default: all vertices).

    Returns (walk_id long, step int, id long): step 0 is the start vertex;
    a walk reaching a dangling vertex stops early (its later steps are
    absent). walk_id = start_id * walks_per_vertex + j, so the start
    vertex and walk index are recoverable arithmetically — and the whole
    output is a pure function of (graph, walk_length, walks_per_vertex).
    """
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if walks_per_vertex < 1:
        raise ValueError("walks_per_vertex must be >= 1")
    spark = graph.edges.sparkSession
    npart = graph.partitions

    # per-source cumulative intervals, one running-sum window in the edge
    # table's own hash(src) partitioning; ord desc rn==1 marks the LAST
    # interval whose hi is widened to 2.0 (Σ rounded weights may be 1-ulp)
    w_cum = (
        Window.partitionBy("src_id")
        .orderBy("dst_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rn = Window.partitionBy("src_id").orderBy(F.desc("dst_id"))
    cum = (
        graph.edges.select("src_id", "dst_id", "weight")
        .withColumn("hi0", F.sum("weight").over(w_cum))
        .withColumn("lo", F.col("hi0") - F.col("weight"))
        .withColumn(
            "hi",
            F.when(F.row_number().over(w_rn) == 1, F.lit(2.0)).otherwise(
                F.col("hi0")
            ),
        )
        .select("src_id", "dst_id", "lo", "hi")
        .repartition(npart, "src_id")
        .persist()
    )

    starts = (
        graph.vertices.select("id") if start_vertices is None else
        start_vertices.select("id")
    )
    if walks_per_vertex == 1:
        st = starts.select(
            (F.col("id") * walks_per_vertex).alias("walk_id"), "id"
        )
    else:
        idx = spark.range(walks_per_vertex).select(F.col("id").alias("_j"))
        st = starts.crossJoin(F.broadcast(idx)).select(
            (F.col("id") * walks_per_vertex + F.col("_j")).alias("walk_id"),
            "id",
        )
    # s: the walk's LCG state, seeded from walk_id; each step advances it
    # once and draws s / M
    state = cut_lineage(
        st.withColumn("s", _lcg_next(F.pmod(F.col("walk_id"), F.lit(_LCG_M)))),
        eager=True,
    )
    parts = [state.select("walk_id", F.lit(0).alias("step"), "id")]

    for step in range(1, walk_length + 1):
        r = F.col("s").cast("double") / F.lit(float(_LCG_M))
        nxt = (
            cum.join(
                state.withColumnRenamed("id", "src_id").hint("shuffle_hash"),
                "src_id",
            )
            .withColumn("s", _lcg_next(F.col("s")))
            .withColumn("_r", r)
            .filter((F.col("lo") <= F.col("_r")) & (F.col("_r") < F.col("hi")))
            .select("walk_id", F.col("dst_id").alias("id"), "s")
        )
        state = cut_lineage(nxt, eager=True)
        if state.isEmpty():
            break
        parts.append(state.select("walk_id", F.lit(step).alias("step"), "id"))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    result = out.localCheckpoint(eager=True)
    result.count()
    cum.unpersist()
    return result


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center long, context long, pairs long): skip-gram co-occurrence
    counts over a ``random_walks`` output — word2vec's training pairs with
    walks as sentences (DeepWalk §4.2). A pair is counted once per ordered
    (center position, context position) co-occurrence with
    0 < |Δstep| <= window, exactly the skip-gram window semantics.

    One self-equi-join on walk_id (map-side fan-out bounded by
    2·window + 1 positions per row) + one map-side-combined count
    aggregate; at corpus scale the output is the dense training set a
    skip-gram trainer consumes, already aggregated to multiplicities.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    a = walks.select(
        "walk_id", F.col("step").alias("s_a"), F.col("id").alias("center")
    )
    b = walks.select(
        F.col("walk_id").alias("walk_id_b"),
        F.col("step").alias("s_b"),
        F.col("id").alias("context"),
    )
    return (
        a.join(
            b,
            (a.walk_id == b.walk_id_b)
            & (F.abs(F.col("s_a") - F.col("s_b")) <= window)
            & (F.col("s_a") != F.col("s_b")),
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("pairs"))
    )
