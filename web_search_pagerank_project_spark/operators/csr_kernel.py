"""Per-partition CSR block kernel for iterative PageRank (north_star X3).

The pure-DataFrame power method (operators/pagerank.py) re-joins the edge
table with the rank vector every iteration — semantically clean, but each
iteration pays row-level join + aggregation machinery for what is, per
partition, a sparse-matrix-vector multiply. This module materializes the
static graph as **per-partition CSR blocks** (numpy arrays boxed in DataFrame
rows) once, then runs each iteration as vectorized numpy over Arrow-packed
batches:

  block layout (static, built once, cached; K = num_blocks):
    edges are hash-partitioned by ``src_id % K`` into K blocks. Each block
    row stores, for its local edge set, in DST-GROUPED segment order:
      src_pos   int32[nnz_b]   position of the edge's source in the block's
                               vertex array (dense ids => (src-block)//K)
      weight    float64[nnz_b]
      starts    int32[d_b]     segment boundary of each distinct dst's edge
                               run (per-dst sum = one np.add.reduceat; no
                               per-edge index array crosses Arrow)
      dst_pos   int32[d_b]     position of each distinct dst in its TARGET
                               block's vertex array ((dst-out_block)//K),
                               sorted by (out_block, dst) so contribution
                               slices bound for the same output block are
                               contiguous
      out_ptr   int32[K+1]     slice boundaries of dst_pos per output block
      k         int32          the block count the arrays were packed with
                               (validated against the kernel's K — a blocks
                               table built with a different K is rejected
                               instead of silently mis-routing)

  state layout (dynamic, K rows, lineage-cut per iteration):
    (block, xs: float64[n_b], v: float64[n_b] | null, dang_idx: int32[·],
     res_sq: double, dang_sum: double)
    Static per-block data (personalization slice, dangling positions) rides
    IN the state rows, so the loop needs NO per-iteration join against a
    vertex table and NO driver-side broadcast of the rank vector — the only
    per-iteration data movement is one hash exchange of the state rows
    (reused by both cogroups below) plus the packed contribution arrays.
    For uniform personalization (v is null) the constant 1/sqrt(n) is a
    closure scalar and the v arrays are not materialized at all.

  one iteration = two cogroups, ZERO driver participation:
    1. SpMV:    cogroup(blocks, state) by block — blocks are CACHED already
                hash-partitioned by block, so only the state side shuffles;
                per block, contrib = reduceat(w * x[src_pos], starts), cut
                into per-target-block slices (map-side combine: every
                (block, dst) contribution leaves the task already summed)
    2. shuffle: K² *array* rows (block_out, dst_pos, contribs, dang_part) —
                volume ≈ Σ_b d_b packed (int32, float64) pairs, never raw
                edges. Each source block also sends its local dangling mass
                Σ x[dangling-in-block] — ONE float64 — to every output
                block, so the global teleport scalar β is reconstructible
                block-locally: K scalars ride a shuffle that happens
                anyway, replacing the global aggregate + broadcast/driver
                round-trip that β normally costs an iteration.
    3. merge:   cogroup(state, partials) by output block (the state exchange
                is the SAME subtree as step 1's, so Spark reuses it):
                β = α·Σ dang_part + (1-α) (scalars sorted before summing
                for run-to-run float64 determinism), then
                x' = β·v + α·Σ contribs, plus the residual term and the
                next iteration's dang_part computed in the same pass.
    4. agg:     sqrt(sum(res_sq)) over K rows -> driver, once per ACTION —
                the only scalar that ever reaches the driver, and only for
                the ε-stop check.

  ``iters_per_action`` batches several power iterations into one action:
  sub-iterations chain through lazily lineage-cut state with no
  synchronization between them (β needs no global view — see step 2).
  Identical numerics — the convergence check just happens every
  ``iters_per_action`` steps, so at most ``iters_per_action - 1`` extra
  iterations run past convergence (callers that need exact reference
  iteration-count parity use the default of 1). This trades
  driver/stage-launch latency — the measured local-mode limiter,
  BENCH/BASELINE.md — for check granularity.

Numeric semantics are identical to operators/pagerank.py (reference
ws_pagerank.py:121-178, float64): L2-normalized v, x0 = 1/sqrt(n), no
re-normalization, L2 residual stop. Tests cross-check CSR vs DataFrame vs
the NumPy oracle at 1e-12-level agreement on small graphs.

Scale notes: K defaults to the graph's ``partitions``. At 10^12-edge
scale K grows with the cluster so each block's arrays stay ~100-500 MB
(nnz/K edges); block rows are Arrow-serialized, so executors never hold the
whole graph. A mega-hub dst collects at most one packed partial per block
(K rows total), which is exactly salted two-phase aggregation with salt =
source block — hub skew cannot concentrate on one reducer. The rank vector
is never broadcast and never touches the driver: state rows shuffle
peer-to-peer, so vertex state is sharded, not replicated.

On the K^2 dangling-scalar fan-out (step 2 sends every source block's
dang_part to every output block): an exact per-iteration beta fundamentally
needs either those K^2 scalars or an extra combine STAGE inside the
iteration — any tree combine requires an intermediate shuffle key, and the
iteration has exactly one shuffle, keyed by block_out. (A K^1.5 variant —
group-leader "carrier" rows piggybacked on the state exchange one
iteration early — stays within the stage budget but threads a second
lifecycle through state packing, checkpoint/resume and the first-iteration
path.) Measured before buying either (one-off probe, local[32]): marginal
cost over the fixed cogroup-stage floor is ~0.3 s/iter for K=512 (262k
rows) and ~168 ns/row at K=4096 (16.7M rows) — and the measurement
EXAGGERATES the kernel's exposure, because K=512 on the 2M-edge
probe graph is 256x below the ~3M-edges/block design point. Normalized to a
cluster at P=K=4096, the fan-out is 4,096 rows / 160 KiB per partition per
iteration against 100-500 MB block arrays: sub-millisecond, invisible. The
K^2 shape is kept deliberately; revisit only if K must exceed ~2^13.
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from .blockmap import balanced_block_keys
from .graph_build import GraphTables, dangling_vertices
from .lineage import cut_lineage
from .pagerank import IterationMetrics, PageRankResult, mass_matched_x0

_CSR_SCHEMA = StructType(
    [
        StructField("block", IntegerType()),
        # balanced shuffle key (operators/blockmap.py): cogroups group on
        # bkey — Murmur3 over raw block ids clumps (80 blocks / 16
        # partitions measured max-load 8 vs ideal 5 => 1.6x stage stretch)
        StructField("bkey", IntegerType()),
        # per-edge arrays, GROUPED BY DESTINATION (segment layout): the
        # per-dst sum is one np.add.reduceat over `starts` — no dst_inv
        # index array crosses the Arrow boundary (4 bytes/edge saved, and
        # the per-iteration volume is what the kernel pays for)
        StructField("src_pos", ArrayType(IntegerType())),
        StructField("weight", ArrayType(DoubleType())),
        StructField("starts", ArrayType(IntegerType())),
        StructField("dst_pos", ArrayType(IntegerType())),
        StructField("out_ptr", ArrayType(IntegerType())),
        StructField("k", IntegerType()),
    ]
)

_PARTIAL_SCHEMA = StructType(
    [
        StructField("bkey_out", IntegerType()),
        # source block id: the merge sorts partials by it before summing,
        # making the float64 contribution sum independent of shuffle
        # arrival order (run-to-run bit determinism)
        StructField("block_src", IntegerType()),
        StructField("dst_pos", ArrayType(IntegerType())),
        StructField("contribs", ArrayType(DoubleType())),
        # the source block's dangling mass Σ x[dangling-in-block]: every
        # source block sends its scalar to EVERY output block, so β is
        # computable block-locally in the merge — no global aggregate, no
        # broadcast, no driver round-trip anywhere in the iteration
        StructField("dang_part", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("block", IntegerType()),
        StructField("bkey", IntegerType()),
        StructField("xs", ArrayType(DoubleType())),
        StructField("v", ArrayType(DoubleType()), nullable=True),
        StructField("dang_idx", ArrayType(IntegerType())),
        StructField("res_sq", DoubleType()),
        StructField("dang_sum", DoubleType()),
    ]
)


def build_csr_blocks(graph: GraphTables, num_blocks: int) -> DataFrame:
    """Materialize the weighted edge table as K cached CSR block rows.

    The cached plan ends in a hash exchange on ``block``, so downstream
    cogroups see HashPartitioning(block, P) on this side and shuffle only
    the (small) state — the edge arrays are moved exactly once, here.

    The block -> bkey mapping this table carries is TOTAL: every block
    0..K-1 gets exactly one row, with empty arrays when the block has no
    out-edges (all-dangling residue classes, or K > n). A partial mapping
    let edge-less blocks share the -1 sentinel downstream, silently merging
    their state rows in the per-iteration cogroups (ADVICE r3, high).
    Totality costs K sentinel rows through the one-time build shuffle.
    """
    k = num_blocks
    spark = graph.edges.sparkSession
    p = graph.partitions
    bkeys = balanced_block_keys(k, p)

    def to_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        block = int(key[0])
        pdf = pdf[pdf["weight"].notna()]
        if len(pdf) == 0:
            # edge-less block: present so the bkey mapping stays total
            return pd.DataFrame(
                {
                    "block": [block],
                    "bkey": [bkeys[block]],
                    "src_pos": [np.empty(0, dtype=np.int32)],
                    "weight": [np.empty(0, dtype=np.float64)],
                    "starts": [np.empty(0, dtype=np.int32)],
                    "dst_pos": [np.empty(0, dtype=np.int32)],
                    "out_ptr": [np.zeros(k + 1, dtype=np.int32)],
                    "k": [k],
                }
            )
        src = pdf["src_id"].to_numpy(np.int64)
        dst = pdf["dst_id"].to_numpy(np.int64)
        w = pdf["weight"].to_numpy(np.float64)
        # dense ids (dictionary encode) make block-local positions pure
        # arithmetic: id -> (id - id%K) // K
        src_pos = ((src - block) // k).astype(np.int32)
        # distinct dsts sorted by (out_block, dst) with slice boundaries
        dst_u = np.unique(dst)
        order = np.lexsort((dst_u, dst_u % k))
        dst_sort = dst_u[order]
        out_blocks = dst_sort % k
        out_ptr = np.searchsorted(out_blocks, np.arange(k + 1)).astype(np.int32)
        dst_pos = ((dst_sort - out_blocks) // k).astype(np.int32)
        # edge -> index in dst_sort (via a value-sorted view), then reorder
        # the per-edge arrays into dst-grouped segments
        val_order = np.argsort(dst_sort, kind="stable")
        dst_valsorted = dst_sort[val_order]
        pos_in_valsorted = np.searchsorted(dst_valsorted, dst)
        dst_inv = val_order[pos_in_valsorted]
        edge_order = np.argsort(dst_inv, kind="stable")
        starts = np.searchsorted(
            dst_inv[edge_order], np.arange(len(dst_sort))
        ).astype(np.int32)
        return pd.DataFrame(
            {
                "block": [block],
                "bkey": [bkeys[block]],
                "src_pos": [src_pos[edge_order]],
                "weight": [w[edge_order]],
                "starts": [starts],
                "dst_pos": [dst_pos],
                "out_ptr": [out_ptr],
                "k": [k],
            }
        )

    # one null-weight sentinel per block guarantees every block id forms a
    # group, so to_block emits a (possibly empty) row for all K blocks
    sentinels = spark.range(k).select(
        F.col("id").alias("src_id"),
        F.col("id").alias("dst_id"),
        F.lit(None).cast("double").alias("weight"),
    )
    blocks = (
        graph.edges.select("src_id", "dst_id", "weight")
        .unionAll(sentinels)
        .withColumn(
            "block", F.pmod(F.col("src_id"), F.lit(k)).cast("int")
        )
        .groupBy("block")
        .applyInPandas(to_block, _CSR_SCHEMA)
        # FlatMapGroupsInPandas does NOT advertise an outputPartitioning, so
        # a cache of its raw output would be re-exchanged by every downstream
        # cogroup — i.e. the edge arrays would re-shuffle EVERY iteration.
        # Persisting behind an explicit hash repartition makes the scan
        # advertise HashPartitioning(block, P): the per-iteration cogroups
        # then shuffle only the state side.
        .repartition(p, "bkey")
        # plain localCheckpoint (NOT cut_lineage): Dataset.checkpoint carries
        # the physical plan's outputPartitioning into the LogicalRDD, stores
        # the arrays (MEMORY_AND_DISK), and truncates the whole graph-build
        # lineage — so each iteration's plan sees a LEAF here instead of
        # re-canonicalizing/optimizing the full build DAG. One-time cut: the
        # iterative stats-squaring pathology (operators/lineage.py) does not
        # apply.
        .localCheckpoint(eager=True)
    )
    return blocks


def _make_state(
    graph: GraphTables,
    v_df: DataFrame | None,
    k: int,
    bkey_arr: "np.ndarray",
    x_df: DataFrame | None = None,
) -> DataFrame:
    """Build the K-row block state (eagerly lineage-cut).

    v_df: optional personalization (id, v). It need NOT be dense — missing
    ids get v=0.0 via the outer join (positional packing can therefore
    never misalign; a sparse v simply puts no teleport mass there).
    x_df:  optional initial iterate (id, x), e.g. a checkpoint resume;
           defaults to the constant 1/sqrt(n).
    """
    n = graph.n
    x0_val = 1.0 / math.sqrt(n)
    dang = dangling_vertices(graph).withColumn("_d", F.lit(1))
    rows = graph.vertices.select(
        "id", F.pmod(F.col("id"), F.lit(k)).cast("int").alias("block")
    ).join(dang, "id", "left")

    uniform_v = v_df is None
    if uniform_v:
        rows = rows.withColumn("vraw", F.lit(None).cast("double"))
        norm = 1.0  # unused
    else:
        base = v_df.select("id", F.col("v").cast("double").alias("vraw"))
        norm = float(
            base.agg(F.sqrt(F.sum(F.col("vraw") * F.col("vraw")))).collect()[0][0]
        )
        rows = rows.join(base, "id", "left").withColumn(
            "vraw", F.coalesce(F.col("vraw"), F.lit(0.0))
        )
    if x_df is None:
        rows = rows.withColumn("x", F.lit(x0_val).cast("double"))
    else:
        rows = rows.join(x_df.select("id", "x"), "id", "left").withColumn(
            "x", F.coalesce(F.col("x"), F.lit(0.0))
        )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        xs = pdf["x"].to_numpy(np.float64)
        dang_idx = np.flatnonzero(pdf["_d"].notna().to_numpy()).astype(np.int32)
        v_arr = None if uniform_v else pdf["vraw"].to_numpy(np.float64) / norm
        b = int(pdf["block"].iloc[0])
        return pd.DataFrame(
            {
                "block": [b],
                "bkey": [int(bkey_arr[b])],
                "xs": [xs],
                "v": [v_arr],
                "dang_idx": [dang_idx],
                "res_sq": [0.0],
                "dang_sum": [float(xs[dang_idx].sum())],
            }
        )

    state = rows.groupBy("block").applyInPandas(pack, _STATE_SCHEMA)
    return cut_lineage(state, eager=True)


def _blocks_k(blocks: DataFrame) -> int:
    """Read the packing K recorded in a blocks table (ADVICE r1: a blocks
    DataFrame built with a different K must be rejected, not mis-routed)."""
    row = blocks.select("k").first()
    return int(row["k"])


def pagerank_csr(
    graph: GraphTables,
    v: DataFrame | None = None,
    alpha: float = 0.85,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    num_blocks: int | None = None,
    checkpointer=None,
    checkpoint_every: int = 10,
    verbose: bool = False,
    blocks: DataFrame | None = None,
    iters_per_action: int = 1,
    x0: DataFrame | None = None,
) -> PageRankResult:
    """Power method over per-partition CSR blocks; exact reference semantics.

    ``blocks`` may be passed in (from :func:`build_csr_blocks`) to amortize
    the one-time build across multiple runs (e.g. several personalization
    vectors over the same graph); its recorded packing K overrides
    ``num_blocks`` and the two must agree if both are given.

    ``iters_per_action`` > 1 fuses that many power steps into one Spark
    action (β chains JVM-side); numerics are unchanged but the ε-stop is
    only checked once per batch — use 1 (default) when exact reference
    iteration-count parity matters.

    ``x0``: warm-start iterate (id, rank|x), e.g. the previous snapshot's
    converged ranks after operators.incremental.update_graph. Runs through
    the SAME mass-matched path as the DataFrame kernel
    (operators.pagerank.mass_matched_x0), so the two kernels' warm starts
    are numerically identical; missing ids (new urls) start at the cold
    value. Ignored when THIS run's checkpointer has committed state.
    """
    spark = graph.edges.sparkSession
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")
    if iters_per_action < 1:
        raise ValueError("iters_per_action must be >= 1")

    own_blocks = blocks is None
    if blocks is None:
        k = num_blocks or graph.partitions
        blocks = build_csr_blocks(graph, k)
    else:
        k = _blocks_k(blocks)
        if num_blocks is not None and num_blocks != k:
            raise ValueError(
                f"blocks table was packed with k={k} but num_blocks={num_blocks}"
            )
    # block -> balanced shuffle key, read off the blocks table (K tiny rows
    # once per run) so state/partials agree with however the blocks were
    # packed, independent of this session's partition conf
    bkey_arr = np.full(k, -1, dtype=np.int64)
    for r in blocks.select("block", "bkey").collect():
        bkey_arr[r["block"]] = r["bkey"]
    missing = np.flatnonzero(bkey_arr < 0)
    if len(missing):
        # a partial mapping would alias every absent block onto the -1
        # sentinel and silently merge their state rows in the cogroups
        raise ValueError(
            f"blocks table is missing rows for blocks {missing[:8].tolist()}"
            f"{'...' if len(missing) > 8 else ''} of {k}; rebuild it with "
            "build_csr_blocks (which emits a row for every block)"
        )

    x0_val = 1.0 / math.sqrt(n)
    start_iter = 0
    state = None
    if checkpointer is not None:
        resumed = checkpointer.resume(spark)
        if resumed is not None:
            ranks_df, start_iter = resumed
            state = _make_state(
                graph, v, k, bkey_arr,
                x_df=ranks_df.withColumnRenamed("rank", "x"),
            )
    if state is None and x0 is not None:
        # mv = L1 mass of the L2-normalized teleport vector this run uses
        if v is None:
            mv = math.sqrt(float(n))
        else:
            vr = v.select(F.col("v").cast("double").alias("v"))
            row_v = vr.agg(
                F.sum("v").alias("s"),
                F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"),
            ).collect()[0]
            mv = float(row_v["s"]) / float(row_v["nrm"])
        warm = mass_matched_x0(graph, x0, mv, float(alpha), x0_val)
        state = _make_state(graph, v, k, bkey_arr, x_df=warm)
    if state is None:
        state = _make_state(graph, v, k, bkey_arr)

    uniform_v = v is None
    a = float(alpha)
    kk = k

    def spmv(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: the CSR block row; right: the state row. A state block with
        # no out-edges (left empty) must STILL broadcast its dangling mass
        # to every output block; a blocks row without state cannot happen
        # (state covers all dense ids).
        if len(right) == 0:
            return pd.DataFrame(
                {"bkey_out": pd.Series([], dtype="int32"),
                 "block_src": pd.Series([], dtype="int32"),
                 "dst_pos": pd.Series([], dtype=object),
                 "contribs": pd.Series([], dtype=object),
                 "dang_part": pd.Series([], dtype="float64")}
            )
        if len(right) > 1:
            # bkeys are distinct per block (total mapping, checked at
            # kernel entry) — collided state rows mean silent data loss
            raise RuntimeError(
                f"spmv: {len(right)} state rows collided on bkey {key}"
            )
        dang_part = float(right["dang_sum"].iloc[0])
        empty_i = np.empty(0, dtype=np.int32)
        empty_d = np.empty(0, dtype=np.float64)
        out_pos: list = [empty_i] * kk
        out_contribs: list = [empty_d] * kk
        if len(left):
            x = np.asarray(right["xs"].iloc[0], dtype=np.float64)
            src_pos = np.asarray(left["src_pos"].iloc[0], dtype=np.int32)
            w = np.asarray(left["weight"].iloc[0], dtype=np.float64)
            starts = np.asarray(left["starts"].iloc[0], dtype=np.int32)
            dst_pos = np.asarray(left["dst_pos"].iloc[0], dtype=np.int32)
            out_ptr = np.asarray(left["out_ptr"].iloc[0], dtype=np.int32)
            contrib = (
                np.add.reduceat(w * x[src_pos], starts)
                if len(starts)
                else np.empty(0, dtype=np.float64)
            )
            for ob in range(kk):
                s, e = out_ptr[ob], out_ptr[ob + 1]
                if e > s:
                    out_pos[ob] = dst_pos[s:e]
                    out_contribs[ob] = contrib[s:e]
        return pd.DataFrame(
            {
                "bkey_out": pd.Series(bkey_arr[:kk].astype(np.int32)),
                "block_src": pd.Series(
                    [int(right["block"].iloc[0])] * kk, dtype="int32"
                ),
                "dst_pos": out_pos,
                "contribs": out_contribs,
                "dang_part": pd.Series([dang_part] * kk, dtype="float64"),
            }
        )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            # only legal when n < K: vertex-less blocks receive pure
            # dangling-broadcast rows (empty arrays). Data routed to a
            # vertex-less block is a kernel bug — fail loudly.
            if any(len(p) for p in right["dst_pos"]):
                raise RuntimeError(f"contributions for unknown block {key}")
            return pd.DataFrame(
                {c: pd.Series([], dtype=t)
                 for c, t in zip(
                     ["block", "bkey", "xs", "v", "dang_idx",
                      "res_sq", "dang_sum"],
                     ["int32", "int32", object, object, object,
                      "float64", "float64"],
                 )}
            )
        if len(left) > 1:
            raise RuntimeError(
                f"merge: {len(left)} state rows collided on bkey {key}"
            )
        x_old = np.asarray(left["xs"].iloc[0], dtype=np.float64)
        dang_idx = np.asarray(left["dang_idx"].iloc[0], dtype=np.int32)
        # run-to-run float64 bit determinism: order every partial by its
        # source block id before summing, so neither β nor the bincount
        # contribution sum depends on shuffle arrival order (ADVICE r2:
        # previously only dang_part was order-insensitive)
        order = np.argsort(right["block_src"].to_numpy(np.int32), kind="stable")
        dang_total = float(right["dang_part"].to_numpy(np.float64)[order].sum())
        beta = a * dang_total + (1.0 - a)
        if len(right):
            dst_list = right["dst_pos"].to_numpy()
            cs_list = right["contribs"].to_numpy()
            pos_all = np.concatenate(
                [np.asarray(dst_list[o], dtype=np.int32) for o in order]
            )
            cs_all = np.concatenate(
                [np.asarray(cs_list[o], dtype=np.float64) for o in order]
            )
            contrib = np.bincount(
                pos_all, weights=cs_all, minlength=len(x_old)
            )
        else:
            contrib = np.zeros(len(x_old), dtype=np.float64)
        if uniform_v:
            x_new = beta * x0_val + a * contrib
        else:
            x_new = beta * np.asarray(left["v"].iloc[0], dtype=np.float64) + a * contrib
        diff = x_new - x_old
        v_out = None if uniform_v else np.asarray(left["v"].iloc[0], dtype=np.float64)
        return pd.DataFrame(
            {
                "block": [int(left["block"].iloc[0])],
                "bkey": [int(key[0])],
                "xs": [x_new],
                "v": [v_out],
                "dang_idx": [dang_idx],
                "res_sq": [float(diff @ diff)],
                "dang_sum": [float(x_new[dang_idx].sum())],
            }
        )

    residuals: list[float] = []
    metrics: list[IterationMetrics] = []
    converged = False
    it = start_iter
    done = start_iter  # iterations completed

    while done < max_iterations and not converged:
        t0 = time.monotonic()
        batch = min(iters_per_action, max_iterations - done)
        st = state
        for _sub in range(batch):
            partials = (
                blocks.groupBy("bkey")
                .cogroup(st.groupBy("bkey"))
                .applyInPandas(spmv, _PARTIAL_SCHEMA)
            )
            st = (
                st.groupBy("bkey")
                .cogroup(partials.groupBy("bkey_out"))
                .applyInPandas(merge, _STATE_SCHEMA)
            )
            # cut_lineage, NOT plain localCheckpoint: this plan has no
            # Aggregate to clamp estimated stats, so inherited sizeInBytes
            # would square every iteration (see operators/lineage.py).
            # Lazy — the residual aggregate below is the one action. (A
            # round-4 probe tried eager intermediate cuts here: task counts
            # are IDENTICAL lazy vs eager for this kernel — fused batches do
            # not recompute the iterate, unlike the CC round whose batched
            # mode inflates tasks 2.2x, see components.py — and the extra
            # eager jobs only serialized the batch, walls 13 s -> 24 s at
            # 240M edges/8 cores. Keep lazy.)
            st = cut_lineage(st)

        row = st.agg(F.sqrt(F.sum("res_sq")).alias("r")).collect()[0]
        residual = float(row["r"])
        state = st
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
                _ranks_from_state(state, k),
                iteration=done,
                meta={"residual": residual, "alpha": alpha, "wall_ms": wall_ms},
            )
        if residual < epsilon:
            converged = True

    ranks = _ranks_from_state(state, k)
    if own_blocks:
        blocks.unpersist()
    return PageRankResult(
        ranks=ranks,
        iterations=done,
        converged=converged,
        residuals=residuals,
        metrics=metrics,
    )


def _ranks_from_state(state: DataFrame, k: int) -> DataFrame:
    """Unpack block arrays back into (id, rank) rows; ids are implicit:
    block-local position p in block b <=> dense id b + p*K."""
    z = state.select(
        "block", F.posexplode("xs").alias("pos", "rank")
    )
    return z.select(
        (F.col("block").cast("long") + F.col("pos").cast("long") * F.lit(k)).alias("id"),
        "rank",
    )
