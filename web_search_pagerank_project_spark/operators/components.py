"""Weakly-connected components: three kernels, one contract.

north_star operator X4 (SURVEY.md §2.3). All three compute label(v) = min
vertex id reachable over the symmetrized edge set; labels are the dense
vertex ids, and because ``build_graph`` assigns ids in url sort order, the
converged numeric min-label of a component is the id of its
lexicographically smallest url — exactly the oracle contract
(tests/oracle.py::connected_components_oracle).

  connected_components        DataFrame min-label propagation (join + agg
                              per round). O(diameter) rounds. The contract/
                              reference implementation.
  connected_components_star   alternating large-star/small-star (Kiveris et
                              al., "Connected Components in MapReduce and
                              Beyond", 2014). O(log n) rounds on ANY graph —
                              including adversarial long paths where
                              min-label needs O(n) rounds. Edge set shrinks
                              toward a star forest; each round is two
                              groupBy-min + join phases, all JVM-side.
  connected_components_csr    min-label over per-partition CSR blocks (the
                              PageRank CSR kernel's layout, weights dropped,
                              per-dst min via sorted reduceat instead of
                              bincount-sum). Multiple rounds batch into one
                              Spark action (rounds have no cross-round
                              driver dependency), so fixed driver/stage
                              latency amortizes — the throughput kernel for
                              the scaling evidence. Pinned to the DataFrame
                              kernel by tests.

Scale notes:
  * the symmetrized edge table (DF kernel) / block table (CSR kernel) is
    built once and never re-shuffled; each round moves only labels.
  * convergence = zero labels changed, computed in the same action that
    materializes the new labels — one job per round (or per batch).
  * lineage is cut every round (operators/lineage.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .blockmap import balanced_block_keys
from .graph_build import GraphTables
from .lineage import cut_lineage


def _symmetrized(graph: GraphTables, num_partitions: int) -> DataFrame:
    e = graph.edges.select("src_id", "dst_id")
    sym = (
        e.unionAll(e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")))
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(num_partitions, "src_id")
        .persist()
    )
    sym.count()
    return sym


def connected_components(
    graph: GraphTables,
    max_iterations: int = 100,
    verbose: bool = False,
    raise_on_cap: bool = True,
    symmetric_edges: DataFrame | None = None,
) -> DataFrame:
    """Returns (id: long, component: long) — component = min vertex id reachable
    (undirected). Converged exactly (fixed point), or raises if max_iterations
    is hit without convergence.

    symmetric_edges: optionally a pre-symmetrized, self-loop-free, distinct
    (src_id, dst_id) table (e.g. staged parquet) — skips the symmetrize
    shuffle here (same contract as build_minlabel_blocks). Supply it
    hash-partitioned by src_id and persisted, or every round's frontier
    join pays a full edge exchange.
    """
    num_partitions = graph.partitions
    external_sym = symmetric_edges is not None
    if external_sym:
        sym = symmetric_edges.select("src_id", "dst_id")
    else:
        sym = _symmetrized(graph, num_partitions)

    # With AQE off, labels stay hash(id, P)-partitioned across rounds (plain
    # localCheckpoint preserves outputPartitioning — cut_lineage would NOT,
    # its rebuilt LogicalRDD loses the partitioning). With AQE on
    # (get_spark's default) the checkpoint carries no partitioning either,
    # and every round re-shuffles the labels.
    # Inherited-stats growth is safe here empirically, not by clamping: the
    # size-only visitor clamps only EMPTY-grouping aggregates, and this
    # round's groupBy(dst_id) does not clamp — but measured sizeInBytes
    # bit-length grows LINEARLY (~9 bits/round on pyspark 4.1.2), never
    # doubles, so BigInt cost stays negligible for any practical round
    # count. If a plan change ever makes the bit-length double per round
    # (the lineage.py squaring pathology), restore a stats reset that also
    # keeps partitioning. SHUFFLE_HASH hints keep the
    # O(V) label table off the driver: a broadcast hash-relation of the
    # labels is built serially on the driver and grows with V — the same
    # scale bug fixed in pagerank.py (weak-scaled 0.54 before the hint).
    # _changed doubles as the propagation FRONTIER: a vertex whose label
    # did not change last round already min-folded its label into every
    # neighbor in the round after it last changed, so re-sending it is a
    # no-op under monotone min — round-for-round labels are identical to
    # the dense version (pinned in tests), but the per-round join/shuffle
    # volume is O(frontier), not O(V). On web graphs the frontier
    # collapses after a few rounds; at 10^12 vertices this is the
    # difference between every round paying O(E) and the tail rounds
    # paying almost nothing. Initial labels count as changed (round 1
    # must broadcast everyone once).
    labels = (
        graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(True).alias("_changed")
        )
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=False)
    )

    converged = False
    for it in range(max_iterations):
        frontier = labels.filter(F.col("_changed")).select("id", "label")
        fh = frontier.hint("shuffle_hash")
        nbr_min = (
            sym.join(fh, sym.src_id == fh.id)
            .groupBy("dst_id")
            .agg(F.min("label").alias("nbr_label"))
            .hint("shuffle_hash")
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.dst_id, "left")
            .select(
                labels.id.alias("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.coalesce(
                    F.col("nbr_label") < F.col("label"), F.lit(False)
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.agg(
                F.sum(F.when(F.col("_changed"), 1).otherwise(0)).alias("c")
            ).collect()[0]["c"]
            or 0
        )
        if verbose:
            print(f"cc iter={it} changed={changed}")
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not external_sym:
        sym.unpersist()
    if not converged and raise_on_cap:
        raise RuntimeError(f"connected_components: no fixed point in {max_iterations} iters")
    return labels.select("id", F.col("label").alias("component"))


def connected_components_star(
    graph: GraphTables,
    max_rounds: int = 60,
    verbose: bool = False,
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al. 2014).

    Converges in O(log n) rounds on any graph — including long paths where
    plain min-label propagation needs O(n) rounds. Maintains a shrinking
    edge set; at the fixed point the edges form stars (child -> component
    min). Returns (id: long, component: long), identical contract to
    :func:`connected_components`.

    Each round is two phases of groupBy-min + join (all JVM-side, no
    Python); the per-round edge set shrinks monotonically toward n-1 star
    edges, so later rounds get *cheaper*, unlike min-label whose per-round
    cost is constant. Convergence check: (count, xor of row hashes) of the
    edge set, computed in the same action that materializes it.
    """
    e = (
        graph.edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("v"),
            F.greatest("src_id", "dst_id").alias("u"),
        )
        .distinct()  # canonical small-large pairs
        .select("u", "v")
        .transform(cut_lineage)
    )

    def _checksum(df: DataFrame):
        row = df.agg(
            F.count("*").alias("c"),
            # xor-fold is order-insensitive and cannot overflow (unlike sum
            # under ANSI mode); count+xor pins the edge set
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["c"]), int(row["h"])

    prev = None
    for rnd in range(max_rounds):
        # --- large-star: connect every strictly-larger neighbor to the
        # minimum of the full neighborhood (including the center).
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: orient large->small; connect all smaller
        # neighbors and the center to the neighborhood minimum.
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionAll(mins.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            .transform(cut_lineage)
        )
        cur = _checksum(e)
        if verbose:
            print(f"star round={rnd} edges={cur[0]}")
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"star CC: no fixed point in {max_rounds} rounds")

    # e is now a star forest: (child u, root v). Singletons & roots map to
    # themselves.
    return (
        graph.vertices.select("id")
        .join(e.withColumnRenamed("u", "id"), "id", "left")
        .select("id", F.coalesce(F.col("v"), F.col("id")).alias("component"))
    )


# ------------------------------------------------------------ CSR kernel ----

_MIN_BLOCK_SCHEMA = StructType(
    [
        StructField("block", IntegerType()),
        # balanced shuffle key (operators/blockmap.py): the cogroups group
        # on bkey, whose Murmur3 placement fills partitions exactly;
        # grouping on raw block ids measured 1.6-2x stage stretch from
        # hash clumping
        StructField("bkey", IntegerType()),
        StructField("src_pos_sorted", ArrayType(IntegerType())),
        StructField("dst_pos", ArrayType(IntegerType())),
        StructField("starts", ArrayType(IntegerType())),
        StructField("out_ptr", ArrayType(IntegerType())),
        StructField("k", IntegerType()),
    ]
)

_LABEL_STATE_SCHEMA = StructType(
    [
        StructField("block", IntegerType()),
        StructField("bkey", IntegerType()),
        StructField("labels", ArrayType(LongType())),
        # per-vertex frontier flag: label changed in the last round. Sources
        # outside the frontier are masked out of the next round's mins —
        # under monotone min their label was already folded into every
        # neighbor the round after it last changed, so skipping them is
        # exact (round-for-round identical labels), and late-round shuffle
        # volume shrinks to O(frontier) instead of O(K*V).
        StructField("mask", ArrayType(BooleanType())),
        StructField("changed", LongType()),
    ]
)

_MIN_PARTIAL_SCHEMA = StructType(
    [
        StructField("bkey_out", IntegerType()),
        StructField("dst_pos", ArrayType(IntegerType())),
        StructField("mins", ArrayType(LongType())),
    ]
)


def build_minlabel_blocks(
    graph: GraphTables,
    num_blocks: int,
    symmetric_edges: DataFrame | None = None,
    chunk_edges: int = 2_000_000,
) -> DataFrame:
    """Symmetrized edge set packed as per-block arrays for min-label rounds.

    Layout mirrors csr_kernel.build_csr_blocks but drops weights and
    pre-sorts edges by destination so the per-dst min is one
    ``np.minimum.reduceat`` call (there is no bincount-min).

    Each block is emitted as one or more CHUNK rows of at most
    ``chunk_edges`` edges (round-4 slow-mode finding): a 240M-edge graph
    at K=16 packs ~30M-entry arrays into single Arrow cells, and every
    byte above the pooled allocator's chunk size is a fresh mmap/munmap
    per round — the measured big-level "slow mode" was 190-240 s of
    KERNEL time (page faults + TLB shootdowns, which broadcast to every
    core) per 6 rounds, against ~22 s of user-space work. Bounded rows
    (8 MB at the default) keep allocations pooled at any graph size.
    Chunks split the edge axis; a destination run that crosses a chunk
    boundary yields partial mins in both chunks, which merge_min folds
    (min is idempotent). Correctness is chunk-layout-independent.

    symmetric_edges: optionally a pre-symmetrized, self-loop-free, distinct
    (src_id, dst_id) table (e.g. staged parquet) — skips the symmetrize
    shuffle here.
    """
    k = num_blocks
    ce = int(chunk_edges)
    if ce < 1:
        raise ValueError("chunk_edges must be >= 1")
    spark = graph.edges.sparkSession
    p = graph.partitions
    bkeys = balanced_block_keys(k, p)

    def to_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        block = int(key[0])
        pdf = pdf[pdf["dst_id"].notna()]
        if len(pdf) == 0:
            # edge-less block: emitted anyway so the block -> bkey mapping
            # is TOTAL (ADVICE r3: absent blocks shared the -1 sentinel and
            # their state rows silently merged in the cogroups)
            return pd.DataFrame(
                {
                    "block": [block],
                    "bkey": [bkeys[block]],
                    "src_pos_sorted": [np.empty(0, dtype=np.int32)],
                    "dst_pos": [np.empty(0, dtype=np.int32)],
                    "starts": [np.empty(0, dtype=np.int32)],
                    "out_ptr": [np.zeros(k + 1, dtype=np.int32)],
                    "k": [k],
                }
            )
        src = pdf["src_id"].to_numpy(np.int64)
        dst = pdf["dst_id"].to_numpy(np.int64)
        src_pos = ((src - block) // k).astype(np.int32)
        dst_u = np.unique(dst)
        order = np.lexsort((dst_u, dst_u % k))
        dst_sort = dst_u[order]
        out_blocks = dst_sort % k
        out_ptr = np.searchsorted(out_blocks, np.arange(k + 1)).astype(np.int32)
        dst_pos = ((dst_sort - out_blocks) // k).astype(np.int32)
        val_order = np.argsort(dst_sort, kind="stable")
        pos_in_valsorted = np.searchsorted(dst_sort[val_order], dst)
        dst_inv = val_order[pos_in_valsorted].astype(np.int32)
        edge_order = np.argsort(dst_inv, kind="stable")
        src_pos_sorted = src_pos[edge_order]
        starts = np.searchsorted(
            dst_inv[edge_order], np.arange(len(dst_sort))
        ).astype(np.int32)

        n_edges, n_dst = len(src_pos_sorted), len(dst_sort)
        rows = {c: [] for c in ("src_pos_sorted", "dst_pos", "starts", "out_ptr")}
        for lo in range(0, n_edges, ce):
            hi = min(lo + ce, n_edges)
            # unique-dst range whose runs intersect [lo, hi)
            j_lo = int(np.searchsorted(starts, lo, side="right")) - 1
            j_hi = int(np.searchsorted(starts, hi, side="left"))
            rows["src_pos_sorted"].append(src_pos_sorted[lo:hi])
            rows["starts"].append(
                np.clip(starts[j_lo:j_hi], lo, hi).astype(np.int32) - lo
            )
            rows["dst_pos"].append(dst_pos[j_lo:j_hi])
            rows["out_ptr"].append(
                (np.clip(out_ptr, j_lo, j_hi) - j_lo).astype(np.int32)
            )
        n_rows = len(rows["src_pos_sorted"])
        assert n_rows >= 1  # n_edges >= 1 here
        return pd.DataFrame(
            {
                "block": [block] * n_rows,
                "bkey": [bkeys[block]] * n_rows,
                "src_pos_sorted": rows["src_pos_sorted"],
                "dst_pos": rows["dst_pos"],
                "starts": rows["starts"],
                "out_ptr": rows["out_ptr"],
                "k": [k] * n_rows,
            }
        )

    if symmetric_edges is not None:
        sym = symmetric_edges.select("src_id", "dst_id")
    else:
        e = graph.edges.select("src_id", "dst_id")
        sym = (
            e.unionAll(
                e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
            )
            .filter(F.col("src_id") != F.col("dst_id"))
            .distinct()
        )
    # one null-dst sentinel per block keeps the mapping total (see to_block)
    sentinels = spark.range(k).select(
        F.col("id").alias("src_id"),
        F.lit(None).cast("long").alias("dst_id"),
    )
    return (
        sym.unionAll(sentinels)
        .withColumn("block", F.pmod(F.col("src_id"), F.lit(k)).cast("int"))
        .groupBy("block")
        .applyInPandas(to_block, _MIN_BLOCK_SCHEMA)
        # same partitioning-preserving leaf trick as build_csr_blocks: the
        # per-round cogroups must never re-shuffle the edge arrays. The
        # partitioning (and the cogroup key) is the BALANCED bkey, not the
        # raw block id — see operators/blockmap.py.
        .repartition(p, "bkey")
        .localCheckpoint(eager=True)
    )


def connected_components_csr(
    graph: GraphTables,
    max_rounds: int = 100,
    num_blocks: int | None = None,
    blocks: DataFrame | None = None,
    rounds_per_action: int = 1,
    raise_on_cap: bool = True,
    verbose: bool = False,
    frontier: bool = True,
) -> DataFrame:
    """Min-label propagation over per-block arrays (throughput kernel).

    Semantics identical to :func:`connected_components` (tests pin the two
    label-for-label). ``rounds_per_action`` batches rounds into one Spark
    action — rounds have no cross-round driver dependency (unlike
    PageRank's β), so batching only coarsens the convergence check: up to
    ``rounds_per_action - 1`` no-op rounds may run past the fixed point.
    Prefer the default 1: a round-4 task-count probe measured the fused
    batch recomputing through this round's double-consumer DAG at scale
    (355 vs 164 tasks for 6 identical rounds at 240M edges, ~2x wall)
    even with eagerly materialized intermediates, while per-round actions
    compute each round exactly once. Kept for API/semantics coverage
    (fixed-point equality across rpa values is test-pinned).

    ``frontier=False`` disables the changed-vertex masking: every round
    sends every label (identical output — dense rounds are the textbook
    min-propagation step — but strictly more work on converged regions).
    The scaling protocol uses this: dense-round volume is a pure function
    of (K, V, E), so a fixed round count is fixed WORK at every level,
    whereas frontier volume depends on where the input graph happens to
    converge, which differs between the two weak-scaling graphs.
    """
    spark = graph.edges.sparkSession
    n = graph.n
    if n == 0:
        raise ValueError("empty graph")
    if blocks is None:
        k = num_blocks or graph.partitions
        blocks = build_minlabel_blocks(graph, k)
    else:
        k = int(blocks.select("k").first()["k"])
        if num_blocks is not None and num_blocks != k:
            raise ValueError(
                f"blocks table was packed with k={k} but num_blocks={num_blocks}"
            )

    # block -> balanced shuffle key, read off the blocks table itself (K
    # tiny rows once per call) so state and partials agree with however
    # the blocks were packed, independent of this session's partition conf
    bkey_of = {
        r["block"]: r["bkey"]
        for r in blocks.select("block", "bkey").collect()
    }
    bkey_arr = np.full(k, -1, dtype=np.int64)
    for b, bk_ in bkey_of.items():
        bkey_arr[b] = bk_
    missing = np.flatnonzero(bkey_arr < 0)
    if len(missing):
        # a partial mapping aliases absent blocks onto the -1 sentinel and
        # merge_min would silently drop all but one collided state row
        raise ValueError(
            f"blocks table is missing rows for blocks {missing[:8].tolist()}"
            f"{'...' if len(missing) > 8 else ''} of {k}; rebuild it with "
            "build_minlabel_blocks (which emits a row for every block)"
        )

    # initial labels = own ids; ids of block b are b, b+k, b+2k, ... so the
    # state is generated directly per block — no join, no vertex scan
    nn, kk = n, k

    def init_state(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for b in pdf["block"]:
            b = int(b)
            ids = np.arange(b, nn, kk, dtype=np.int64)
            # everyone starts in the frontier: round 1 must send all labels
            out.append((b, int(bkey_arr[b]), ids, np.ones(len(ids), dtype=bool), 0))
        return pd.DataFrame(
            out, columns=["block", "bkey", "labels", "mask", "changed"]
        )

    state = cut_lineage(
        spark.range(k)
        .select(F.col("id").cast("int").alias("block"))
        .groupBy("block")
        .applyInPandas(init_state, _LABEL_STATE_SCHEMA),
        eager=True,
    )

    def spmv_min(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"bkey_out": pd.Series([], dtype="int32"),
                 "dst_pos": pd.Series([], dtype=object),
                 "mins": pd.Series([], dtype=object)}
            )
        labels = np.asarray(right["labels"].iloc[0], dtype=np.int64)
        mask = np.asarray(right["mask"].iloc[0], dtype=bool)
        if not mask.any():
            # whole block outside the frontier: nothing new to send
            return pd.DataFrame(
                {"bkey_out": pd.Series([], dtype="int32"),
                 "dst_pos": pd.Series([], dtype=object),
                 "mins": pd.Series([], dtype=object)}
            )
        rows_b, rows_p, rows_m = [], [], []
        # one or more bounded CHUNK rows per block (build_minlabel_blocks):
        # each is an independent slice of the edge axis; a dst run split
        # across chunks yields partial mins that merge_min folds (min is
        # idempotent), so per-chunk emission is exact
        for ci in range(len(left)):
            sps = np.asarray(left["src_pos_sorted"].iloc[ci], dtype=np.int32)
            if len(sps) == 0:
                continue
            dst_pos = np.asarray(left["dst_pos"].iloc[ci], dtype=np.int32)
            starts = np.asarray(left["starts"].iloc[ci], dtype=np.int32)
            out_ptr = np.asarray(left["out_ptr"].iloc[ci], dtype=np.int32)
            # non-frontier sources contribute +inf and fall out of the min;
            # dsts whose every in-edge source is outside the frontier are
            # not emitted at all — late-round partials carry only live
            # entries
            vals = np.where(mask[sps], labels[sps], np.iinfo(np.int64).max)
            mins = (
                np.minimum.reduceat(vals, starts)
                if len(starts)
                else np.empty(0, dtype=np.int64)
            )
            for ob in range(len(out_ptr) - 1):
                s, e = out_ptr[ob], out_ptr[ob + 1]
                if e > s:
                    live = mins[s:e] != np.iinfo(np.int64).max
                    if live.any():
                        rows_b.append(int(bkey_arr[ob]))
                        rows_p.append(dst_pos[s:e][live])
                        rows_m.append(mins[s:e][live])
        # dtype=object even when empty: a bare [] infers float64 and Arrow
        # refuses the float64 -> list<int32> column conversion
        return pd.DataFrame(
            {
                "bkey_out": pd.Series(rows_b, dtype="int32"),
                "dst_pos": pd.Series(rows_p, dtype=object),
                "mins": pd.Series(rows_m, dtype=object),
            }
        )

    def merge_min(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # key is the balanced bkey; the true block number rides the state.
        # bkeys are distinct per block (total mapping, checked above), so
        # exactly one state row per group — anything else is a kernel bug
        # and must fail loudly, not fold to iloc[0] (ADVICE r3)
        if len(left) != 1:
            raise RuntimeError(
                f"merge_min: {len(left)} state rows collided on bkey {key}"
            )
        labels = np.asarray(left["labels"].iloc[0], dtype=np.int64)
        new = labels.copy()
        # positions are unique WITHIN one partial row (one min per dst per
        # source block), so each row folds in as one vectorized
        # fancy-index minimum — no np.minimum.at (unbuffered scalar
        # scatter, ~10x slower on big partials)
        for p, m in zip(right["dst_pos"], right["mins"]):
            pos = np.asarray(p, dtype=np.int32)
            mn = np.asarray(m, dtype=np.int64)
            new[pos] = np.minimum(new[pos], mn)
        diff = new != labels
        # dense mode: keep every source in next round's send set; changed
        # (the convergence signal) still counts true label changes
        mask = diff if frontier else np.ones(len(new), dtype=bool)
        return pd.DataFrame(
            {
                "block": [int(left["block"].iloc[0])],
                "bkey": [int(key[0])],
                "labels": [new],
                "mask": [mask],
                "changed": [int(diff.sum())],
            }
        )

    done = 0
    converged = False
    while done < max_rounds and not converged:
        batch = min(rounds_per_action, max_rounds - done)
        st = state
        for _sub in range(batch):
            partials = (
                blocks.groupBy("bkey")
                .cogroup(st.groupBy("bkey"))
                .applyInPandas(spmv_min, _MIN_PARTIAL_SCHEMA)
            )
            st = cut_lineage(
                st.groupBy("bkey")
                .cogroup(partials.groupBy("bkey_out"))
                .applyInPandas(merge_min, _LABEL_STATE_SCHEMA),
                # EAGER for intermediate rounds of a batch (round-4 probe):
                # a lazy intermediate is consumed by TWO sibling shuffle
                # stages of the next round (spmv + merge), whose tasks race
                # the not-yet-populated cache and recompute the round —
                # measured 2.4x CPU on the same work. Eager materializes
                # each round exactly once; the batch's trailing round is
                # materialized by the `changed` action below.
                eager=_sub < batch - 1,
            )
        changed = int(st.agg(F.sum("changed")).collect()[0][0] or 0)
        state = st
        done += batch
        if verbose:
            print(f"cc_csr rounds<={done} changed(last)={changed}")
        if changed == 0:
            converged = True
    if not converged and raise_on_cap:
        raise RuntimeError(f"connected_components_csr: no fixed point in {max_rounds} rounds")

    z = state.select("block", F.posexplode("labels").alias("pos", "component"))
    return z.select(
        (F.col("block").cast("long") + F.col("pos").cast("long") * F.lit(k)).alias("id"),
        "component",
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """(component: long, size: long) sorted by size desc."""
    return (
        components.groupBy("component")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("component"))
    )
