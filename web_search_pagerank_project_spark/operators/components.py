"""Weakly-connected components: two kernels, one contract.

north_star operator X4 (SURVEY.md §2.3). Both compute label(v) = min
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

The star kernel stays beside min-label because it is the only one that
converges on long-diameter inputs within a small round cap.

Scale notes:
  * the symmetrized edge table is built once and never re-shuffled; each
    round moves only labels.
  * convergence = zero labels changed, computed in the same action that
    materializes the new labels — one job per round.
  * lineage is cut every round (operators/lineage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
) -> DataFrame:
    """Returns (id: long, component: long) — component = min vertex id reachable
    (undirected). Converged exactly (fixed point), or raises if max_iterations
    is hit without convergence.
    """
    num_partitions = graph.partitions
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
    # re-sending every label each round, but the per-round join/shuffle
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


def component_sizes(components: DataFrame) -> DataFrame:
    """(component: long, size: long) sorted by size desc."""
    return (
        components.groupBy("component")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("component"))
    )
