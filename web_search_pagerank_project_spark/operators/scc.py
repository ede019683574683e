"""Strongly connected components + Broder bow-tie decomposition.

Round-4 breadth on the directed link graph (the reference's graph IS
directed — pagerank.py:31-58 builds a directed transition matrix — so the
natural structural companions to weak CC are SCC and the bow-tie map of
Broder et al., "Graph structure in the Web", WWW 2000).

SCC kernel: FW-BW coloring (Fleischer/Hendrickson/Pinar, "On identifying
strongly connected components in parallel", 2000 — the algorithm behind
GraphX's `stronglyConnectedComponents`), phased over a monotonically
shrinking vertex/edge set:

  phase = trim-to-fixpoint  (peel in-degree-0 / out-degree-0 vertices:
                             each is its own singleton SCC; dissolves the
                             DAG part of the graph, which is what bounds
                             the phase count — a pure DAG never reaches
                             the coloring step more than once)
        → forward min-color (color(v) = min id that reaches v; directed
                             min-label propagation to fixpoint, frontier-
                             masked exactly like components.py — monotone
                             min makes the mask exact)
        → backward mark     (root r = vertex with color(r)==r; r is the
                             MINIMUM member of its SCC, because color(r)=r
                             means no smaller vertex reaches r while every
                             SCC member reaches r.  SCC(r) = vertices that
                             reach r through the same color class —
                             boolean frontier propagation along REVERSED
                             intra-color edges)
        → finalize + shrink (assign scc=color to marked vertices, drop
                             them and their edges, next phase)

Scale notes (same discipline as components.py):
  * the remaining-edge table is re-persisted only at phase boundaries
    (phases are few: web graphs are one giant SCC + a DAG fringe — trim
    eats the fringe, one coloring finds the core); per-ROUND movement
    inside every fixpoint loop is frontier-sized label/mark rows, never
    edges.
  * every join carries SHUFFLE_HASH hints — O(V) label tables must not
    become driver-built broadcast relations (the pagerank.py weak-scaling
    lesson).
  * one scalar action per round (the convergence count); lineage cut via
    localCheckpoint keeping hash partitioning (components.py:97-116).
  * SCC ids are the minimum member vertex id — deterministic and
    oracle-comparable (min over dense ids == lexicographic min url,
    because build_graph assigns ids in url sort order).

Bow-tie: classify every vertex against the largest SCC (CORE) —
IN = reaches CORE, OUT = reached from CORE, OTHER = the rest (tendrils,
tubes, disconnected).  Two boolean reachability fixpoints over the full
directed edge set; the core pick is a single 1-row action (same class as
the per-round convergence scalar).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_build import GraphTables
from .lineage import cut_lineage

__all__ = ["strongly_connected_components", "bowtie_classes", "SccResult"]


@dataclass
class SccResult:
    labels: DataFrame  # (id: long, scc: long) — scc = min member id
    phases: int
    rounds: int  # total fixpoint rounds across trim/color/mark loops
    # per-phase instrumentation (VERDICT r4 item 3): one dict per phase with
    # trim/color/mark round counts, walls (seconds), and the vertices
    # finalized by each stage — the costliest graph-op's cost structure,
    # surfaced into bench detail so a regression localizes to a stage
    phase_stats: list[dict] = field(default_factory=list)


def _persist_count(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _semi_both(edges: DataFrame, verts: DataFrame) -> DataFrame:
    """Edges whose BOTH endpoints are in verts(id). Semi-joins stay
    JVM-side; verts is the shrinking remaining set."""
    v = verts.select("id")
    return (
        edges.join(v.hint("shuffle_hash"), edges.src_id == v.id, "left_semi")
        .join(v.hint("shuffle_hash"), edges.dst_id == v.id, "left_semi")
    )


def strongly_connected_components(
    graph: GraphTables,
    max_phases: int = 50,
    max_rounds: int = 500,
    verbose: bool = False,
    raise_on_cap: bool = True,
) -> SccResult:
    """Exact SCC labels (id: long, scc: long); scc = min vertex id in the
    component. Raises if the phase/round budget is exhausted before the
    vertex set empties (raise_on_cap=False returns the partial labels of
    whatever finalized, matching components.py's cap contract)."""
    npart = graph.partitions

    edges0 = (
        graph.edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(npart, "src_id")
    )
    rem_edges = _persist_count(edges0)
    rem_verts = _persist_count(graph.vertices.select("id").repartition(npart, "id"))

    assigned_parts: list[DataFrame] = []
    rounds = 0
    phases = 0
    done = False
    phase_stats: list[dict] = []

    for phase in range(max_phases):
        phases = phase + 1
        ps = {
            "trim_rounds": 0, "trim_wall": 0.0, "trimmed": 0,
            "color_rounds": 0, "color_wall": 0.0,
            "mark_rounds": 0, "mark_wall": 0.0, "finalized": 0,
        }
        phase_stats.append(ps)

        # ---- trim to fixpoint: peel vertices with no in- or no out-edge
        # in the remaining subgraph (each is a singleton SCC). Delta-based
        # peeling (VERDICT r4 item 3 — the old version re-aggregated the
        # FULL remaining edge table every peel level, 20 edge-sized
        # shuffles + 20 edge-table rewrites at bench scale): maintain a
        # per-vertex (outd, ind) degree table; per level, only edges
        # incident to the newly dead vertices move — the dead set hash-
        # builds against the two statically-cached edge orientations
        # (src-hashed and dst-hashed; at warehouse scale these are the two
        # bucketed copies of the edge table), and the degree patch is a
        # frontier-neighbor-sized join. Edges are neither shuffled nor
        # rewritten inside the loop; the remaining-core subgraph is cut
        # ONCE per phase after the fixpoint. Each edge decrements a
        # surviving endpoint exactly once (the level its other endpoint
        # first dies), so degrees stay exact without edge deletion.
        t0 = time.monotonic()
        edst = _persist_count(rem_edges.repartition(npart, "dst_id"))
        ends = rem_edges.select(
            F.col("src_id").alias("id"),
            F.lit(1).alias("o"),
            F.lit(0).alias("i"),
        ).unionAll(
            rem_edges.select(
                F.col("dst_id").alias("id"),
                F.lit(0).alias("o"),
                F.lit(1).alias("i"),
            )
        )
        deg = cut_lineage(
            rem_verts.join(
                ends.groupBy("id")
                .agg(F.sum("o").alias("outd"), F.sum("i").alias("ind"))
                .hint("shuffle_hash"),
                "id",
                "left",
            ).select(
                "id",
                F.coalesce(F.col("outd"), F.lit(0)).alias("outd"),
                F.coalesce(F.col("ind"), F.lit(0)).alias("ind"),
            ),
            eager=True,
        )
        while rounds < max_rounds:
            rounds += 1
            ps["trim_rounds"] += 1
            dead = deg.filter((F.col("outd") <= 0) | (F.col("ind") <= 0)).select(
                "id"
            )
            n_trim = dead.count()  # cached scan, no shuffle
            if verbose:
                print(f"scc phase={phase} trim round: removed={n_trim}")
            if n_trim == 0:
                break
            ps["trimmed"] += n_trim
            assigned_parts.append(dead.select("id", F.col("id").alias("scc")))
            # both decrement probes union into ONE aggregation (one
            # frontier-sized shuffle, one 2-way join) instead of two
            # shuffles + a 3-way join
            decs = (
                edst.join(
                    dead.withColumnRenamed("id", "dst_id").hint("shuffle_hash"),
                    "dst_id",
                )
                .select(
                    F.col("src_id").alias("id"),
                    F.lit(1).alias("dout"),
                    F.lit(0).alias("din"),
                )
                .unionAll(
                    rem_edges.join(
                        dead.withColumnRenamed("id", "src_id").hint(
                            "shuffle_hash"
                        ),
                        "src_id",
                    ).select(
                        F.col("dst_id").alias("id"),
                        F.lit(0).alias("dout"),
                        F.lit(1).alias("din"),
                    )
                )
                .groupBy("id")
                .agg(F.sum("dout").alias("dout"), F.sum("din").alias("din"))
            )
            # deg is referenced 3x per level (alive filter + the dead set
            # probing both union branches) — cut_lineage, not plain
            # localCheckpoint, or the size-stats product cubes per level
            # (operators/lineage.py)
            deg = cut_lineage(
                deg.filter((F.col("outd") > 0) & (F.col("ind") > 0))
                .join(decs.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    (F.col("outd") - F.coalesce(F.col("dout"), F.lit(0))).alias(
                        "outd"
                    ),
                    (F.col("ind") - F.coalesce(F.col("din"), F.lit(0))).alias(
                        "ind"
                    ),
                ),
                eager=True,
            )
        # cut the surviving core out ONCE for the color/mark stages
        core_verts = _persist_count(deg.select("id"))
        core_edges = _persist_count(
            _semi_both(rem_edges, core_verts).localCheckpoint(eager=True)
        )
        rem_verts.unpersist()
        rem_edges.unpersist()
        edst.unpersist()
        rem_verts, rem_edges = core_verts, core_edges
        ps["trim_wall"] = round(time.monotonic() - t0, 3)

        if rem_verts.isEmpty():
            done = True
            break

        # ---- forward min-coloring to fixpoint (directed components.py
        # loop: frontier-masked, exact under monotone min)
        t0 = time.monotonic()
        colors = (
            rem_verts.select("id", F.col("id").alias("color"), F.lit(True).alias("_chg"))
            .repartition(npart, "id")
            .localCheckpoint(eager=False)
        )
        while rounds < max_rounds:
            rounds += 1
            ps["color_rounds"] += 1
            frontier = colors.filter(F.col("_chg")).select("id", "color").hint(
                "shuffle_hash"
            )
            nbr = (
                rem_edges.join(frontier, rem_edges.src_id == frontier.id)
                .groupBy("dst_id")
                .agg(F.min("color").alias("nbr_color"))
                .hint("shuffle_hash")
            )
            colors_new = (
                colors.join(nbr, colors.id == nbr.dst_id, "left")
                .select(
                    colors.id.alias("id"),
                    F.least(
                        F.col("color"), F.coalesce(F.col("nbr_color"), F.col("color"))
                    ).alias("color"),
                    F.coalesce(F.col("nbr_color") < F.col("color"), F.lit(False)).alias(
                        "_chg"
                    ),
                )
                .localCheckpoint(eager=False)
            )
            changed = (
                colors_new.agg(
                    F.sum(F.when(F.col("_chg"), 1).otherwise(0)).alias("c")
                ).collect()[0]["c"]
                or 0
            )
            if verbose:
                print(f"scc phase={phase} color round: changed={changed}")
            colors = colors_new
            if changed == 0:
                break
        else:
            break  # budget exhausted mid-coloring
        ps["color_wall"] = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        colors = _persist_count(colors.select("id", "color"))

        # ---- backward mark from roots within each color class.
        # intra-color edges carry the class label; marked rows are
        # (id, scc=color-of-root); the frontier is the newly marked set.
        csrc = colors.select(F.col("id").alias("src_id"), F.col("color").alias("c1"))
        cdst = colors.select(F.col("id").alias("dst_id"), F.col("color").alias("c2"))
        intra = _persist_count(
            rem_edges.join(csrc.hint("shuffle_hash"), "src_id")
            .join(cdst.hint("shuffle_hash"), "dst_id")
            .filter(F.col("c1") == F.col("c2"))
            .select("src_id", "dst_id", F.col("c1").alias("color"))
        )
        marked = (
            colors.filter(F.col("id") == F.col("color"))
            .select("id", F.col("color").alias("scc"))
            .localCheckpoint(eager=True)
        )
        frontier = marked
        while rounds < max_rounds:
            rounds += 1
            ps["mark_rounds"] += 1
            preds = (
                intra.join(
                    frontier.hint("shuffle_hash"), intra.dst_id == frontier.id
                )
                .select(F.col("src_id").alias("id"), F.col("color").alias("scc"))
                .distinct()
            )
            new = preds.join(marked.hint("shuffle_hash"), "id", "left_anti")
            new = new.localCheckpoint(eager=True)
            n_new = new.count()
            if verbose:
                print(f"scc phase={phase} mark round: new={n_new}")
            if n_new == 0:
                break
            marked = marked.unionByName(new).localCheckpoint(eager=False)
            frontier = new

        finalized = marked.localCheckpoint(eager=True)
        ps["mark_wall"] = round(time.monotonic() - t0, 3)
        ps["finalized"] = finalized.count()
        assigned_parts.append(finalized)
        new_verts = _persist_count(
            rem_verts.join(finalized.hint("shuffle_hash"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        new_edges = _persist_count(
            _semi_both(rem_edges, new_verts).localCheckpoint(eager=True)
        )
        rem_verts.unpersist()
        rem_edges.unpersist()
        colors.unpersist()
        intra.unpersist()
        rem_verts, rem_edges = new_verts, new_edges
        if rem_verts.isEmpty():
            done = True
            break

    rem_empty = rem_verts.isEmpty()
    rem_verts.unpersist()
    rem_edges.unpersist()
    if not (done or rem_empty) and raise_on_cap:
        raise RuntimeError(
            f"strongly_connected_components: budget exhausted "
            f"(phases={phases}, rounds={rounds}) before the vertex set emptied"
        )

    spark_session = graph.edges.sparkSession
    if not assigned_parts:
        labels = spark_session.createDataFrame([], "id long, scc long")
    else:
        labels = assigned_parts[0]
        for part in assigned_parts[1:]:
            labels = labels.unionByName(part)
    return SccResult(
        labels=labels.select("id", "scc"),
        phases=phases,
        rounds=rounds,
        phase_stats=phase_stats,
    )


def _reach_fixpoint(
    edges: DataFrame,
    seeds: DataFrame,
    direction: str,
    max_rounds: int,
) -> DataFrame:
    """Vertices from which/to which the seed set is reachable.

    direction='backward': returns {v : v ->* seed} (propagate marks from
    edge dst to edge src). direction='forward': {v : seed ->* v}.
    Seeds are included. Boolean frontier propagation: each round moves
    only newly marked ids."""
    if direction == "backward":
        from_col, to_col = "dst_id", "src_id"
    else:
        from_col, to_col = "src_id", "dst_id"
    marked = seeds.select("id").localCheckpoint(eager=True)
    frontier = marked
    for _ in range(max_rounds):
        step = (
            edges.join(frontier.hint("shuffle_hash"), edges[from_col] == frontier.id)
            .select(F.col(to_col).alias("id"))
            .distinct()
        )
        new = step.join(marked.hint("shuffle_hash"), "id", "left_anti")
        new = new.localCheckpoint(eager=True)
        if new.count() == 0:
            return marked
        marked = marked.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    raise RuntimeError(f"bowtie reachability: no fixpoint in {max_rounds} rounds")


def bowtie_classes(
    graph: GraphTables,
    scc_labels: DataFrame | None = None,
    max_rounds: int = 500,
) -> DataFrame:
    """Broder bow-tie classes over the directed graph: (id: long,
    cls: string) with cls in {CORE, IN, OUT, OTHER}.

    CORE = largest SCC (ties: smallest scc id — deterministic);
    IN   = reaches CORE, not in it;
    OUT  = reachable from CORE, not in it (a vertex that were both IN and
           OUT would be mutually reachable with CORE, i.e. in CORE);
    OTHER = tendrils / tubes / disconnected.
    """
    if scc_labels is None:
        scc_labels = strongly_connected_components(graph).labels
    spark = graph.edges.sparkSession
    npart = graph.partitions
    edges = _persist_count(
        graph.edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(npart, "src_id")
    )
    labels = _persist_count(scc_labels)

    core_row = (
        labels.groupBy("scc")
        .agg(F.count("*").alias("sz"))
        .orderBy(F.desc("sz"), F.asc("scc"))
        .limit(1)
        .collect()
    )
    if not core_row:
        edges.unpersist()
        labels.unpersist()
        return spark.createDataFrame([], "id long, cls string")
    core_id = core_row[0]["scc"]

    core = labels.filter(F.col("scc") == F.lit(core_id)).select("id")
    reaches_core = _reach_fixpoint(edges, core, "backward", max_rounds)
    reached_from = _reach_fixpoint(edges, core, "forward", max_rounds)

    out = (
        labels.select("id", "scc")
        .join(
            reaches_core.select("id", F.lit(True).alias("_in")).hint("shuffle_hash"),
            "id",
            "left",
        )
        .join(
            reached_from.select("id", F.lit(True).alias("_out")).hint("shuffle_hash"),
            "id",
            "left",
        )
        .select(
            "id",
            F.when(F.col("scc") == F.lit(core_id), F.lit("CORE"))
            .when(F.coalesce(F.col("_in"), F.lit(False)), F.lit("IN"))
            .when(F.coalesce(F.col("_out"), F.lit(False)), F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("cls"),
        )
    )
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    labels.unpersist()
    return out
