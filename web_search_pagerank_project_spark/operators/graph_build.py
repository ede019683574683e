"""Graph construction: url edge list -> dictionary-encoded weighted edge table.

Implements the reference ingest pipeline (/root/reference/pagerank.py:18-74)
as declarative DataFrame operations (SURVEY.md §2.1 O1-O9):

  1. regex drop        — skip edge when src OR dst matches ``(/$)|(/.*/)``
                         (pagerank.py:38-41); Catalyst pushes this into the scan.
  2. vertex dictionary — dense contiguous int64 ids over distinct urls
                         (pagerank.py:77-83). Id *order* is engine-defined
                         (sorted by url) — scores are permutation-equivariant
                         (SURVEY.md §1.3.5), so tests compare per url.
  3. in-degree         — per-dst row counts, pre-filter (pagerank.py:29-30,44).
  4. filter_ratio      — keep edge iff indeg(dst) < ratio * n, where n is the
                         post-regex PRE-filter vertex count and the vertex
                         dictionary is NOT shrunk by filtering
                         (pagerank.py:47-53, README.md:226-233).
  5. weights           — weight(s,t) = multiplicity(s,t) / outdeg(s), equal to
                         the reference's run-length 1/outdeg values with
                         torch-COO duplicate summation (SURVEY.md §1.3.4) on
                         sorted input, and well-defined on unsorted input.

Scale design: dense-id assignment avoids a single global window (which would
serialize on one task at 10^12 urls) by a hash-partitioned two-pass —
per-partition record numbers from ``monotonically_increasing_id`` after a
local sort, plus collected per-partition offsets (K scalar rows to the
driver); one shuffle of the dictionary total. Joins url->id are plain
equi-joins that AQE turns into broadcast joins when the dictionary is small
and sort-merge otherwise.

Loop partitions: every graph carries one partition count
(``GraphTables.partitions``, set by :func:`loop_partitions` from its edge
count) that its build and every operator's explicit repartitions use. On a
small host an iterative operator pays a fixed cost per task and per stage,
so a 64k-edge graph runs one partition per task slot, not one per
session shuffle partition; the session setting is only the cap, so a big
graph on a cluster keeps the configured parallelism.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Python re.match(r'.*((/$)|(/.*/)).*') anchors at start but the leading '.*'
# makes it a containment test; rlike has containment semantics already.
URL_DROP_PATTERN = r"(/$)|(/.*/)"

# edge rows per loop partition: a graph gets ceil(edges / ROWS_PER_PARTITION)
# partitions, at least one per task slot (scc measured 64 partitions at 18 s
# of trim rounds against 7 s at 8 on a 100k-vertex graph)
ROWS_PER_PARTITION = 250_000


def task_slots(spark) -> int:
    """Tasks the session runs at once: N on ``local[N]`` (the JVM's cores on
    ``local[*]``), executors × cores per executor on a cluster when both are
    configured, else 0 (unknown: the partition rule then falls to its cap)."""
    sc = spark.sparkContext
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?", sc.master)
    if m:
        if m.group(1) == "*":
            return int(sc._jvm.java.lang.Runtime.getRuntime().availableProcessors())
        return int(m.group(1) or 1)
    conf = sc.getConf()
    instances = conf.get("spark.executor.instances")
    cores = conf.get("spark.executor.cores")
    return int(instances) * int(cores) if instances and cores else 0


def loop_partitions(spark, edges: int) -> int:
    """The partition count of a graph with ``edges`` rows: one partition per
    ROWS_PER_PARTITION edges, raised to the session's task slots and capped
    at ``spark.sql.shuffle.partitions``. The one place the engine reads
    that setting for a graph."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    slots = task_slots(spark) or cap
    return min(cap, max(slots, -(-edges // ROWS_PER_PARTITION)))


@dataclass
class GraphTables:
    """The engine's graph substrate.

    vertices:       (id: long, url: string)            — dense ids [0, n)
    edges:          (src_id: long, dst_id: long, weight: double)
                    weight = multiplicity/outdeg(src); duplicates collapsed
    n:              vertex count (len of dictionary, incl. filtered-out dsts)
    partitions:     partition count of every loop over this graph (edges
                    come hashed by src_id into this many partitions); left
                    out, it is set by loop_partitions from the edge count
    """

    vertices: DataFrame
    edges: DataFrame
    n: int
    partitions: int = 0

    def __post_init__(self) -> None:
        if not self.partitions:
            self.partitions = loop_partitions(
                self.edges.sparkSession, self.edges.count()
            )

    def unpersist(self) -> None:
        for df in (self.vertices, self.edges):
            try:
                df.unpersist()
            except Exception:
                pass


def drop_bad_urls(edges: DataFrame) -> DataFrame:
    """Reference regex drop (pagerank.py:38-41), JVM-side via rlike."""
    return edges.filter(
        ~F.col("src").rlike(URL_DROP_PATTERN) & ~F.col("dst").rlike(URL_DROP_PATTERN)
    )


def assign_dense_ids(
    urls: DataFrame,
    num_partitions: int,
    id_col: str = "id",
    return_count: bool = False,
    start_id: int = 0,
):
    """Assign dense contiguous int64 ids to a distinct `url` column,
    starting at ``start_id`` (incremental callers pass the existing vertex
    count so new urls extend the dictionary without renumbering).

    Scalable dictionary encode: range-partition by url (global
    lexicographic order — CC min-id/min-url agreement and labelprop
    tie-breaks depend on id order following url order), sort locally, and
    read per-partition dense row numbers straight out of
    ``monotonically_increasing_id`` (layout: partition id in the upper 31
    bits, sequential record number in the lower 33 — a pure projection,
    so numbering costs neither a window nor the hash(_pid) exchange the
    old row_number() plan paid). Collected per-partition counts become
    exclusive prefix offsets; only K tiny rows hit the driver; ids are
    globally dense, url-sorted, deterministic.

    return_count=True returns (df, n): the vertex count falls out of the
    per-partition offsets for free, so callers skip a whole count() job.
    """
    # repartitionByRange SAMPLES the data to choose range boundaries. Two
    # consequences handled here:
    #   * the sampling pass re-computes the child plan — for the usual
    #     caller that is the full union+distinct over every edge endpoint,
    #     the single most expensive stage of the build. Persisting the
    #     input makes the sampler's computation the one that fills the
    #     cache and every later pass a cache read (O(V) storage — the
    #     dictionary itself, never the edges).
    #   * sampled boundaries can differ between two computations of the
    #     same plan, so the offsets collected below would not match a
    #     recomputed exchange (observed as corrupt ids at 1M urls). The
    #     lazy localCheckpoint pins ONE materialization for both the
    #     counts job and the id projection; a lost block fails loudly
    #     instead of silently mis-assigning ids.
    # >2^33 rows per partition would overflow the record number; that is
    # 8.5e9 urls in one range partition — size num_partitions accordingly.
    # persist only if the caller hasn't already: unpersisting a plan the
    # caller persisted would drop THEIR cache as a side effect (ADVICE r3)
    from pyspark import StorageLevel

    owns_cache = urls.storageLevel == StorageLevel.NONE
    # a distinct comes out in one partition per session shuffle partition
    # (AQE does not coalesce a cached plan): merge them into the graph's
    urls = urls.coalesce(num_partitions)
    if owns_cache:
        urls = urls.persist()
    parts = (
        urls.repartitionByRange(num_partitions, "url")
        .sortWithinPartitions("url")
        .withColumn("_mono", F.monotonically_increasing_id())
        .select(
            "url",
            F.shiftright("_mono", 33).cast("int").alias("_pid"),
            (F.col("_mono") % F.lit(1 << 33)).alias("_rn"),
        )
        .localCheckpoint(eager=False)
    )
    # per-partition counts -> exclusive prefix offsets (tiny driver-side step)
    counts = {
        r["_pid"]: r["cnt"]
        for r in parts.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    # the collect above materialized the checkpoint; the sampler cache has
    # served both its passes and can go
    if owns_cache:
        urls.unpersist()
    offsets, acc = {}, start_id
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    acc -= start_id  # return_count reports the batch size, not the end id
    # offsets as a literal map: no table to parallelize and broadcast
    offset_of = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    ).cast("map<bigint, bigint>")
    out = parts.select(
        (offset_of[F.col("_pid").cast("long")] + F.col("_rn")).alias(id_col), "url"
    )
    if return_count:
        return out, acc
    return out


def build_graph(
    edges: DataFrame,
    filter_ratio: float | None = None,
    num_partitions: int | None = None,
    cache: bool = True,
    keep_mult: bool = False,
    weight_col: str | None = None,
) -> GraphTables:
    """url edge list (src, dst) -> GraphTables per reference semantics.

    The weighted edge table is persisted pre-partitioned by ``src_id`` so the
    per-iteration SpMV join shuffles only the (small) rank vector, never the
    edges (SURVEY.md §4.3 stable co-partitioning).

    keep_mult: carry the raw per-pair multiplicity as an extra ``mult``
    column on the edge table — required input for incremental snapshot
    maintenance (operators/incremental.py::update_graph), which must merge
    multiplicities, not the outdeg-normalized weights.

    weight_col: treat each input row as carrying ``weight_col`` parallel
    links instead of 1 (e.g. the host graph's ``n_src_pages`` — rank hosts
    by distinct linking pages, damping sitewide boilerplate links). The
    multiplicity of a pair becomes SUM(weight_col); everything downstream
    (outdeg normalization, dangling detection) is unchanged. Rows with
    non-positive or null weight are dropped (they carry no link mass).

    num_partitions: the graph's loop partition count (``partitions``);
    left out, :func:`loop_partitions` sets it from the input's edge rows.
    """
    # clean feeds BOTH the dictionary build and the edge encode; persisting it
    # saves a full re-scan/re-parse of the (gzipped CSV) source.
    clean = drop_bad_urls(edges)
    if weight_col is not None:
        clean = clean.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
    if cache:
        clean = clean.persist()
    if num_partitions is None:
        # input rows bound the distinct edges; the count fills clean's cache,
        # which the dictionary build would otherwise fill
        num_partitions = loop_partitions(edges.sparkSession, clean.count())
    # later stages read the input in the graph's partitions
    links = clean.coalesce(num_partitions)

    # vertex dictionary over BOTH endpoints, pre-filter_ratio (reference dict
    # keeps vertices whose every edge is later filtered away)
    urls = (
        links.select(F.col("src").alias("url"))
        .unionAll(links.select(F.col("dst").alias("url")))
        .distinct()
    )
    # n comes out of the dictionary build's own offsets — no count() job
    vertices, n = assign_dense_ids(
        urls, num_partitions=num_partitions, return_count=True
    )
    if cache:
        vertices = vertices.persist()

    # encode both endpoints (two equi-joins; AQE broadcasts small dictionaries)
    link_cols = [] if weight_col is None else [weight_col]
    e = (
        links.join(vertices.withColumnRenamed("url", "src"), "src")
        .withColumnRenamed("id", "src_id")
        .join(vertices.withColumnRenamed("url", "dst"), "dst")
        .withColumnRenamed("id", "dst_id")
        .select("src_id", "dst_id", *link_cols)
    )

    if filter_ratio is not None:
        # in-degree counts rows pre-filter (pagerank.py:29-30); threshold uses
        # the pre-filter vertex count n (pagerank.py:51)
        indeg = e.groupBy("dst_id").agg(F.count("*").alias("indeg"))
        hot = indeg.filter(F.col("indeg") >= F.lit(filter_ratio) * F.lit(float(n)))
        # hot set is small by construction -> broadcast anti-join
        e = e.join(F.broadcast(hot.select("dst_id")), "dst_id", "left_anti")

    # multiplicity + out-degree -> weights (duplicates collapse into weight).
    # ONE exchange: hash by src_id up front, then the (src_id, dst_id)
    # group-count needs no further shuffle (HashPartitioning(src_id)
    # satisfies ClusteredDistribution(src_id, dst_id)), the out-degree is a
    # sum-over-window on the same partitioning, and the result is already in
    # the kernel's contract partitioning (hashed by src_id) — the old
    # mult -> outdeg agg -> join -> repartition chain cost 3 extra shuffles.
    # (Window partitionBy(src_id) concentrates each source's edges in one
    # task — fine for web out-degrees, which are bounded by page size;
    # in-degree hubs, the skewed side, never pass through a window here.)
    w = Window.partitionBy("src_id")
    mult_agg = (
        F.count("*") if weight_col is None else F.sum(F.col(weight_col))
    ).alias("mult")
    mult_cols = ["mult"] if keep_mult else []
    weighted = (
        e.repartition(num_partitions, "src_id")
        .groupBy("src_id", "dst_id")
        .agg(mult_agg)
        .withColumn("outdeg", F.sum("mult").over(w))
        .select(
            "src_id",
            "dst_id",
            (F.col("mult").cast("double") / F.col("outdeg").cast("double")).alias(
                "weight"
            ),
            *mult_cols,
        )
    )
    if cache:
        weighted = weighted.persist()
        weighted.count()  # materialize so iterations never re-derive lineage
        clean.unpersist()

    return GraphTables(
        vertices=vertices, edges=weighted, n=n, partitions=num_partitions
    )


def in_degrees(graph: GraphTables) -> DataFrame:
    """(dst_id, indeg) over the weighted (deduped) edge table."""
    return graph.edges.groupBy("dst_id").agg(F.count("*").alias("indeg"))


def out_degrees(graph: GraphTables) -> DataFrame:
    """(src_id, outdeg) over the weighted (deduped) edge table."""
    return graph.edges.groupBy("src_id").agg(F.count("*").alias("outdeg"))


def dangling_vertices(graph: GraphTables) -> DataFrame:
    """(id) of vertices with zero out-edges — the reference's ``a`` indicator
    (ws_pagerank.py:146-151) as a left-anti join instead of an O(n) loop."""
    return graph.vertices.select("id").join(
        graph.edges.select(F.col("src_id").alias("id")).distinct(), "id", "left_anti"
    )


def save_graph(graph: GraphTables, path: str) -> None:
    """Persist a built graph (vertices + weighted edges) as parquet for
    reuse across runs/sessions — the batch analogue of a graph snapshot."""
    graph.vertices.write.mode("overwrite").parquet(f"{path}/vertices")
    graph.edges.write.mode("overwrite").parquet(f"{path}/edges")


def load_graph(
    spark, path: str, num_partitions: int | None = None, cache: bool = True
) -> GraphTables:
    """Load a graph saved by :func:`save_graph`; edges come back hashed by
    ``src_id`` (the iteration-kernel partitioning contract) into
    ``num_partitions`` partitions, by default :func:`loop_partitions` of
    the saved edge count."""
    vertices = spark.read.parquet(f"{path}/vertices")
    edges = spark.read.parquet(f"{path}/edges")
    if cache:
        vertices = vertices.persist()
    # one count job for both tables (it also fills the vertex cache)
    counts = dict(
        vertices.select(F.lit("v").alias("t"))
        .unionAll(edges.select(F.lit("e").alias("t")))
        .groupBy("t")
        .count()
        .collect()
    )
    n = counts.get("v", 0)
    if num_partitions is None:
        num_partitions = loop_partitions(spark, counts.get("e", 0))
    edges = edges.repartition(num_partitions, "src_id")
    if cache:
        edges = edges.persist()
        edges.count()
    return GraphTables(
        vertices=vertices, edges=edges, n=n, partitions=num_partitions
    )
