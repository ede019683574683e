"""Loader/graph-build parity vs the oracle loader (quirk tests, SURVEY §1.3)."""

from contextlib import contextmanager

import numpy as np

from conftest import SMALL_EDGES
from oracle import load_edges as oracle_load

from web_search_pagerank_project_spark import build_graph
from web_search_pagerank_project_spark.operators.graph_build import (
    ROWS_PER_PARTITION,
    GraphTables,
    dangling_vertices,
    in_degrees,
    loop_partitions,
    out_degrees,
    task_slots,
)


def build(spark, rows, **kw):
    df = spark.createDataFrame(rows, "src string, dst string")
    return build_graph(df, cache=False, **kw)


def weights_by_url(spark, graph):
    v = {r["id"]: r["url"] for r in graph.vertices.collect()}
    return {
        (v[r["src_id"]], v[r["dst_id"]]): r["weight"] for r in graph.edges.collect()
    }


def oracle_weights(rows, **kw):
    g = oracle_load(rows, **kw)
    inv = g.index_dict
    return {
        (inv[s], inv[t]): w for s, t, w in zip(g.src, g.dst, g.w)
    }


def test_weights_match_oracle(spark):
    graph = build(spark, SMALL_EDGES)
    got = weights_by_url(spark, graph)
    expected = oracle_weights(SMALL_EDGES)
    assert set(got) == set(expected)
    for k in expected:
        assert np.isclose(got[k], expected[k]), k


def test_duplicate_edges_sum(spark):
    rows = [("a", "b"), ("a", "b"), ("a", "c")]
    graph = build(spark, rows)
    got = weights_by_url(spark, graph)
    # outdeg(a)=3 rows; weight(a,b)=2/3, weight(a,c)=1/3
    assert np.isclose(got[("a", "b")], 2 / 3)
    assert np.isclose(got[("a", "c")], 1 / 3)


def test_vertex_ids_dense_and_sorted(spark):
    # the id contract: dense [0, n), assigned in url sort order (CC
    # min-id/min-url agreement and labelprop tie-breaks rely on the
    # order), deterministic across independent builds.
    graph = build(spark, SMALL_EDGES)
    rows = sorted(graph.vertices.collect(), key=lambda r: r["id"])
    ids = [r["id"] for r in rows]
    urls = [r["url"] for r in rows]
    assert ids == list(range(graph.n))
    assert urls == sorted(urls)  # ids assigned in url sort order
    again = build(spark, SMALL_EDGES)
    assert sorted(map(tuple, again.vertices.collect())) == sorted(
        map(tuple, graph.vertices.collect())
    )


def test_filter_ratio_keeps_vertices(spark):
    graph = build(spark, SMALL_EDGES, filter_ratio=0.3)
    # edges into "2" (indeg 2 >= 0.3*6) are dropped, vertex kept
    assert graph.n == 6
    got = weights_by_url(spark, graph)
    assert not any(dst == "2" for _, dst in got)
    expected = oracle_weights(SMALL_EDGES, filter_ratio=0.3)
    assert set(got) == set(expected)


def test_degrees_and_dangling(spark):
    graph = build(spark, SMALL_EDGES)
    v = {r["url"]: r["id"] for r in graph.vertices.collect()}
    outd = {r["src_id"]: r["outdeg"] for r in out_degrees(graph).collect()}
    ind = {r["dst_id"]: r["indeg"] for r in in_degrees(graph).collect()}
    assert outd[v["3"]] == 3
    assert v["2"] not in outd  # dangling
    assert ind[v["4"]] == 2
    dang = {r["id"] for r in dangling_vertices(graph).collect()}
    assert dang == {v["2"]}


def test_max_nnz_limit(spark):
    from web_search_pagerank_project_spark.sources.edges import read_edge_csv
    import gzip, os, tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "edges.csv.gz")
        with gzip.open(p, "wt") as f:
            f.write("source,target\n")
            for s, t in SMALL_EDGES:
                f.write(f"{s},{t}\n")
        df = read_edge_csv(spark, p, max_nnz=4)
        # reference keeps max_nnz+1 rows (off-by-one, pagerank.py:36-37)
        assert df.count() == 5
        full = read_edge_csv(spark, p)
        assert full.count() == 10


def test_dense_ids_stable_across_recompute_at_scale(spark):
    """Regression: repartitionByRange resampling must not skew the dense-id
    dictionary (ids must be exactly [0, n) with one url each). At 200k urls
    over 32 partitions the range sampler's nondeterminism corrupted ids
    before assign_dense_ids pinned a single materialization."""
    import pyspark.sql.functions as F

    from web_search_pagerank_project_spark.operators.graph_build import (
        assign_dense_ids,
    )

    urls = (
        spark.range(0, 200_000)
        .select(F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))
    )
    verts = assign_dense_ids(urls, num_partitions=32)
    n = urls.count()
    stats = verts.agg(
        F.countDistinct("id").alias("d"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.count("*").alias("c"),
    ).collect()[0]
    assert stats["c"] == n
    assert stats["d"] == n
    assert stats["lo"] == 0 and stats["hi"] == n - 1
    # re-evaluating the same DataFrame must give the identical mapping
    a = {r["url"]: r["id"] for r in verts.sample(0.01, seed=1).collect()}
    b = {r["url"]: r["id"] for r in verts.filter(F.col("url").isin(list(a))).collect()}
    assert a == {k: b[k] for k in a}


def test_save_load_graph_roundtrip(spark, tmp_path):
    from conftest import SMALL_EDGES

    from web_search_pagerank_project_spark import build_graph, pagerank
    from web_search_pagerank_project_spark.operators.graph_build import (
        load_graph,
        save_graph,
    )

    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    g = build_graph(df, cache=True)
    save_graph(g, str(tmp_path / "g"))
    g2 = load_graph(spark, str(tmp_path / "g"))
    assert g2.n == g.n
    assert sorted(tuple(r) for r in g2.edges.collect()) == sorted(
        tuple(r) for r in g.edges.collect()
    )
    r1 = {x["id"]: x["rank"] for x in pagerank(g, max_iterations=5).ranks.collect()}
    r2 = {x["id"]: x["rank"] for x in pagerank(g2, max_iterations=5).ranks.collect()}
    import numpy as np

    for i in r1:
        assert np.isclose(r1[i], r2[i], atol=1e-15)
    g.unpersist()
    g2.unpersist()


# ---- loop partitions: one count per graph, sized from its edges ----


@contextmanager
def session_shuffle_partitions(spark, n):
    """Run a block with ``spark.sql.shuffle.partitions`` (the partition
    rule's cap) set to ``n``; the conftest session uses 4."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_loop_partitions_slot_floor_and_session_cap(spark):
    slots = task_slots(spark)
    assert slots == 4  # conftest: local[4]
    with session_shuffle_partitions(spark, 32):
        assert loop_partitions(spark, 0) == slots
        assert loop_partitions(spark, 10) == slots
        assert loop_partitions(spark, 6 * ROWS_PER_PARTITION) == 6
        assert loop_partitions(spark, 6 * ROWS_PER_PARTITION + 1) == 7
        assert loop_partitions(spark, 32 * ROWS_PER_PARTITION + 1) == 32
        assert loop_partitions(spark, 10**12) == 32
    # the cap wins over the slot floor
    with session_shuffle_partitions(spark, 2):
        assert loop_partitions(spark, 10) == 2


def test_build_load_update_carry_one_partition_count(spark, tmp_path):
    from web_search_pagerank_project_spark import update_graph
    from web_search_pagerank_project_spark.operators.graph_build import (
        load_graph,
        save_graph,
    )

    delta = spark.createDataFrame([("1", "6"), ("7", "1")], "src string, dst string")
    with session_shuffle_partitions(spark, 32):
        g = build_graph(
            spark.createDataFrame(SMALL_EDGES, "src string, dst string"),
            keep_mult=True,
        )
        save_graph(g, str(tmp_path / "g"))
        g2 = load_graph(spark, str(tmp_path / "g"))
        g3 = update_graph(g2, delta)
        graphs = (g, g2, g3)
        # a small graph gets the slot floor, not the session's 32
        assert [x.partitions for x in graphs] == [task_slots(spark)] * 3
        assert [x.edges.rdd.getNumPartitions() for x in graphs] == [x.partitions for x in graphs]
        # explicit counts stay overrides
        assert load_graph(spark, str(tmp_path / "g"), num_partitions=5).partitions == 5
        g4 = update_graph(g2, delta, num_partitions=3)
        assert g4.partitions == g4.edges.rdd.getNumPartitions() == 3
    assert g3.n == g.n + 1
    for x in graphs + (g4,):
        x.unpersist()


def test_graph_tables_without_partitions_sizes_from_edges(spark):
    g = build(spark, SMALL_EDGES, num_partitions=3)
    assert g.partitions == 3
    with session_shuffle_partitions(spark, 32):
        manual = GraphTables(g.vertices, g.edges, g.n)
        assert manual.partitions == loop_partitions(spark, g.edges.count()) == 4
    assert GraphTables(g.vertices, g.edges, g.n, 7).partitions == 7
