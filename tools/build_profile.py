#!/usr/bin/env python3
"""Decompose build_graph wall time stage by stage (VERDICT r3 #4).

Times each internal stage of build_graph separately on localCheckpointed
synth_edges (zipf 1.5, seed 42; 2M edges over 100k vertices by default),
min-of-N warm, so build time can be attributed to a stage instead of
guessed at.

Usage: python tools/build_profile.py [n_edges] [n_verts] [repeats]
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_verts = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from web_search_pagerank_project_spark.session import get_spark
    from web_search_pagerank_project_spark.operators.graph_build import (
        assign_dense_ids,
        build_graph,
        drop_bad_urls,
    )
    from web_search_pagerank_project_spark.sources.synth import synth_edges

    spark = get_spark(
        app_name="build-profile",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        },
    )
    raw = synth_edges(
        spark, n_vertices=n_verts, n_edges=n_edges, seed=42, zipf_a=1.5
    ).localCheckpoint(eager=True)

    def timed(name, fn):
        best = float("inf")
        out = None
        for _ in range(repeats):
            t0 = time.monotonic()
            out = fn()
            best = min(best, time.monotonic() - t0)
        print(f"{name:28s} {best:7.3f}s")
        return out

    # whole-operator reference number
    timed("build_graph (end-to-end)", lambda: _full(build_graph, raw))

    # stage decomposition -------------------------------------------------
    clean = drop_bad_urls(raw).persist()
    timed("clean scan+persist", clean.count)

    urls_plan = (
        clean.select(F.col("src").alias("url"))
        .unionAll(clean.select(F.col("dst").alias("url")))
        .distinct()
    )
    timed("urls union+distinct", urls_plan.count)

    def dict_build():
        v, n = assign_dense_ids(urls_plan, num_partitions=32, return_count=True)
        v = v.persist()
        v.count()
        return v

    vertices = timed("assign_dense_ids (+persist)", dict_build)

    enc = (
        clean.join(vertices.withColumnRenamed("url", "src"), "src")
        .withColumnRenamed("id", "src_id")
        .join(vertices.withColumnRenamed("url", "dst"), "dst")
        .withColumnRenamed("id", "dst_id")
        .select("src_id", "dst_id")
    )
    timed("encode joins (x2)", enc.count)
    enc = enc.persist()
    enc.count()

    w = Window.partitionBy("src_id")
    weight_plan = (
        enc.repartition(32, "src_id")
        .groupBy("src_id", "dst_id")
        .agg(F.count("*").alias("mult"))
        .withColumn("outdeg", F.sum("mult").over(w))
        .select(
            "src_id",
            "dst_id",
            (F.col("mult") / F.col("outdeg")).alias("weight"),
        )
    )
    timed("weight chain (from cached enc)", weight_plan.count)
    print("--- explain of encode joins ---")
    enc.unpersist()
    enc.explain("formatted")


def _full(build_graph, raw):
    g = build_graph(raw, cache=True)
    g.unpersist()
    return g


if __name__ == "__main__":
    main()
