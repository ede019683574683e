"""Checkpoint/resume (X8): resumed run must be bit-identical to uninterrupted."""

import os
import shutil

import numpy as np

from conftest import SMALL_EDGES

from web_search_pagerank_project_spark import build_graph, pagerank
from web_search_pagerank_project_spark.operators.checkpoint import (
    IterationCheckpointer,
)


def test_checkpoint_write_and_lineage(spark, tmp_path):
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df, cache=True)
    ckpt = IterationCheckpointer(str(tmp_path / "ck"))
    res = pagerank(graph, max_iterations=12, checkpoint_every=5, checkpointer=ckpt)
    lineage = ckpt.lineage()
    assert [r["iteration"] for r in lineage] == [5, 10]
    assert lineage[1]["parent_iteration"] == 5
    assert "residual" in lineage[1] and "partition_rows" in lineage[1]
    graph.unpersist()


def test_resume_bit_identical(spark, tmp_path):
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df, cache=True)

    # uninterrupted 20 iterations
    full = pagerank(graph, max_iterations=20)
    full_scores = {r["id"]: r["rank"] for r in full.ranks.collect()}

    # interrupted: run 10 (checkpoint at 10), then resume to 20
    ck_dir = str(tmp_path / "ck2")
    ckpt = IterationCheckpointer(ck_dir)
    pagerank(graph, max_iterations=10, checkpoint_every=10, checkpointer=ckpt)
    assert ckpt._latest_committed() == 10
    resumed = pagerank(graph, max_iterations=20, checkpoint_every=10, checkpointer=ckpt)
    resumed_scores = {r["id"]: r["rank"] for r in resumed.ranks.collect()}

    assert set(full_scores) == set(resumed_scores)
    for k in full_scores:
        # same float64 op sequence modulo partition-order of sums
        assert np.isclose(full_scores[k], resumed_scores[k], atol=1e-13), k
    graph.unpersist()


def test_torn_write_ignored(spark, tmp_path):
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df, cache=True)
    ck_dir = str(tmp_path / "ck3")
    ckpt = IterationCheckpointer(ck_dir)
    pagerank(graph, max_iterations=5, checkpoint_every=5, checkpointer=ckpt)
    # simulate torn write at iter 10: state dir without _SUCCESS
    torn = os.path.join(ck_dir, "state", "iter=10")
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage")
    assert ckpt._latest_committed() == 5
    graph.unpersist()


def test_state_without_lineage_record_ignored(spark, tmp_path):
    """write() commits the parquet (_SUCCESS) before its meta record; a
    failure in between must not leave a state that resume returns."""
    df = spark.createDataFrame(SMALL_EDGES, "src string, dst string")
    graph = build_graph(df, cache=True)
    ck_dir = str(tmp_path / "ck4")
    ckpt = IterationCheckpointer(ck_dir)
    pagerank(graph, max_iterations=5, checkpoint_every=5, checkpointer=ckpt)
    # a complete iter=10 parquet state (with _SUCCESS) but no meta/iter=10.json
    shutil.copytree(
        os.path.join(ck_dir, "state", "iter=5"), os.path.join(ck_dir, "state", "iter=10")
    )
    assert os.path.exists(os.path.join(ck_dir, "state", "iter=10", "_SUCCESS"))
    _, it = ckpt.resume(spark)
    assert it == 5
    assert [r["iteration"] for r in ckpt.lineage()] == [5]
    graph.unpersist()
