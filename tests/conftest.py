import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from web_search_pagerank_project_spark.session import get_spark  # noqa: E402

SMALL_EDGES = [
    ("1", "2"),
    ("1", "3"),
    ("3", "1"),
    ("3", "2"),
    ("3", "5"),
    ("4", "5"),
    ("4", "6"),
    ("5", "6"),
    ("5", "4"),
    ("6", "4"),
]


@pytest.fixture(scope="session")
def spark():
    # few shuffle partitions: tiny fixtures, many iterations — task-launch
    # overhead dominates otherwise. Scale configs (the default get_spark()
    # session) are exercised by perfbench.
    s = get_spark(
        app_name="wspr-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s


@pytest.fixture()
def small_edges_df(spark):
    return spark.createDataFrame(SMALL_EDGES, "src string, dst string")
