"""Tests of the benchmark itself: its metric list against BENCHMARK.json, its
vectorized oracles against the repository's reference oracle
(tests/oracle.py), and a smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# tests/oracle.py, loaded by path: its module name clashes with ours
_spec = importlib.util.spec_from_file_location("reference_oracle", os.path.join(ROOT, "tests", "oracle.py"))
ref = sys.modules["reference_oracle"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ref)


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _random_rows(seed: int, n: int = 40, m: int = 160):
    rng = np.random.default_rng(seed)
    src, dst = rng.integers(0, n, m), rng.integers(0, n, m)
    # every vertex links out, so the reference power method converges
    src = np.concatenate([np.arange(n), src])
    dst = np.concatenate([rng.integers(0, n, n), dst])
    return [(f"h{s % 5}.com/p{s}", f"h{d % 5}.com/p{d}") for s, d in zip(src, dst)]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_vectorized_oracles_match_the_reference_oracle(seed):
    rows = _random_rows(seed)
    snap = gen.snapshot_from_url_edges(np.array([s for s, _ in rows]), np.array([d for _, d in rows]))
    urls = snap.urls.tolist()

    want = ref.pagerank_by_url(rows)
    got, _ = oracle.power_method(snap)
    assert np.allclose(got, [want[u] for u in urls], rtol=0, atol=1e-12)

    want = ref.pagerank_by_url(rows, pv_query="h1")
    got, _ = oracle.power_method(snap, oracle.personalization(snap.urls, "h1"))
    assert np.allclose(got, [want[u] for u in urls], rtol=0, atol=1e-12)

    cc = ref.connected_components_oracle(rows)
    assert snap.urls[oracle.components(snap)].tolist() == [cc[u] for u in urls]

    lpa = ref.label_propagation_oracle(rows, max_iters=20)
    assert snap.urls[oracle.label_propagation(snap, 20)].tolist() == [lpa.get(u, u) for u in urls]

    assert oracle.triangles(snap) == ref.triangle_count_oracle(rows)

    for query in ["h1", "p1 h2", "h3 -p3", "-h4", ""]:
        assert oracle.matches(snap.urls, query).tolist() == [ref.url_satisfies_query(u, query) for u in urls]


def test_warm_start_converges_to_the_cold_fixed_point():
    rows = _random_rows(4)
    snap = gen.snapshot_from_url_edges(np.array([s for s, _ in rows]), np.array([d for _, d in rows]))
    prev = snap.urls[:-3]  # three urls are new in this snapshot
    x0 = oracle.warm_start(snap, prev, np.full(len(prev), 0.2))
    warm, _ = oracle.power_method(snap, x0=x0, epsilon=1e-12)
    assert np.allclose(warm, oracle.fixed_point(snap), rtol=0, atol=1e-10)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_is_correct(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-2000:]
    assert set(result["metrics"]) == set(run.PER_LAYER)
