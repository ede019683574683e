"""synth_edges is perfbench's input generator: its rows are pinned bit for bit,
and building it warns about nothing."""

import hashlib
import warnings

import numpy as np
import pytest

from web_search_pagerank_project_spark.sources.synth import _seed_offset, synth_edges

# sha256 of the sorted "src,dst" lines of
# synth_edges(n_vertices=50, n_edges=300, num_partitions=3, seed=..., as_urls=...)
PINNED = {
    (21, True): "1aa264020b8c5b865b211c56da297bfbaf3e13842a7d6a3e7e6a0e40a46cc819",
    (21, False): "ae14ec3101d07e537ba18b8c626c98ad6dc38100182dd2b61aef870a9b40dd06",
    (42, True): "34f819dbc8f3a7f4930b006ae9810316f801b91dc649d2e17ec9a2cf423a715b",
    (42, False): "86ebe44b541fdd9aaccdabe4c94b5b4b27894174bb1dd91ec26f9e0fca8af2e1",
}


@pytest.mark.parametrize("seed", [21, 42])
def test_seed_offset_wraps_without_warning(seed):
    # both seeds overflow 2**64; the offset equals numpy's wrapped product
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = _seed_offset(seed)
    with np.errstate(over="ignore"):
        want = np.uint64(seed) * np.uint64(0x2545F4914F6CDD1D)
    assert got == want and got.dtype == np.uint64


@pytest.mark.parametrize("seed,as_urls", sorted(PINNED))
def test_synth_edges_rows_pinned(spark, seed, as_urls):
    df = synth_edges(
        spark, n_vertices=50, n_edges=300, seed=seed, num_partitions=3,
        as_urls=as_urls,
    )
    rows = sorted((str(r["src"]), str(r["dst"])) for r in df.collect())
    assert len(rows) == 300
    digest = hashlib.sha256("\n".join(f"{a},{b}" for a, b in rows).encode())
    assert digest.hexdigest() == PINNED[(seed, as_urls)]
