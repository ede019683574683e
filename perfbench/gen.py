"""Seeded inputs for the workloads, made by the package's own generators.

``sources.synth.synth_edges`` makes the web-analytics url edge table and
``sources.synth.synth_pages`` the crawl-delta pages. Both run once per
(workload, seed, size) inside the run's Spark session; their output is
collected, written as parquet under the cache directory, and kept in
memory (pickled beside the parquet) for the oracles. The program then
reads only those parquet files and snapshots in the layout
``operators.graph_build.save_graph`` writes.

The only thing added to the generators' output is a url mapping for
web-analytics: vertex ids become urls minted from the words of the glove
fixture, so the query phase's terms and synonyms match at varied
selectivities.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the generators' outputs are identical for any partition count; a few
# partitions keep generation (paid once per seed) short
GEN_PARTITIONS = 4


@dataclass
class Snapshot:
    """A graph in the program's saved-snapshot layout, plus its oracle."""

    urls: np.ndarray  # sorted, index == vertex id
    src: np.ndarray  # deduplicated (src_id, dst_id) pairs
    dst: np.ndarray
    mult: np.ndarray  # int64 multiplicity per pair
    weight: np.ndarray  # mult / outdeg(src)


def snapshot_from_url_edges(src_urls: np.ndarray, dst_urls: np.ndarray) -> Snapshot:
    """Reference graph semantics (tests/oracle.py): dense ids in url order,
    duplicates collapse into multiplicity, weight = mult / outdeg(src)."""
    urls = np.unique(np.concatenate([src_urls, dst_urls]))
    n = len(urls)
    s = np.searchsorted(urls, src_urls).astype(np.int64)
    d = np.searchsorted(urls, dst_urls).astype(np.int64)
    keys, mult = np.unique(s * n + d, return_counts=True)
    ps, pd_ = keys // n, keys % n
    outdeg = np.bincount(ps, weights=mult, minlength=n)
    return Snapshot(urls, ps, pd_, mult.astype(np.int64), mult / outdeg[ps])


def write_snapshot(snap: Snapshot, path: str, ranks: np.ndarray | None = None) -> None:
    """save_graph's layout: ``vertices`` (id, url), ``edges`` (src_id,
    dst_id, weight, mult); optional ``ranks`` (id, rank)."""
    ids = np.arange(len(snap.urls), dtype=np.int64)
    _write(pa.table({"id": ids, "url": snap.urls.astype(object)}), f"{path}/vertices")
    _write(
        pa.table(
            {"src_id": snap.src, "dst_id": snap.dst, "weight": snap.weight, "mult": snap.mult}
        ),
        f"{path}/edges",
    )
    if ranks is not None:
        _write(pa.table({"id": ids, "rank": ranks}), f"{path}/ranks")


def _write(table: pa.Table, directory: str, parts: int = 4) -> None:
    os.makedirs(directory, exist_ok=True)
    step = max(1, -(-table.num_rows // parts))
    for i, off in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(off, step), f"{directory}/part-{i:05d}.parquet")


# --- queries -------------------------------------------------------------


def load_words(path: str) -> list[str]:
    """Vocabulary of a word2vec text file (first token of each vector line)."""
    with open(path, encoding="utf-8") as f:
        next(f)
        return [line.split(" ", 1)[0] for line in f if line.strip()]


def vocab_urls(seed: int, n: int, words: list[str]) -> np.ndarray:
    """One url per vertex id in [0, n), built from vocabulary words picked at
    Zipf-skewed frequencies. Each has one '/', so the reference's drop
    regex keeps it, and ends in the id, so the urls are distinct."""
    rng = np.random.default_rng([seed, 2])
    w = np.array(words)
    a, b, c = (w[(rng.zipf(1.3, n) - 1) % len(w)] for _ in range(3))
    host = rng.integers(0, 500, n)
    return np.array([f"www.{x}{h}.com/{y}-{z}-{i}" for i, (x, h, y, z) in enumerate(zip(a, host, b, c))])


QUERY_SHAPES = 6


def query_mix(seed: int, words: list[str], n: int) -> list[tuple[str, bool]]:
    """(query, expand_synonyms) pairs cycling through six shapes: a single
    term, multi-term OR, a veto, the empty query and two synonym-expanded
    shapes. The words are seeded; the cycle keeps every run's shape mix
    the same, so latency percentiles compare across seeds."""
    rng = np.random.default_rng([seed, 3])
    w = lambda: words[int(rng.integers(0, len(words)))]  # noqa: E731
    shapes = [  # QUERY_SHAPES of them
        lambda: (w(), False),
        lambda: (f"{w()} {w()}", False),
        lambda: (f"{w()} -{w()}", False),
        lambda: ("", False),
        lambda: (w(), True),
        lambda: (f"{w()} {w()}", True),
    ]
    return [shapes[i % len(shapes)]() for i in range(n)]


# --- web-analytics ---------------------------------------------------------


def web_analytics(spark, seed: int, n_vertices: int, n_edges: int, words: list[str], path: str):
    """``synth_edges`` (power-law in-degree, uniform sources) with its vertex
    ids mapped to vocabulary urls, written as a parquet (src, dst) table.
    Returns the (src, dst) url arrays."""
    from web_search_pagerank_project_spark.sources.synth import synth_edges

    pdf = synth_edges(
        spark, n_vertices=n_vertices, n_edges=n_edges, seed=seed, as_urls=False, num_partitions=GEN_PARTITIONS
    ).toPandas()
    urls = vocab_urls(seed, n_vertices, words)
    src, dst = urls[pdf["src"].to_numpy()], urls[pdf["dst"].to_numpy()]
    _write(pa.table({"src": src.astype(object), "dst": dst.astype(object)}), path)
    return src, dst


# --- crawl-delta -----------------------------------------------------------

# the page template's links (sources.synth.render_page_html)
_HREF = re.compile(r'<a href="([^"]*)">')


def latest_captures(pdf) -> dict:
    """url -> (html, text) of the latest capture of each url."""
    latest = pdf.sort_values("warc_ts").drop_duplicates("url", keep="last")
    return {
        u: (h.decode() if isinstance(h, (bytes, bytearray)) else str(h), t)
        for u, h, t in zip(latest["url"], latest["html"], latest["text"])
    }


def _link_edges(latest: dict) -> tuple[np.ndarray, np.ndarray]:
    src, dst = [], []
    for url, (html, _) in latest.items():
        links = _HREF.findall(html)
        src += [url] * len(links)
        dst += links
    return np.array(src), np.array(dst)


@dataclass
class CrawlDelta:
    base: Snapshot
    delta_src: np.ndarray  # url edges of the latest capture of each delta page
    delta_dst: np.ndarray
    text: dict  # url -> text of its latest capture in the delta batch


def crawl_delta(spark, seed: int, n_base: int, delta_share: float, path: str) -> CrawlDelta:
    """A base crawl of ``n_base`` pages and a re-crawl batch, both from
    ``synth_pages``. The batch holds ``delta_share * n_base`` urls: a fifth
    of them new pages (ids past the base crawl), the rest a seeded sample of
    base pages re-captured with new content and links (another generator
    seed), each with the generator's stale older captures. The batch is
    written as a pages parquet table under ``path``."""
    from pyspark.sql import functions as F

    from web_search_pagerank_project_spark.sources.synth import synth_pages

    rng = np.random.default_rng([seed, 4])
    n_delta = max(2, int(n_base * delta_share))
    n_new = max(1, n_delta // 5)
    ids = np.concatenate([rng.choice(n_base, n_delta - n_new, replace=False), np.arange(n_base, n_base + n_new)])
    delta_urls = [f"www.example{i % 97}.com/page-{i}" for i in ids.tolist()]  # synth_pages' url scheme
    base = synth_pages(spark, n=n_base, seed=2 * seed, num_partitions=GEN_PARTITIONS)
    delta = synth_pages(
        spark, n=n_base + n_new, seed=2 * seed + 1, dup_fraction=0.2, num_partitions=GEN_PARTITIONS
    ).filter(F.col("url").isin(delta_urls))
    both = base.withColumn("recrawl", F.lit(False)).unionByName(delta.withColumn("recrawl", F.lit(True))).toPandas()
    pages = both[both["recrawl"]].drop(columns="recrawl")
    table = pa.Table.from_pandas(pages, preserve_index=False)
    _write(table.set_column(1, "warc_ts", table["warc_ts"].cast(pa.timestamp("us", tz="UTC"))), path)

    latest = latest_captures(pages)
    if len(latest) != len(ids):
        raise RuntimeError(f"re-crawl batch has {len(latest)} urls, expected {len(ids)}")
    bs, bd = _link_edges(latest_captures(both[~both["recrawl"]]))
    ds, dd = _link_edges(latest)
    return CrawlDelta(
        snapshot_from_url_edges(bs, bd), ds, dd, {u: t for u, (_, t) in latest.items()}
    )
