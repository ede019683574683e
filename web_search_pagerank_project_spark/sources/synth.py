"""Deterministic synthetic data generators (FIXTURES.md; no external data).

* ``synth_edges``        — seeded power-law (Zipf) directed url graph; used by
                           perfbench and skew tests.
* ``synth_pages``        — Common-Crawl-style pages table per BASELINE.json
                           input_hint (url, warc_ts, html binary, text, lang):
                           renders each page's HTML from its outlink list with
                           a fixed template and stores the template's exact
                           text rendering, so extraction correctness is exact
                           string equality (functions/html.py round-trip).
* ``derive_edges_from_documents`` — edge table derived arithmetically from the
                           driver's ``documents`` table; the same derivation is
                           expressible in ANSI SQL (see __spark_entry__
                           oracle_sql) so DuckDB can cross-check downstream
                           graph queries.

All generators are pure functions of (seed, size) — no wall clock, no RNG
state outside numpy's seeded Generator; pages are generated distributed-side
via ``mapInPandas`` over an id range so nothing large materializes on the
driver.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_EPOCH = datetime(2024, 1, 1)


def _url(i: int) -> str:
    return f"www.example{i % 97}.com/page-{i}"


def _outlinks_for(i: int, n: int, rng: np.random.Generator, zipf_a: float, max_out: int) -> np.ndarray:
    """Power-law out-degree; targets Zipf-biased toward low ids (hubs)."""
    k = int(min(max_out, max(1, rng.zipf(zipf_a))))
    targets = (rng.zipf(zipf_a, size=k) - 1) % n
    return targets


def render_page_html(url: str, title: str, paragraphs: list[str], outlinks: list[str]) -> str:
    """The fixed page template. functions/html.py's extractor must invert this
    byte-identically for the text parts."""
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    links = "".join(f'<a href="{u}">link</a>' for u in outlinks)
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body>{body}<nav>{links}</nav></body></html>"
    )


def expected_text(title: str, paragraphs: list[str]) -> str:
    return "\n".join([title] + paragraphs)


def synth_pages(
    spark: SparkSession,
    n: int = 1000,
    seed: int = 42,
    zipf_a: float = 1.8,
    max_out: int = 40,
    dup_fraction: float = 0.1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic pages table. A ``dup_fraction`` of urls get a
    second, older capture with different html (dedupe-by-latest test)."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ids = spark.range(0, n, 1, num_partitions)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"].tolist():
                rng = np.random.default_rng(seed * 1_000_003 + i)
                url = _url(i)
                targets = _outlinks_for(i, n, rng, zipf_a, max_out)
                outlinks = [_url(int(t)) for t in targets]
                title = f"Page {i} of example{i % 97}"
                paragraphs = [
                    f"Paragraph {j} of page {i}: "
                    + " ".join(
                        f"w{int(w)}" for w in rng.integers(0, 5000, size=12)
                    )
                    for j in range(int(rng.integers(1, 4)))
                ]
                html = render_page_html(url, title, paragraphs, outlinks)
                text = expected_text(title, paragraphs)
                ts = _EPOCH + timedelta(seconds=int(rng.integers(0, 10_000_000)))
                rows.append((url, ts, html.encode(), text, "en"))
                if rng.random() < dup_fraction:
                    # stale capture: strictly older ts, different content
                    old_html = render_page_html(url, f"OLD {title}", ["stale"], [])
                    rows.append(
                        (
                            url,
                            ts - timedelta(days=400),
                            old_html.encode(),
                            expected_text(f"OLD {title}", ["stale"]),
                            "en",
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return ids.mapInPandas(gen, schema=PAGES_SCHEMA)


def _seed_offset(seed: int) -> np.uint64:
    """seed * an odd constant, wrapped mod 2**64 as a Python int: a numpy
    scalar multiply wraps identically but warns on overflow."""
    return np.uint64(seed * 0x2545F4914F6CDD1D % (1 << 64))


def synth_edges(
    spark: SparkSession,
    n_vertices: int = 10_000,
    n_edges: int = 100_000,
    seed: int = 42,
    zipf_a: float = 1.5,
    num_partitions: int | None = None,
    as_urls: bool = True,
) -> DataFrame:
    """Seeded power-law directed graph: sources ~uniform, destinations
    ~Zipf (hub-heavy in-degree — exercises filter_ratio and skew paths)."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ids = spark.range(0, n_edges, 1, num_partitions)

    schema = "src string, dst string" if as_urls else "src long, dst long"
    offset = _seed_offset(seed)

    def _splitmix64(x: np.ndarray) -> np.ndarray:
        # deterministic per-edge hash — vectorized, batch-independent
        with np.errstate(over="ignore"):
            z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            eids = pdf["id"].to_numpy().astype(np.uint64)
            base = eids + offset
            h1 = _splitmix64(base)
            h2 = _splitmix64(base ^ np.uint64(0xD1B54A32D192ED03))
            u1 = (h1 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            u2 = (h2 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            src = np.floor(u1 * n_vertices).astype(np.int64) % n_vertices
            # Zipf-ish in-degree via Pareto inverse-CDF: heavy hubs at low ids
            pareto = np.floor(np.power(np.maximum(u2, 1e-12), -1.0 / (zipf_a - 1.0)))
            dst = (pareto.astype(np.int64) - 1) % n_vertices
            if as_urls:
                yield pd.DataFrame(
                    {
                        "src": [f"node{s}.example.com" for s in src],
                        "dst": [f"node{d}.example.com" for d in dst],
                    }
                )
            else:
                yield pd.DataFrame({"src": src, "dst": dst})

    return ids.mapInPandas(gen, schema=schema)


def derive_edges_from_documents(documents: DataFrame, n_vertices: int = 1000) -> DataFrame:
    """Deterministic arithmetic edge derivation over the driver's documents
    table — portable to ANSI SQL (DuckDB oracle):

        src = (doc_id * doc_id) % V          -- quadratic residues: some
                                             -- vertices never source an edge
                                             -- => real dangling set + skew
        dst = (doc_id * 1103515245 + 12345) % 2147483648 % V

    Returned as string urls 'n<k>' so the full url pipeline is exercised."""
    V = n_vertices
    return documents.select(
        F.concat(F.lit("n"), ((F.col("doc_id") * F.col("doc_id")) % V).cast("string")).alias("src"),
        F.concat(
            F.lit("n"),
            (
                ((F.col("doc_id") * F.lit(1103515245) + F.lit(12345)) % F.lit(2147483648))
                % V
            ).cast("string"),
        ).alias("dst"),
    )
