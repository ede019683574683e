"""CLI front-end mirroring the reference argparse surface (O24;
/root/reference/pagerank.py:232-254), plus cluster/engine flags.

Usage (same flags as the reference, so a user can switch 1:1):

    spark-submit --py-files wspr.zip -m web_search_pagerank_project_spark.plans.cli \
        --data data/small.csv.gz --search_query corona --verbose

Extra engine flags: --master, --partitions, --checkpoint_dir, --algorithm
(pagerank | components | labelprop | triangles | hits | kcore | scc |
bowtie), --k (kcore threshold).
"""

from __future__ import annotations

import argparse
import logging

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="wspr-engine")
    # reference-compatible flags (pagerank.py:232-244)
    parser.add_argument("--data", required=True)
    parser.add_argument("--personalization_vector_query")
    parser.add_argument("--search_query", default="")
    parser.add_argument("--filter_ratio", type=float, default=None)
    parser.add_argument("--alpha", type=float, default=0.85)
    parser.add_argument("--max_iterations", type=int, default=1000)
    parser.add_argument("--epsilon", type=float, default=1e-6)
    parser.add_argument("--max_results", type=int, default=10)
    parser.add_argument("--verbose", action="store_true")
    # engine extensions
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions (default $WSPR_SHUFFLE_PARTITIONS "
        "or 32): the partitions of "
        "Spark's own shuffles and the cap of the graph's loop partitions, "
        "which are sized from the edge count (one per 250k edges, at least "
        "one per task slot)",
    )
    parser.add_argument("--checkpoint_dir", default=None)
    parser.add_argument(
        "--algorithm",
        default="pagerank",
        choices=[
            "pagerank",
            "components",
            "labelprop",
            "triangles",
            "hits",
            "kcore",
            "scc",
            "bowtie",
            "harmonic",
            "hyperball",
            "anf",
            "assortativity",
            "hostgraph",
        ],
    )
    parser.add_argument(
        "--k",
        type=int,
        default=2,
        help="k for --algorithm kcore (within-core degree threshold)",
    )
    parser.add_argument("--output", default=None, help="optional parquet sink")
    parser.add_argument(
        "--synonyms_file",
        default=None,
        help="local word2vec-text vector file for query synonym expansion "
        "(replaces the reference's network-downloaded gensim model)",
    )
    return parser


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    logging.basicConfig(level=logging.DEBUG if args.verbose else logging.INFO)

    from ..session import get_spark

    spark = get_spark(
        app_name=f"wspr-{args.algorithm}",
        master=args.master,
        shuffle_partitions=args.partitions,
    )

    if args.algorithm == "pagerank":
        from ..operators.checkpoint import IterationCheckpointer
        from .pipeline import run_pipeline

        ckpt = IterationCheckpointer(args.checkpoint_dir) if args.checkpoint_dir else None
        out = run_pipeline(
            spark,
            data=args.data,
            personalization_vector_query=args.personalization_vector_query,
            search_query=args.search_query,
            filter_ratio=args.filter_ratio,
            alpha=args.alpha,
            max_iterations=args.max_iterations,
            epsilon=args.epsilon,
            max_results=args.max_results,
            checkpointer=ckpt,
            verbose=args.verbose,
            synonyms_file=args.synonyms_file,
        )
    else:
        from ..operators.graph_build import build_graph
        from ..sources.edges import read_edge_csv

        graph = build_graph(
            read_edge_csv(spark, args.data), filter_ratio=args.filter_ratio
        )
        if args.algorithm == "components":
            from ..operators.components import connected_components

            out = connected_components(graph).join(graph.vertices, "id").select(
                "url", "component"
            )
        elif args.algorithm == "labelprop":
            from ..operators.labelprop import label_propagation

            out = label_propagation(graph).join(graph.vertices, "id").select(
                "url", "label"
            )
        elif args.algorithm == "hits":
            from ..operators.hits import hits

            res = hits(
                graph, max_iterations=args.max_iterations, epsilon=args.epsilon
            )
            out = res.by_url(graph).orderBy("url")
        elif args.algorithm == "kcore":
            from ..operators.kcore import k_core

            out = (
                k_core(graph, args.k)
                .join(graph.vertices, "id")
                .select("url", "core_degree")
                .orderBy("url")
            )
        elif args.algorithm == "scc":
            from ..operators.scc import strongly_connected_components

            out = (
                strongly_connected_components(graph)
                .labels.join(graph.vertices, "id")
                .select("url", "scc")
                .orderBy("url")
            )
        elif args.algorithm == "bowtie":
            from ..operators.scc import bowtie_classes

            out = (
                bowtie_classes(graph)
                .join(graph.vertices, "id")
                .select("url", "cls")
                .orderBy("url")
            )
        elif args.algorithm == "harmonic":
            from ..operators.msbfs import harmonic_centrality

            # left join + coalesce: vertices reached by no source score 0.0,
            # matching the contract query's dense output (X17) — an inner
            # join would silently drop them
            h = harmonic_centrality(graph)
            out = (
                graph.vertices.join(h, "id", "left")
                .select(
                    "url", F.coalesce(F.col("harmonic"), F.lit(0.0)).alias("harmonic")
                )
                .orderBy(F.desc("harmonic"), "url")
            )
        elif args.algorithm == "hyperball":
            from ..operators.anf import hyperball_centralities

            out = (
                graph.vertices.join(hyperball_centralities(graph, m=16), "id", "left")
                .select(
                    "url",
                    F.coalesce(F.col("harmonic"), F.lit(0.0)).alias("harmonic"),
                    F.coalesce(F.col("closeness"), F.lit(0.0)).alias("closeness"),
                )
                .orderBy(F.desc("harmonic"), "url")
            )
        elif args.algorithm == "anf":
            from ..operators.anf import effective_diameter, neighborhood_function

            nf = neighborhood_function(graph, m=16)
            rows = [(r["t"], r["nf"]) for r in nf.collect()]
            logging.info(f"effective_diameter_0.9={effective_diameter(rows):.4f}")
            out = nf.orderBy("t")
        elif args.algorithm == "assortativity":
            from ..operators.metrics import degree_assortativity

            r = degree_assortativity(graph, "out", "in")
            logging.info(f"assortativity_out_in={r:.6f}")
            out = spark.createDataFrame([(r,)], "assortativity double")
        elif args.algorithm == "hostgraph":
            from ..operators.hostgraph import host_edges
            from ..sources.edges import read_edge_csv as _recsv

            out = host_edges(_recsv(spark, args.data)).orderBy(
                F.desc("n_links"), "src", "dst"
            )
        else:
            from ..operators.triangles import triangle_count

            n_tri = triangle_count(graph)
            logging.info(f"triangles={n_tri}")
            out = spark.createDataFrame([(n_tri,)], "triangles long")

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
    else:
        for row in out.limit(args.max_results).collect():
            logging.info(str(row.asDict()))


if __name__ == "__main__":
    main()
