"""Job entry points for spark-submit.

Usage (cluster):
    python tools/make_pyfiles_zip.py            # → dist/pgs_spark.zip
    spark-submit --py-files dist/pgs_spark.zip submit_job.py <command> [args]

Commands map 1:1 to the engine's pipelines; every iterative job takes
--checkpoint-dir so a killed run resumes mid-convergence from the newest
manifest (north rule). The SparkSession comes from spark-submit's conf on a
cluster; get_spark() only fills in local-mode defaults when run standalone.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    from pgs_spark.session import get_spark

    return get_spark(app_name=app)


def cmd_derive(args) -> None:
    """code_files parquet → directed edge parquet (extraction pipeline)."""
    from pyspark.sql import functions as F

    from pgs_spark.functions.extract import with_refs
    from pgs_spark.operators.edges import derive_edges

    spark = _spark("pgs-derive")
    cf = spark.read.parquet(args.input)
    repos = (
        cf.select("repo").distinct().withColumn("repo_id", F.xxhash64("repo"))
    )
    edges = derive_edges(with_refs(cf, verify_sha=not args.no_verify), repos)
    edges.write.mode("overwrite").parquet(args.out)


def cmd_generate(args) -> None:
    from pgs_spark.sources.generator import generate_code_files

    spark = _spark("pgs-generate")
    df = generate_code_files(
        spark, n_repos=args.repos, n_files=args.files, seed=args.seed
    )
    df.write.mode("overwrite").parquet(args.out)


def cmd_pagerank(args) -> None:
    from pgs_spark.operators.pagerank import pagerank

    spark = _spark("pgs-pagerank")
    edges = spark.read.parquet(args.edges)
    res = pagerank(
        spark,
        edges,
        alpha=args.alpha,
        tol=args.tol,
        max_iter=args.max_iter,
        checkpoint_dir=args.checkpoint_dir,
        weight_col=args.weight_col,
    )
    res.ranks.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"iterations": res.iterations, "converged": res.converged,
                      "history": res.history}))


def cmd_components(args) -> None:
    from pgs_spark.operators.components import connected_components

    spark = _spark("pgs-cc")
    res = connected_components(spark, spark.read.parquet(args.edges))
    res.components.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rounds": res.rounds, "history": res.history}))


def cmd_lpa(args) -> None:
    from pgs_spark.operators.edges import canonicalize
    from pgs_spark.operators.label_propagation import label_propagation

    spark = _spark("pgs-lpa")
    und = canonicalize(spark.read.parquet(args.edges))
    res = label_propagation(spark, und, max_iter=args.max_iter, seed=args.seed,
                            n_initial_labels=args.classes)
    res.labels.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"iterations": res.iterations, "converged": res.converged}))


def cmd_louvain(args) -> None:
    """Community detection: two-level Louvain (local moves → contraction →
    weighted coarse pass) or a single weighted/unweighted phase-1 run."""
    from pgs_spark.operators.community import (
        louvain_local_move,
        louvain_two_level,
    )
    from pgs_spark.operators.edges import canonicalize

    spark = _spark("pgs-louvain")
    edges = spark.read.parquet(args.edges)
    if args.two_level:
        out = louvain_two_level(
            spark, edges, rounds=args.rounds, rounds2=args.rounds
        )
    else:
        out = louvain_local_move(
            spark,
            edges if args.weight_col else canonicalize(edges),
            rounds=args.rounds,
            weight_col=args.weight_col,
        )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).select("comm").distinct().count()
    print(json.dumps({"n_communities": n, "rounds": args.rounds}))


def cmd_coloring(args) -> None:
    from pgs_spark.operators.coloring import conflict_count, jones_plassmann
    from pgs_spark.operators.edges import canonicalize

    spark = _spark("pgs-coloring")
    und = canonicalize(spark.read.parquet(args.edges))
    res = jones_plassmann(spark, und, max_rounds=args.max_rounds)
    res.colors.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rounds": res.rounds, "converged": res.converged,
                      "conflicts": conflict_count(und, res.colors)}))


def cmd_merge_to_k(args) -> None:
    from pgs_spark.operators.contraction import merge_to_k
    from pgs_spark.operators.edges import canonicalize

    spark = _spark("pgs-merge-to-k")
    und = canonicalize(spark.read.parquet(args.edges))
    res = merge_to_k(spark, und, k=args.k, max_rounds=args.max_rounds)
    res.groups.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rounds": res.rounds, "n_groups": res.n_groups,
                      "history": res.history}))


def cmd_corpus_clean(args) -> None:
    """documents parquet → cleaned-corpus parquet + JSON census.

    The end-to-end training-data pipeline (the corpus_clean gate query as a
    user-facing job): exact+near-dup keep list → keep the cluster
    representatives → 6dp-rounded quality threshold → write kept docs,
    print the per-language census."""
    from pyspark.sql import functions as F

    from pgs_spark.functions import text as tx
    from pgs_spark.operators.dedup import dedup_keep_list

    spark = _spark("pgs-corpus-clean")
    docs = spark.read.parquet(args.docs).persist()
    keep = dedup_keep_list(spark, docs)
    keepers = keep.filter(F.col("doc_id") == F.col("keep_id")).select("doc_id")
    kept = (
        docs.join(keepers, "doc_id")
        .withColumn("quality", tx.quality_score(F.col("text")))
        .filter(F.col("quality") >= args.min_quality)
    )
    kept.write.mode("overwrite").parquet(args.out)
    census = (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tx.token_count(F.col("text"))).alias("n_tokens"),
        )
        .orderBy("lang")
        .collect()
    )
    print(
        json.dumps(
            {
                "n_input": docs.count(),
                "n_kept": kept.count(),
                "census": [r.asDict() for r in census],
            }
        )
    )


def cmd_triangles(args) -> None:
    from pgs_spark.operators.triangles import triangle_count

    spark = _spark("pgs-triangles")
    n = triangle_count(spark, spark.read.parquet(args.edges))
    print(json.dumps({"triangles": n}))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pgs_spark")
    sub = p.add_subparsers(dest="command", required=True)

    g = sub.add_parser("generate", help="synthetic code_files table")
    g.add_argument("--repos", type=int, default=10_000)
    g.add_argument("--files", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_generate)

    d = sub.add_parser("derive", help="code_files → edge table")
    d.add_argument("--input", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--no-verify", action="store_true")
    d.set_defaults(fn=cmd_derive)

    pr = sub.add_parser("pagerank")
    pr.add_argument("--edges", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--alpha", type=float, default=0.85)
    pr.add_argument("--tol", type=float, default=1e-6)
    pr.add_argument("--max-iter", type=int, default=100)
    pr.add_argument("--checkpoint-dir")
    pr.add_argument("--weight-col", help="edge weight column (weighted PageRank)")
    pr.set_defaults(fn=cmd_pagerank)

    cc = sub.add_parser("components")
    cc.add_argument("--edges", required=True)
    cc.add_argument("--out", required=True)
    cc.set_defaults(fn=cmd_components)

    lp = sub.add_parser("lpa")
    lp.add_argument("--edges", required=True)
    lp.add_argument("--out", required=True)
    lp.add_argument("--max-iter", type=int, default=10)
    lp.add_argument("--seed", type=int)
    lp.add_argument("--classes", type=int)
    lp.set_defaults(fn=cmd_lpa)

    tr = sub.add_parser("triangles")
    tr.add_argument("--edges", required=True)
    tr.set_defaults(fn=cmd_triangles)

    lv = sub.add_parser("louvain", help="Louvain community detection")
    lv.add_argument("--edges", required=True)
    lv.add_argument("--out", required=True)
    lv.add_argument("--rounds", type=int, default=2)
    lv.add_argument("--two-level", action="store_true")
    lv.add_argument("--weight-col", default=None)
    lv.set_defaults(fn=cmd_louvain)

    co = sub.add_parser("coloring", help="Jones-Plassmann proper coloring")
    co.add_argument("--edges", required=True)
    co.add_argument("--out", required=True)
    co.add_argument("--max-rounds", type=int, default=50)
    co.set_defaults(fn=cmd_coloring)

    mk = sub.add_parser("merge-to-k", help="AreaMerge-style contraction")
    mk.add_argument("--edges", required=True)
    mk.add_argument("--out", required=True)
    mk.add_argument("--k", type=int, required=True)
    mk.add_argument("--max-rounds", type=int, default=10)
    mk.set_defaults(fn=cmd_merge_to_k)

    cl = sub.add_parser(
        "corpus-clean",
        help="dedup keep-list -> quality filter -> cleaned parquet + census",
    )
    cl.add_argument("--docs", required=True, help="documents parquet path")
    cl.add_argument("--out", required=True)
    cl.add_argument("--min-quality", type=float, default=0.5)
    cl.set_defaults(fn=cmd_corpus_clean)
    return p


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
