"""The two workloads: inputs made from the seed, the timed section, the
per-run output checks and the once-per-seed reference comparison.

Sizes are chosen so that one cold-JVM run of each workload stays near 30 s
on a 4-core box; at these sizes every iterative operator is dominated by its
fixed per-superstep driver cost, which a shared superstep runner would cut.

- ``code_graph``: the paper's pipeline. The only workload that runs the
  Python/Arrow extraction layer; its PageRank has ~2k vertices, so supersteps
  are per-job driver cost.
- ``copurchase``: parts bought in the same order (TPC-H lineitem shape), no
  Python. Shuffle/join bound: CC re-shuffles all |E| edges every round, LPA,
  and the triangle wedge join over dense order cliques.

Operator modules are imported inside the functions so that the traced run
can install its wrappers first (see ``tracer.install_wrappers``).
"""

from __future__ import annotations

import os

import numpy as np

CODE_REPOS, CODE_FILES = 2_000, 20_000
CP_ORDERS, CP_PARTS, CP_LINES_PER_ORDER = 30_000, 4_000, 4
LPA_ITER = 3


def _check_ranks(res, op: str) -> list:
    total = res.ranks.agg({"rank": "sum"}).first()[0]
    out = []
    if not res.converged:
        out.append((op, "pagerank did not converge"))
    if abs(total - 1.0) >= 1e-9:
        out.append((op, f"sum(rank) = {total!r}"))
    return out


def _check_components(edges, cc) -> list:
    from pyspark.sql import functions as F

    comp = cc.components
    crossing = (
        edges.join(comp.withColumnRenamed("id", "src").withColumnRenamed("component", "cs"), "src")
        .join(comp.withColumnRenamed("id", "dst").withColumnRenamed("component", "cd"), "dst")
        .filter(F.col("cs") != F.col("cd"))
        .count()
    )
    above = comp.filter(F.col("component") > F.col("id")).count()
    out = []
    if crossing:
        out.append(("connected_components", f"{crossing} edges cross two components"))
    if above:
        out.append(("connected_components", f"{above} components above their id"))
    return out


class CodeGraph:
    name = "code_graph"
    ops = ("with_refs", "derive_edges", "pagerank", "connected_components")

    def setup(self, ctx) -> dict:
        from pgs_spark.sources.generator import generate_code_files

        with ctx.tracer.op("generate_code_files", "sources") as sp:
            cf = generate_code_files(
                ctx.spark, n_repos=CODE_REPOS, n_files=CODE_FILES, seed=ctx.seed
            ).persist()
            rows = cf.count()
        return {"code_files": cf, "rows": rows, "generate_s": sp["end"] - sp["start"]}

    def run(self, ctx, inp, pass_dir) -> dict:
        from pgs_spark.functions.extract import with_refs
        from pgs_spark.operators.components import connected_components
        from pgs_spark.operators.edges import derive_edges
        from pgs_spark.operators.pagerank import pagerank
        from pgs_spark.sources.generator import repo_table

        spark, op = ctx.spark, ctx.tracer.op
        with op("with_refs", "extract"):
            refs = with_refs(inp["code_files"]).persist()
            n_refs = refs.count()
        with op("derive_edges", "edges"):
            edges = derive_edges(refs, repo_table(spark, CODE_REPOS)).persist()
            n_edges = edges.count()
        with op("pagerank", "pagerank"):
            pr = pagerank(spark, edges, tol=1e-6)
            pr.ranks.count()
        with op("connected_components", "components"):
            cc = connected_components(spark, edges)
            cc.components.count()
        return {"edges": edges, "n_edges": n_edges, "refs": n_refs, "pagerank": [pr], "iterative": [pr],
                "cc": cc, "persisted": [refs, edges]}

    def check(self, out) -> list:
        return _check_ranks(out["pagerank"][0], "pagerank") + _check_components(
            out["edges"], out["cc"]
        )

    def collect(self, out) -> dict:
        return {
            "edges": out["edges"].toPandas(),
            "ranks": out["pagerank"][0].ranks.toPandas(),
            "delta": out["pagerank"][0].history[-1]["delta"],
            "comps": out["cc"].components.toPandas(),
        }

    def compare(self, frames) -> list:
        from references import check_components, check_pagerank

        ranks = check_pagerank(frames["edges"], frames["ranks"], frames["delta"])
        return [("pagerank", m) for m in ranks] + [
            ("connected_components", m)
            for m in check_components(frames["edges"], frames["comps"])
        ]


def write_lineitem(sf_dir: str, seed: int) -> int:
    """A TPC-H-shaped ``lineitem.parquet`` (only the columns the co-purchase
    derivation reads): orders draw ~4 lines each, parts are uniform.

    The table itself is fixed; the seed only relabels order and part keys by
    XOR with seed-derived masks, a bijection on each key range. Partition
    placement changes with the seed while the graph, and so the work, stays
    the same."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    n = CP_ORDERS * CP_LINES_PER_ORDER
    orders, parts = rng.integers(0, CP_ORDERS, n), rng.integers(0, CP_PARTS, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    masks = np.random.default_rng(seed).integers(0, 2**20, 2)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({"l_orderkey": orders ^ masks[0], "l_partkey": parts ^ masks[1],
                  "l_quantity": quantity}),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    return n


class Copurchase:
    name = "copurchase"
    ops = ("co_purchase_edges", "connected_components", "label_propagation", "triangle_count")

    def setup(self, ctx) -> dict:
        """Writes the lineitem table, then loads it once so the first timed
        op finds it in the page cache, as it finds code_files in memory."""
        from pgs_spark.sources.tables import load_table

        sf_dir = os.path.join(ctx.run_dir, "tpch")
        with ctx.tracer.op("load_table", "sources") as sp:
            write_lineitem(sf_dir, ctx.seed)
            rows = load_table(ctx.spark, sf_dir, "lineitem").count()
        return {"sf_dir": sf_dir, "rows": rows, "generate_s": sp["end"] - sp["start"]}

    def run(self, ctx, inp, pass_dir) -> dict:
        from pgs_spark.operators.components import connected_components
        from pgs_spark.operators.edges import canonicalize
        from pgs_spark.operators.label_propagation import label_propagation
        from pgs_spark.operators.triangles import triangle_count
        from pgs_spark.sources.tpch_graph import co_purchase_edges

        spark, op = ctx.spark, ctx.tracer.op
        with op("co_purchase_edges", "edges"):
            edges = canonicalize(co_purchase_edges(spark, inp["sf_dir"])).persist()
            n_edges = edges.count()
        with op("connected_components", "components"):
            cc = connected_components(spark, edges)
            n_vertices = cc.components.count()
        with op("label_propagation", "lpa"):
            lpa = label_propagation(spark, edges, max_iter=LPA_ITER)
            n_labels = lpa.labels.count()
        with op("triangle_count", "triangles"):
            tri = triangle_count(spark, edges)
        return {"edges": edges, "n_edges": n_edges, "cc": cc, "lpa": lpa,
                "n_vertices": n_vertices, "n_labels": n_labels, "triangles": tri, "iterative": [lpa],
                "persisted": [edges]}

    def check(self, out) -> list:
        bad = _check_components(out["edges"], out["cc"])
        if out["n_labels"] != out["n_vertices"]:
            bad.append(("label_propagation", f"{out['n_labels']} labels for {out['n_vertices']} vertices"))
        if out["triangles"] <= 0:
            bad.append(("triangle_count", "no triangles in a graph of order cliques"))
        return bad

    def collect(self, out) -> dict:
        return {
            "edges": out["edges"].toPandas(),
            "comps": out["cc"].components.toPandas(),
            "labels": out["lpa"].labels.toPandas(),
            "triangles": out["triangles"],
        }

    def compare(self, frames) -> list:
        from references import check_components, check_lpa, check_triangles

        e = frames["edges"]
        return (
            [("connected_components", m) for m in check_components(e, frames["comps"])]
            + [("label_propagation", m) for m in check_lpa(e, frames["labels"], LPA_ITER)]
            + [("triangle_count", m) for m in check_triangles(e, frames["triangles"])]
        )


WORKLOADS = {w.name: w for w in (CodeGraph(), Copurchase())}
