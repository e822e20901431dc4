"""Independent references the engine's outputs are checked against, once per
seed and outside the timed section.

- PageRank: a NumPy power iteration with networkx.pagerank semantics
  (uniform teleport, dangling mass spread uniformly, parallel edges counted),
  iterated far below the engine's tolerance. The engine stops once a
  superstep's L1 residual delta is below its tolerance; one superstep is an
  alpha-contraction in L1, so the returned ranks lie within
  alpha/(1-alpha) * delta (L1) of the fixed point, and that is the bound
  checked (a fixed 1e-6 would fail correct runs: at tol 1e-6 the bound is
  ~5.7e-6). networkx's own ``pagerank`` needs SciPy, which is not installed.
- Connected components: networkx, exact (component id = minimum vertex id).
- Label propagation and triangle count: DuckDB running the repo's oracle SQL
  (``pgs_spark/plans/oracle_sql.py``), exact.

Each check returns a list of human-readable disagreements (empty = agrees).
"""

from __future__ import annotations

import duckdb
import networkx as nx
import numpy as np
import pandas as pd


def pagerank_ref(src, dst, alpha: float = 0.85, tol: float = 1e-13, max_iter: int = 1000):
    """(vertex ids, ranks) for a directed edge list; multi-edges count."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(float)
    dangling = outdeg == 0
    w = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        nxt = (1.0 - alpha) / n + alpha * (
            np.bincount(d, weights=r[s] * w, minlength=n) + r[dangling].sum() / n
        )
        delta = np.abs(nxt - r).sum()
        r = nxt
        if delta < tol:
            break
    return ids, r


def check_pagerank(edges: pd.DataFrame, ranks: pd.DataFrame, delta: float,
                   alpha: float = 0.85) -> list[str]:
    """``delta``: L1 residual of the engine's last superstep."""
    ids, ref = pagerank_ref(edges["src"].to_numpy(), edges["dst"].to_numpy(), alpha=alpha)
    got = ranks.set_index("id")["rank"].reindex(ids)
    if got.isna().any():
        return [f"pagerank: {int(got.isna().sum())} vertices missing"]
    err = float(np.abs(got.to_numpy() - ref).sum())
    bound = alpha / (1.0 - alpha) * delta + 1e-12
    return [] if err <= bound else [f"pagerank: sum |rank - ref| = {err:.3g} > {bound:.3g}"]


def check_components(edges: pd.DataFrame, comps: pd.DataFrame) -> list[str]:
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    want = {}
    for c in nx.connected_components(g):
        want.update(dict.fromkeys(c, min(c)))
    got = dict(zip(comps["id"].tolist(), comps["component"].tolist()))
    if got == want:
        return []
    bad = sum(1 for v in want if got.get(v) != want[v]) + len(set(got) - set(want))
    return [f"connected_components: {bad} vertices disagree with networkx"]


def _duckdb(edges: pd.DataFrame):
    con = duckdb.connect()
    con.register("bench_edges", edges[["src", "dst"]])
    return con


def check_triangles(edges: pd.DataFrame, count: int) -> list[str]:
    from pgs_spark.plans.oracle_sql import triangle_count_sql

    con = _duckdb(edges)
    try:
        want = con.execute(triangle_count_sql("SELECT src, dst FROM bench_edges")).fetchone()[0]
    finally:
        con.close()
    return [] if int(want) == int(count) else [f"triangle_count: {count} != duckdb {want}"]


def check_lpa(edges: pd.DataFrame, labels: pd.DataFrame, iterations: int) -> list[str]:
    from pgs_spark.plans.oracle_sql import lpa_sql

    con = _duckdb(edges)
    try:
        want = con.execute(
            lpa_sql("SELECT src, dst FROM bench_edges", iterations=iterations)
        ).fetchdf()
    finally:
        con.close()
    merged = want.merge(labels, on="id", how="outer", suffixes=("_ref", ""))
    bad = int((merged["label"] != merged["label_ref"]).sum())
    return [] if bad == 0 else [f"label_propagation: {bad} labels differ from duckdb"]
