"""Condensation DAG + topological build-order layering.

For a code dependency/link graph the canonical planning question is "in what
order can repositories be built, and how deep is the dependency chain?"
Cycles (mutual imports) must build together — they are exactly the strongly
connected components — so the engine first contracts the directed graph to
its CONDENSATION (one node per SCC, operators/scc.py provides the
partition), which is acyclic by construction, then assigns every
condensation node its longest-path-from-a-root level:

    level(C) = 0                         if C has no incoming edge
    level(C) = 1 + max over u->C level(u)  otherwise

All members of SCC C inherit level(C): level k can start building the
instant levels < k are done, and max(level) is the critical-path depth of
the whole corpus. This is the reference's dependency-ordering role
(ConnectivityInspector / traversal ordering family, PGS_SOM.java's staged
mesh passes) posed on the directed graph.

Distributed shape: the contraction is two hash joins against the SCC
assignment plus one distinct; each layering superstep is ONE equi-join
(condensation edges x current levels on src) feeding a codegen
groupBy(max) — O(|E_c|) shuffled on the node id, hub skew absorbed by the
map-side partial max. Rounds are bounded by the DAG's critical-path depth
(tens, even for web-scale import graphs — the condensation of a real
dependency corpus is shallow). Levels are monotonically non-decreasing
exact integers, so the fix-point test is a SUM(level) signature observed on
the parquet snapshot WRITE job (``state.run_supersteps``, one job per
round); no floating point anywhere, so the DuckDB oracle
(plans/oracle_sql.build_order_sql: closure SCC -> recursive longest-path
CTE) matches bit-exactly and convergence-independently.

100-TB note: the oracle's transitive-closure SCC and path-enumeration CTE
are quadratic gate-scale truth tools; the engine side never enumerates
paths — state is one (node, level) row per condensation node, strictly
smaller than the vertex set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.state import run_supersteps


@dataclass
class BuildOrderResult:
    #: (id, scc, level) — scc = min vertex id of the SCC (operators/scc.py),
    #: level = longest-path depth of the SCC in the condensation DAG.
    assignments: DataFrame
    rounds: int = 0
    converged: bool = False  #: SUM(level) fix point reached within max_rounds
    history: list = field(default_factory=list)


def condensation_edges(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """Contract a directed edge table to its condensation: (src, dst) on SCC
    ids, self-loops dropped (intra-SCC edges vanish), parallel edges
    deduplicated. Two hash joins + one distinct."""
    a_src = assignments.select(
        F.col("id").alias("src"), F.col("scc").alias("csrc")
    )
    a_dst = assignments.select(
        F.col("id").alias("dst"), F.col("scc").alias("cdst")
    )
    return (
        edges.join(a_src, "src")
        .join(a_dst, "dst")
        .filter(F.col("csrc") != F.col("cdst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .distinct()
    )


def build_order(
    spark: SparkSession,
    edges: DataFrame,
    assignments: DataFrame | None = None,
    max_rounds: int = 64,
) -> BuildOrderResult:
    """Longest-path build-order levels over the condensation of a directed
    graph. ``edges`` is (src, dst); ``assignments`` is a precomputed
    (id, scc) SCC partition (computed via operators/scc.py when omitted).

    Returns per-vertex (id, scc, level): all vertices of one SCC share a
    level; every edge goes from a lower level to a strictly higher one
    (or stays inside its SCC). Exact-integer output.
    """
    if assignments is None:
        from pgs_spark.operators.scc import strongly_connected_components

        assignments = strongly_connected_components(spark, edges).assignments
    assignments = assignments.persist()

    ce = condensation_edges(edges, assignments).persist()

    def step(lvl: DataFrame, _: int) -> DataFrame:
        incoming = (
            ce.join(lvl.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.max("level") + F.lit(1)).alias("inc"))
        )
        return lvl.join(incoming, "node", "left").select(
            "node",
            F.greatest(F.col("level"), F.coalesce("inc", F.lit(0))).alias("level"),
        )

    lvl0 = assignments.select(F.col("scc").alias("node")).distinct().withColumn(
        "level", F.lit(0).cast("long")
    )
    run = run_supersteps(
        spark,
        lvl0,
        step,
        max_rounds,
        observe=[F.sum("level").alias("level_sum")],
        done=lambda obs, prev: prev is not None and obs["level_sum"] == prev["level_sum"],
        key="round",
        save_init=True,
        persisted=[ce, assignments],
    )
    out = assignments.join(
        run.state.withColumnRenamed("node", "scc"), "scc"
    ).select("id", "scc", "level")
    return BuildOrderResult(
        assignments=out, rounds=run.steps, converged=run.converged, history=run.history
    )
