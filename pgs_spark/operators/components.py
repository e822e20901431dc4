"""Connected components via alternating large-star / small-star (hash-to-min).

Fills the role jgrapht's ConnectivityInspector plays in the reference
(PGS_Meshing.java:736: ``new ConnectivityInspector<>(graph).connectedSets()``
after stochasticMerge cuts cross-label edges). A BFS-based inspector is
inherently sequential; at cluster scale we use the alternating-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
O(log² n) rounds of pure join+groupBy, each round shrinking edges toward
per-component stars centered on the component's minimum vertex id — which also
satisfies the FIXTURES.md invariant that a component's id IS its min vertex id.

One round is one large star and one small star built from hash operators
only (partial min aggregates, joins AQE may broadcast, one final hash
aggregate) and runs as ONE Spark action: the round's parquet snapshot, taken
by ``state.run_supersteps``, with the convergence test observed on that write.
The test is structural, so it cannot be fooled by a hash collision, and it
usually spares the extra round that comparing two rounds' outputs needs: the
output is final when every vertex the small star attaches had one smaller
neighbor and has no vertex hanging below it. It is then a forest of stars on
the component minima, which every later round leaves unchanged. The
session's shuffle width is never changed — AQE coalesces the round shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.state import run_supersteps
from pgs_spark.streaming.checkpoint import fingerprint_edges


def _star_round(e: DataFrame) -> DataFrame:
    """One large star then one small star over edges (u, v) → the next
    round's distinct edges (u, v), every one with u > v, plus a flag
    `unsettled`; when it is false on every row the result is final."""
    # large star: for each u, connect its strictly-larger neighbors to
    # m(u) = min(Γ(u) ∪ {u}). Output (k, v) has k > v by construction.
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
    large = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("k"), F.col("m").alias("v"))
    )
    # small star: per k, the min of its (smaller) neighbors and whether k is
    # itself some edge's smaller end (a parent) — both from one aggregate over
    # the edge ends, where the smaller end carries a null neighbor.
    ends = large.select(
        F.explode(
            F.array(
                F.struct("k", F.col("v").alias("d")),
                F.struct(F.col("v").alias("k"), F.lit(None).cast("long").alias("d")),
            )
        ).alias("x")
    ).select("x.*")
    ms = ends.groupBy("k").agg(
        F.min("d").alias("m"), F.max(F.col("d").isNull()).alias("parent")
    )
    # Connect each k and all its neighbors to that min; both pair kinds come
    # from one projection, so the aggregate is computed once. A surviving
    # neighbor pair (k had a second neighbor) or a pair (k, m) whose k is a
    # parent marks the output unsettled.
    pairs = large.join(ms, "k").select(
        F.explode(
            F.array(
                F.struct(
                    F.col("v").alias("u"), F.col("m").alias("v"),
                    F.lit(True).alias("unsettled"),
                ),
                F.struct(
                    F.col("k").alias("u"), F.col("m").alias("v"),
                    F.col("parent").alias("unsettled"),
                ),
            )
        ).alias("p")
    )
    return (
        pairs.select("p.*")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.max("unsettled").alias("unsettled"))
    )


@dataclass
class ComponentsResult:
    components: DataFrame  # (id: long, component: long) — component = min id
    rounds: int
    history: list = field(default_factory=list)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> ComponentsResult:
    """Edge table (src, dst), any orientation → (id, component).

    component is the minimum vertex id in the component (hash-to-min canonical
    form). Isolated vertices never occur in an edge table; callers with a
    separate vertex set should left-join and coalesce(component, id).

    `checkpoint_dir` makes the run DURABLE (``state.run_supersteps``): a
    restarted call with the same dir and input resumes from the newest
    round — a multi-hour CC at cluster scale survives a driver restart.

    `history` holds one record per round (`round`, `edges`, `seconds`,
    `shuffle_write_bytes`, `shuffle_read_bytes`); a resumed run's first
    record is the manifest of the round it resumed from."""
    e = edges.filter(F.col("src") != F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    run = run_supersteps(
        spark,
        e,
        lambda e, _: _star_round(e),
        max_iter,
        observe=[F.count(F.lit(1)).alias("edges"), F.max("unsettled").alias("_unsettled")],
        done=lambda obs, _: not obs["_unsettled"],
        key="round",
        checkpoint_dir=checkpoint_dir,
        fingerprint=lambda: fingerprint_edges(edges),
    )
    e = run.state
    # Converged, e is a star forest: every non-root vertex has exactly one
    # edge, to its component's min, so (u, v) already is (id, component).
    # A run cut short by max_iter may still list several parents; keep the min.
    if not run.converged:
        e = e.groupBy("u").agg(F.min("v").alias("v"))
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out = verts.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("component")), "id", "left"
    ).select("id", F.coalesce("component", "id").alias("component"))
    return ComponentsResult(out, run.steps, run.history)
