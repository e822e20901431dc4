"""Synchronous label propagation with deterministic tie-breaking.

Graft of two reference behaviors:
- PGS_Meshing.stochasticMerge's island pass (PGS_Meshing.java:706-725): seeded
  random labels, then a vertex adopts a neighbor's label — one LPA superstep.
- PGS_Coloring's class assignment (PGS_Coloring.java:236-273): iterative
  neighbor-label aggregation with a pinned seed (SEED=1337) for repeatability.

Tie-break: most frequent neighbor label, then the minimum label — an explicit
deterministic order, because Spark aggregation order is nondeterministic and
the reference explicitly sorts before order-sensitive steps
(PGS_Conversion.java:1087-1088). Convergence = zero label changes (the
GeneticColoring stopping rule: iterate until conflict count is 0,
commons/GeneticColoring.java:41-95), with a max-superstep guard.

Plan: the symmetric edge table ``sym`` is hash-partitioned on src and
persisted once. A step looks each edge's labels up in ONE label snapshot
twice (the neighbour's on dst, the vertex's own on src), votes with
``groupBy(src, label)`` and takes the argmax with ``groupBy(src)``. While
the |V| labels fit under ``spark.sql.autoBroadcastJoinThreshold``, both
lookups share one broadcast and both aggregates run inside sym's
partitions: two jobs (the broadcast, the snapshot write), no shuffle. Above
it they fall back to sort-merge joins, which re-shuffle the edge side. The
loop is ``state.run_supersteps``: a parquet snapshot per superstep with the
changed-count observed on its write; ``checkpoint_dir`` makes it resumable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.state import run_supersteps
from pgs_spark.streaming.checkpoint import fingerprint_edges


@dataclass
class LPAResult:
    labels: DataFrame  # (id: long, label: long)
    iterations: int
    converged: bool
    history: list = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    undirected_edges: DataFrame,
    max_iter: int = 10,
    seed: int | None = None,
    n_initial_labels: int | None = None,
    checkpoint_dir: str | None = None,
    weight_col: str | None = None,
) -> LPAResult:
    """LPA over a canonical undirected edge table.

    Default init: label = vertex id (community detection). With `seed` and
    `n_initial_labels`: seeded random labels in [0, n) — the stochasticMerge
    configuration (nClasses + seed, PGS_Meshing.java:693-700). ``weight_col``
    votes with the neighbor weight SUM instead of the COUNT (the reference's
    weighted graphs, PGS_Conversion.java:933), same tie-break; integer weights
    keep the vote exact cross-engine.
    """
    cols = [weight_col] if weight_col else []
    e = undirected_edges.select("src", "dst", *cols)
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols))
        .repartition("src")
        .persist()
    )
    verts = sym.select(F.col("src").alias("id")).distinct()
    init = F.col("id")
    if seed is not None and n_initial_labels:
        init = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_initial_labels))
    labels = verts.select("id", init.alias("label"))
    vote = F.sum(weight_col) if weight_col else F.count("*")

    def step(labels: DataFrame, _: int) -> DataFrame:
        # one un-renamed `labels`, so one broadcast; left joins build only it
        # (sym keeps its partitioning) and lose no row: every dst is some src
        nbr = sym.join(labels, sym.dst == labels.id, "left").select(
            "src", F.col("label").alias("nl"), *cols
        )
        own = nbr.join(labels, nbr.src == labels.id, "left").select(
            "src", "nl", F.col("label").alias("own"), *cols
        )
        counts = own.groupBy("src", "nl").agg(vote.alias("cnt"), F.max("own").alias("own"))
        # argmax by (cnt, -label): most frequent, ties to the smallest label;
        # the old label stays in-row for the changed-count on the write
        return counts.groupBy("src").agg(
            F.max(F.struct("cnt", (-F.col("nl")).alias("nl"))).alias("s"),
            F.max("own").alias("old_label"),
        ).select(F.col("src").alias("id"), "old_label", (-F.col("s.nl")).alias("label"))

    run = run_supersteps(
        spark,
        labels,
        step,
        max_iter,
        observe=[
            F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("changed")
        ],
        done=lambda obs, _: not obs["changed"],
        checkpoint_dir=checkpoint_dir,
        fingerprint=lambda: fingerprint_edges(undirected_edges),
        save_init=True,  # the init labels off-heap too
        persisted=[sym],
    )
    return LPAResult(run.state.select("id", "label"), run.steps, run.converged, run.history)
