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

Superstep state (|V| label rows) runs on ``state.run_supersteps``: one
parquet snapshot per superstep, the changed-count observed on that write,
and with a durable ``checkpoint_dir`` a mid-convergence resume (the input
fingerprint guards cross-input reuse).
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
    configuration (nClasses + seed, PGS_Meshing.java:693-700).

    ``weight_col`` switches the vote from neighbor COUNT to neighbor weight
    SUM (the reference's weighted graphs, PGS_Conversion.java:933) — same
    deterministic tie-break (max vote, then min label). Integer weights keep
    the vote exact cross-engine.
    """
    cols = [weight_col] if weight_col else []
    e = undirected_edges.select("src", "dst", *cols)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols)
    ).persist()
    verts = sym.select(F.col("src").alias("id")).distinct()
    if seed is not None and n_initial_labels:
        labels = verts.select(
            "id",
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_initial_labels)).alias("label"),
        )
    else:
        labels = verts.select("id", F.col("id").alias("label"))

    vote = F.sum(weight_col) if weight_col else F.count("*")

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("id"), "label", *cols
        )
        counts = nbr.groupBy("id", "label").agg(vote.alias("cnt"))
        # argmax by (cnt, -label): most frequent, ties to the smallest label.
        best = (
            counts.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("s"))
            .select("id", (-F.col("s.nl")).alias("new_label"))
        )
        # the old label stays in-row, so the changed-count is observed on the
        # snapshot write itself: no second job, no re-read, no extra join
        return labels.join(best, "id", "left").select(
            "id",
            F.col("label").alias("old_label"),
            F.coalesce("new_label", "label").alias("label"),
        )

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
