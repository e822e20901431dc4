"""Operators leave no trace on the session: no cached relations, no change
to ``spark.sql.shuffle.partitions`` and no temp views after they return —
nor after they fail part way."""

import pytest
from pyspark.sql import functions as F

from pgs_spark.operators.components import connected_components
from pgs_spark.operators.dag import build_order
from pgs_spark.operators.hyperball import hyperball
from pgs_spark.operators.label_propagation import label_propagation
from pgs_spark.operators.layout import fr_layout
from pgs_spark.operators.merge import kcore
from pgs_spark.operators.pagerank import pagerank
from pgs_spark.operators.traversal import bfs_distances, sssp_distances
from pgs_spark.operators.triangles import triangle_count
from pgs_spark.streaming.checkpoint import CheckpointManager
from tests.conftest import TWO_CLIQUES, edges_df
from tests.oracles import random_graph


def _session_state(spark):
    jsc = spark.sparkContext._jsc.sc()
    return (
        jsc.getPersistentRDDs().size(),
        spark.conf.get("spark.sql.shuffle.partitions"),
        sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
    )


def test_cc_and_triangles_leave_session_unchanged(spark, tmp_path):
    edges = edges_df(spark, random_graph(70, 0.04, seed=9))
    before = _session_state(spark)

    connected_components(spark, edges).components.collect()
    durable = connected_components(spark, edges, checkpoint_dir=str(tmp_path / "cc"))
    durable.components.collect()
    assert triangle_count(spark, edges_df(spark, TWO_CLIQUES)) == 4 + 1

    assert _session_state(spark) == before


def test_fr_layout_leaves_session_unchanged(spark):
    """Run in a fresh session, so a view left by an earlier test in the shared
    one cannot hide a view this call leaves behind."""
    session = spark.newSession()
    before = _session_state(session)
    fr_layout(session, edges_df(session, TWO_CLIQUES), iterations=2).positions.collect()
    assert _session_state(session) == before


# superstep loops (on state.run_supersteps, and PageRank's own), each run on
# an 8-vertex path (every loop gets past step 2 on it)
SUPERSTEP_OPS = {
    "lpa": lambda spark, e: label_propagation(spark, e, max_iter=5).labels,
    "bfs": lambda spark, e: bfs_distances(spark, e, 0, max_hops=6),
    "sssp": lambda spark, e: sssp_distances(spark, e.withColumn("weight", F.lit(1)), 0),
    "kcore": lambda spark, e: kcore(spark, e, k=2, rounds=5),
    "build_order": lambda spark, e: build_order(
        spark, e, spark.createDataFrame([(i, i) for i in range(8)], "id long, scc long")
    ).assignments,
    "hyperball": lambda spark, e: hyperball(spark, e, supersteps=3),
    "pagerank": lambda spark, e: pagerank(spark, e, fixed_iterations=4).ranks,
}


@pytest.mark.parametrize("op", sorted(SUPERSTEP_OPS))
def test_superstep_loops_leave_session_unchanged(spark, monkeypatch, op):
    """After a normal call, and after a failure injected at step 2."""
    run = SUPERSTEP_OPS[op]
    edges = edges_df(spark, [(i, i + 1) for i in range(7)])
    before = _session_state(spark)

    run(spark, edges).collect()
    assert _session_state(spark) == before

    orig = CheckpointManager.save

    def fail_at_2(self, state, iteration, *args, **kwargs):
        if iteration == 2:
            raise RuntimeError("injected failure at step 2")
        return orig(self, state, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointManager, "save", fail_at_2)
    with pytest.raises(RuntimeError, match="injected failure"):
        run(spark, edges).collect()
    assert _session_state(spark) == before
