"""Operators leave no trace on the session: no cached relations, no change
to ``spark.sql.shuffle.partitions`` and no temp views after they return."""

from pgs_spark.operators.components import connected_components
from pgs_spark.operators.triangles import triangle_count
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
