"""merge_to_k invariants: monotone contraction, floor at k, determinism."""

from pgs_spark.operators.contraction import merge_to_k
from tests.conftest import TWO_CLIQUES, edges_df
from tests.oracles import random_graph


def test_contracts_to_target(spark):
    pairs = random_graph(60, 0.08, seed=11)
    e = edges_df(spark, pairs)
    res = merge_to_k(spark, e, k=5, max_rounds=10)
    assert res.n_groups >= 5
    counts = [h["n_groups"] for h in res.history]
    assert counts == sorted(counts, reverse=True)  # monotone shrink
    assert counts[-1] <= counts[0]
    # partition property: every vertex appears exactly once
    n_verts = len({v for p in pairs for v in p})
    assert res.groups.count() == n_verts
    assert res.groups.select("id").distinct().count() == n_verts


def test_disconnected_components_never_merge(spark):
    """Groups only fold into NEIGHBORS — the two cliques must stay separate
    even when k=1 (the AreaMerge island behavior). Round 1 folds each clique
    onto its root; round 2 merges nothing, so the run stops there instead of
    running all 8 rounds."""
    e = edges_df(spark, TWO_CLIQUES)
    res = merge_to_k(spark, e, k=1, max_rounds=8)
    groups = {r["group"] for r in res.groups.collect()}
    assert res.n_groups == 2  # one per clique; cross-component merge impossible
    assert groups == {3, 12}  # each clique folds onto its (size,id)-max root
    assert res.rounds == 2
    assert [(h["round"], h["n_groups"]) for h in res.history] == [(1, 2), (2, 2)]


def test_deterministic_across_runs(spark):
    pairs = random_graph(50, 0.1, seed=21)
    e = edges_df(spark, pairs)
    a = {(r["id"], r["group"]) for r in merge_to_k(spark, e, k=4, fixed_rounds=3).groups.collect()}
    b = {(r["id"], r["group"]) for r in merge_to_k(spark, e, k=4, fixed_rounds=3).groups.collect()}
    assert a == b


def test_merge_to_k_checkpoint_resume(spark, tmp_path):
    """Durable resume: interrupt after 1 round, resume → same grouping as an
    uninterrupted run (the merge program is deterministic)."""
    from pgs_spark.operators.contraction import merge_to_k

    pairs = random_graph(80, 0.06, seed=21)
    e = edges_df(spark, pairs)
    cp = str(tmp_path / "mk_ck")

    interrupted = merge_to_k(spark, e, k=5, max_rounds=1, checkpoint_dir=cp)
    assert interrupted.rounds == 1
    resumed = merge_to_k(spark, e, k=5, max_rounds=8, checkpoint_dir=cp)
    straight = merge_to_k(spark, e, k=5, max_rounds=8)
    a = {r["id"]: r["group"] for r in resumed.groups.collect()}
    b = {r["id"]: r["group"] for r in straight.groups.collect()}
    assert a == b
    # resume skipped round 1: its record is the resumed-from manifest
    assert resumed.history[0]["round"] == 1
    assert all(h["round"] >= 2 for h in resumed.history[1:])
    # converged checkpoint short-circuits a third call
    again = merge_to_k(spark, e, k=5, max_rounds=8, checkpoint_dir=cp)
    assert {r["id"]: r["group"] for r in again.groups.collect()} == b
