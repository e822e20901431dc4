"""Connected components: known answers + union-find differential oracle."""

import random

import pytest

from pgs_spark.operators.components import connected_components
from pgs_spark.streaming.checkpoint import CheckpointManager
from tests.conftest import PATH5, TWO_CLIQUES, edges_df
from tests.oracles import random_graph, ref_components


def _collect(res):
    return {r["id"]: r["component"] for r in res.components.collect()}


def test_path_single_component(spark):
    got = _collect(connected_components(spark, edges_df(spark, PATH5)))
    assert got == {i: 0 for i in range(5)}  # component id = min vertex id


def test_two_cliques(spark):
    got = _collect(connected_components(spark, edges_df(spark, TWO_CLIQUES)))
    assert {v for k, v in got.items() if k < 10} == {0}
    assert {v for k, v in got.items() if k >= 10} == {10}


def test_direction_irrelevant(spark):
    a = _collect(connected_components(spark, edges_df(spark, [(5, 1), (1, 9)])))
    b = _collect(connected_components(spark, edges_df(spark, [(1, 5), (9, 1)])))
    assert a == b == {1: 1, 5: 1, 9: 1}


@pytest.mark.parametrize("k", [0, 1, 2, 3])
def test_random_vs_union_find(spark, k):
    # sparse p → many components (the interesting case for star-contraction)
    pairs = random_graph(111 + 13 * k, 0.012, seed=200 + k)
    got = _collect(connected_components(spark, edges_df(spark, pairs)))
    want = ref_components(pairs)
    assert got == want


def test_rounds_logarithmic(spark):
    """A long path is the worst case for naive min-propagation (O(diameter));
    alternating stars must finish in O(log n) rounds — both on the sorted
    path and on one whose ids are shuffled, so min ids sit mid-path."""
    n = 256
    ids = list(range(n))
    random.Random(20).shuffle(ids)
    for order in (list(range(n)), ids):
        path = [(order[i], order[i + 1]) for i in range(n - 1)]
        res = connected_components(spark, edges_df(spark, path))
        assert _collect(res) == {i: 0 for i in range(n)}
        assert res.rounds <= 12  # ~2·log2(256) + slack, NOT ~256


def test_checkpoint_resume_identical(spark, tmp_path):
    """Durable CC (north-rule resume): interrupt after 2 rounds, resume →
    components identical to an uninterrupted run, and the resumed run's
    history shows it started past round 0 instead of redoing the work."""
    pairs = random_graph(80, 0.03, seed=77)
    cp = str(tmp_path / "cc_ck")

    interrupted = connected_components(
        spark, edges_df(spark, pairs), max_iter=2, checkpoint_dir=cp
    )
    assert interrupted.rounds == 2
    resumed = connected_components(
        spark, edges_df(spark, pairs), checkpoint_dir=cp
    )
    straight = connected_components(spark, edges_df(spark, pairs))
    assert _collect(resumed) == _collect(straight) == ref_components(pairs)
    # resume skipped rounds 1-2: its history starts at round 2
    assert resumed.history[0]["round"] == 2
    # a third call resumes the CONVERGED manifest without iterating
    again = connected_components(
        spark, edges_df(spark, pairs), checkpoint_dir=cp
    )
    assert _collect(again) == _collect(straight)


def test_checkpoint_ignores_other_input(spark, tmp_path):
    """A checkpoint from a different edge set must not be resumed."""
    cp = str(tmp_path / "cc_ck2")
    connected_components(
        spark, edges_df(spark, [(0, 1), (1, 2)]), checkpoint_dir=cp
    )
    other = connected_components(
        spark, edges_df(spark, [(5, 6), (7, 8)]), checkpoint_dir=cp
    )
    assert _collect(other) == {5: 5, 6: 5, 7: 7, 8: 7}


def test_crash_before_manifest_resumes(spark, tmp_path, monkeypatch):
    """A driver dying after round 2's snapshot write but before its manifest
    leaves an orphan state dir; the rerun must resume from round 1's manifest
    and reach the same components as an uninterrupted run."""
    pairs = random_graph(90, 0.03, seed=5)
    cp = str(tmp_path / "cc_crash")
    orig = CheckpointManager.write_manifest

    def crash_at_2(self, iteration, *args, **kwargs):
        if iteration == 2:
            raise RuntimeError("injected crash before manifest 2")
        return orig(self, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointManager, "write_manifest", crash_at_2)
    with pytest.raises(RuntimeError, match="injected crash"):
        connected_components(spark, edges_df(spark, pairs), checkpoint_dir=cp)
    monkeypatch.setattr(CheckpointManager, "write_manifest", orig)

    resumed = connected_components(spark, edges_df(spark, pairs), checkpoint_dir=cp)
    straight = connected_components(spark, edges_df(spark, pairs))
    assert resumed.history[0]["round"] == 1
    assert resumed.history[1]["round"] == 2
    assert _collect(resumed) == _collect(straight) == ref_components(pairs)


def test_history_one_record_per_round(spark):
    res = connected_components(spark, edges_df(spark, random_graph(60, 0.05, seed=3)))
    assert [h["round"] for h in res.history] == list(range(1, res.rounds + 1))
    for h in res.history:
        assert set(h) == {
            "round", "edges", "seconds", "shuffle_write_bytes", "shuffle_read_bytes"
        }
