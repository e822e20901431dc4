"""Label propagation invariants + triangle counting vs oracle."""

import pytest
from pyspark.sql import functions as F

from pgs_spark.operators.edges import canonicalize, symmetrize
from pgs_spark.operators.label_propagation import label_propagation
from pgs_spark.operators.triangles import triangle_count, triangle_counts_per_vertex
from tests.conftest import CYCLE4, PATH5, TRIANGLE_PLUS_TAIL, TWO_CLIQUES, edges_df
from tests.oracles import random_graph, ref_triangle_count


# ---------------- LPA ----------------

def test_lpa_two_cliques_two_labels(spark):
    und = canonicalize(edges_df(spark, TWO_CLIQUES))
    res = label_propagation(spark, und, max_iter=10)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert len({v for k, v in labels.items() if k < 10}) == 1
    assert len({v for k, v in labels.items() if k >= 10}) == 1
    assert labels[0] != labels[10]


def test_lpa_deterministic(spark):
    und = canonicalize(edges_df(spark, TWO_CLIQUES + PATH5))
    a = {r["id"]: r["label"] for r in label_propagation(spark, und, max_iter=5).labels.collect()}
    b = {r["id"]: r["label"] for r in label_propagation(spark, und, max_iter=5).labels.collect()}
    assert a == b


def test_lpa_closed_neighborhood_invariant(spark):
    """FIXTURES.md §4: every final label occurs in the vertex's closed
    neighborhood (label came from self or a neighbor)."""
    pairs = random_graph(60, 0.08, seed=11)
    und = canonicalize(edges_df(spark, pairs))
    res = label_propagation(spark, und, max_iter=6)
    labels = res.labels
    sym = symmetrize(und)
    nbr_labels = (
        sym.join(labels, sym.dst == labels.id)
        .select(F.col("src").alias("id"), F.col("label"))
        .union(labels.select("id", "label"))
        .distinct()
    )
    violations = labels.join(nbr_labels, ["id", "label"], "left_anti").count()
    assert violations == 0


def test_lpa_seeded_classes(spark):
    und = canonicalize(edges_df(spark, TWO_CLIQUES))
    res = label_propagation(spark, und, max_iter=5, seed=1337, n_initial_labels=3)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert set(labels.values()) <= {0, 1, 2}
    # determinism under fixed seed (the SEED=1337 discipline)
    res2 = label_propagation(spark, und, max_iter=5, seed=1337, n_initial_labels=3)
    assert labels == {r["id"]: r["label"] for r in res2.labels.collect()}


def test_lpa_resume_after_crash_in_step_1(spark, tmp_path, monkeypatch):
    """A crash before superstep 1's manifest leaves only the init manifest
    (step 0); the rerun resumes from it without rewriting the snapshot it
    reads, and ends where an uninterrupted run does."""
    from pgs_spark.streaming.checkpoint import CheckpointManager

    und = canonicalize(edges_df(spark, TWO_CLIQUES + PATH5))
    cp = str(tmp_path / "lpa_crash")
    orig = CheckpointManager.write_manifest

    def crash_at_1(self, iteration, *args, **kwargs):
        if iteration == 1:
            raise RuntimeError("injected crash before manifest 1")
        return orig(self, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointManager, "write_manifest", crash_at_1)
    with pytest.raises(RuntimeError, match="injected crash"):
        label_propagation(spark, und, max_iter=6, checkpoint_dir=cp)
    monkeypatch.setattr(CheckpointManager, "write_manifest", orig)

    resumed = label_propagation(spark, und, max_iter=6, checkpoint_dir=cp)
    straight = label_propagation(spark, und, max_iter=6)
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == {r["id"]: r["label"] for r in straight.labels.collect()}
    assert (resumed.iterations, resumed.converged) == (
        straight.iterations,
        straight.converged,
    )


# ---------------- triangles ----------------

@pytest.mark.parametrize(
    "pairs,expected",
    [(TRIANGLE_PLUS_TAIL, 1), (TWO_CLIQUES, 4 + 1), (CYCLE4, 0), (PATH5, 0)],
)
def test_triangles_known(spark, pairs, expected):
    assert triangle_count(spark, edges_df(spark, pairs)) == expected


def test_triangles_direction_and_dupes_irrelevant(spark):
    messy = TRIANGLE_PLUS_TAIL + [(b, a) for a, b in TRIANGLE_PLUS_TAIL] + [(1, 0)]
    assert triangle_count(spark, edges_df(spark, messy)) == 1


@pytest.mark.parametrize("k", [0, 1, 2])
def test_triangles_random_vs_oracle(spark, k):
    pairs = random_graph(50 + 11 * k, 0.12, seed=300 + k)
    assert triangle_count(spark, edges_df(spark, pairs)) == ref_triangle_count(pairs)


def test_per_vertex_triangles(spark):
    per = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts_per_vertex(spark, edges_df(spark, TRIANGLE_PLUS_TAIL)).collect()
    }
    assert per == {0: 1, 1: 1, 2: 1}
