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


# vote ties (0 and 3 each see two labels once), a self-loop at 4, a hub 9
# with ten leaves and a lone edge; w is an integer weight per edge
TIES_LOOP_HUB = (
    [(0, 1), (0, 2), (1, 3), (2, 3), (4, 4), (4, 5)]
    + [(9, i) for i in range(10, 20)]
    + [(20, 21)]
)


def _ref_lpa(rows, max_iter, weighted):
    """Synchronous LPA over the symmetric rows: the vote is the count (or
    weight sum) per neighbour label, the winner the most votes, then the
    smallest label."""
    sym = [(a, b, w) for a, b, w in rows] + [(b, a, w) for a, b, w in rows]
    labels = {a: a for a, _, _ in sym}
    for _ in range(max_iter):
        votes = {}
        for a, b, w in sym:
            key = (a, labels[b])
            votes[key] = votes.get(key, 0) + (w if weighted else 1)
        new = {v: min(labels, key=lambda lab: (-votes.get((v, lab), 0), lab))
               for v in labels}
        if new == labels:
            break
        labels = new
    return labels


def test_lpa_without_broadcast_matches(spark):
    """With ``autoBroadcastJoinThreshold=-1`` the label lookups are
    sort-merge joins; count votes, weighted votes and seeded init give the
    same labels as with broadcasts on, and the votes match a reference."""
    rows = [(a, b, (a * 7 + b * 3) % 5 + 1) for a, b in TIES_LOOP_HUB]
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    modes = {"count": {}, "weighted": {"weight_col": "w"},
             "seeded": {"seed": 1337, "n_initial_labels": 3}}

    def run_all():
        return {
            m: {r["id"]: r["label"]
                for r in label_propagation(spark, e, max_iter=3, **kw).labels.collect()}
            for m, kw in modes.items()
        }

    on = run_all()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        off = run_all()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert on == off
    assert on["count"] == _ref_lpa(rows, 3, weighted=False)
    assert on["weighted"] == _ref_lpa(rows, 3, weighted=True)


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
