"""FR layout: determinism, box invariant, and plan shape (SURVEY §2.9 family).

Reference parity: PGS_Conversion.fromGraph (PGS_Conversion.java:977-1004)
runs IndexedFRLayoutAlgorithm2D for 50 seeded iterations; the engine's grid
variant is the distributed analog. Correctness vs the unrolled DuckDB oracle
is gated by verify_entry/CORRECTNESS (query `layout_fr`)."""

from pyspark.sql import functions as F

from pgs_spark.operators.layout import _fr_iteration, fr_layout
from pgs_spark.plans.explain import plan_string
from tests.conftest import TWO_CLIQUES, edges_df
from tests.oracles import random_graph


def test_layout_deterministic_and_bounded(spark):
    """Reproducible to float-summation noise: shuffle merge order is
    nondeterministic, so the per-vertex force sums differ in the last ulps
    between any two runs (the test_pagerank resume-test convention); 1e-12
    is ~6 orders below the 6dp gate rounding."""
    import numpy as np

    e = edges_df(spark, random_graph(40, 0.1, seed=5))
    a = fr_layout(spark, e, iterations=4, seed=1337)
    b = fr_layout(spark, e, iterations=4, seed=1337)
    pa = {r["id"]: (r["x"], r["y"]) for r in a.positions.collect()}
    pb = {r["id"]: (r["x"], r["y"]) for r in b.positions.collect()}
    assert set(pa) == set(pb)
    ids = sorted(pa)
    assert np.allclose(
        [pa[i] for i in ids], [pb[i] for i in ids], atol=1e-12, rtol=0
    )
    assert all(0.0 <= x <= 1.0 and 0.0 <= y <= 1.0 for x, y in pa.values())
    assert a.iterations == 4 and len(a.history) == 4


def test_layout_seed_changes_positions(spark):
    e = edges_df(spark, TWO_CLIQUES)
    a = fr_layout(spark, e, iterations=2, seed=1337)
    b = fr_layout(spark, e, iterations=2, seed=42)
    pa = {r["id"]: (r["x"], r["y"]) for r in a.positions.collect()}
    pb = {r["id"]: (r["x"], r["y"]) for r in b.positions.collect()}
    assert pa != pb


def test_layout_separates_cliques(spark):
    """Two disconnected cliques repel: the mean intra-clique distance after
    layout is smaller than the distance between the clique centroids."""
    res = fr_layout(spark, edges_df(spark, TWO_CLIQUES), iterations=30)
    pos = {r["id"]: (r["x"], r["y"]) for r in res.positions.collect()}
    c1 = [pos[i] for i in pos if i < 10]
    c2 = [pos[i] for i in pos if i >= 10]

    def centroid(ps):
        return (sum(p[0] for p in ps) / len(ps), sum(p[1] for p in ps) / len(ps))

    def spread(ps):
        cx, cy = centroid(ps)
        return sum(((p[0] - cx) ** 2 + (p[1] - cy) ** 2) ** 0.5 for p in ps) / len(ps)

    (x1, y1), (x2, y2) = centroid(c1), centroid(c2)
    between = ((x1 - x2) ** 2 + (y1 - y2) ** 2) ** 0.5
    assert between > max(spread(c1), spread(c2))


def test_layout_iteration_plan_no_cartesian(spark):
    """The repulsion pass must stay a bucketed equi-join — a CartesianProduct
    here is the all-pairs O(n²) plan the grid variant exists to avoid."""
    e = edges_df(spark, TWO_CLIQUES)
    from pgs_spark.operators.edges import symmetrize

    sym = symmetrize(e)
    pos = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.rand(1).alias("x"), F.rand(2).alias("y")
    )
    step = _fr_iteration(sym, pos, k=0.2, r_cut=0.4, t=0.1, width=1.0)
    plan = plan_string(step)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_circle_pack_reduces_overlap(spark):
    """RepulsionCirclePack invariant (commons/RepulsionCirclePack.java:33-97):
    iterating reduces total pairwise overlap; non-overlapping inputs don't
    move; coincident centers don't NaN."""
    import itertools
    import math

    from pgs_spark.operators.layout import repulsion_circle_pack

    rows = [
        (0, 0.0, 0.0, 1.0),
        (1, 0.5, 0.0, 1.0),   # overlaps 0
        (2, 0.0, 0.6, 1.0),   # overlaps 0 and 1
        (3, 10.0, 10.0, 1.0),  # isolated — must not move
        (4, 20.0, 20.0, 1.0),  # coincident with 5
        (5, 20.0, 20.0, 1.0),
    ]
    circles = spark.createDataFrame(rows, "id long, x double, y double, r double")

    def overlap(pos):
        tot = 0.0
        for (i, (xi, yi, ri)), (j, (xj, yj, rj)) in itertools.combinations(pos.items(), 2):
            d = math.dist((xi, yi), (xj, yj))
            tot += max(0.0, ri + rj - d)
        return tot

    start = {i: (x, y, r) for i, x, y, r in rows}
    res = repulsion_circle_pack(spark, circles, iterations=8)
    got = {r["id"]: (r["x"], r["y"]) for r in res.positions.collect()}
    end = {i: (got[i][0], got[i][1], start[i][2]) for i in got}
    assert overlap(end) < overlap(start) * 0.5
    assert got[3] == (10.0, 10.0)  # isolated circle untouched
    assert all(math.isfinite(v) for xy in got.values() for v in xy)


def test_layout_checkpoint_resume(spark, tmp_path):
    """Durable resume (round-4 VERDICT #2): kill after 3 of 8 iterations
    (run_budget), resume from the manifest, final positions match an
    uninterrupted run to the float-summation tolerance (1e-12 — the same
    convention as the determinism test above; identical at 6dp gate
    rounding). The resumed run must actually SKIP the completed supersteps."""
    import numpy as np

    e = edges_df(spark, random_graph(40, 0.1, seed=5))
    ck = str(tmp_path / "fr_ck")
    part = fr_layout(spark, e, iterations=8, seed=1337, checkpoint_dir=ck, run_budget=3)
    assert part.iterations == 3
    resumed = fr_layout(spark, e, iterations=8, seed=1337, checkpoint_dir=ck)
    assert resumed.iterations == 8
    # skipped 1-3: the first record is the resumed-from manifest
    assert [h["iteration"] for h in resumed.history] == [3, 4, 5, 6, 7, 8]
    straight = fr_layout(spark, e, iterations=8, seed=1337)
    pr = {r["id"]: (r["x"], r["y"]) for r in resumed.positions.collect()}
    ps = {r["id"]: (r["x"], r["y"]) for r in straight.positions.collect()}
    assert set(pr) == set(ps)
    ids = sorted(pr)
    assert np.allclose([pr[i] for i in ids], [ps[i] for i in ids], atol=1e-12, rtol=0)
    # a completed checkpoint short-circuits: third call runs zero supersteps,
    # its history is the resumed-from record alone
    again = fr_layout(spark, e, iterations=8, seed=1337, checkpoint_dir=ck)
    assert [h["iteration"] for h in again.history] == [8]
    pa = {r["id"]: (r["x"], r["y"]) for r in again.positions.collect()}
    assert pa == pr  # exact: same parquet snapshot read back
    # different fingerprint (seed) must NOT resume from this state
    other = fr_layout(spark, e, iterations=8, seed=42, checkpoint_dir=ck)
    assert len(other.history) == 8


def test_circle_pack_checkpoint_resume(spark, tmp_path):
    """Same durable-resume contract for repulsion_circle_pack."""
    import numpy as np

    from pgs_spark.operators.layout import repulsion_circle_pack

    rows = [
        (i, 0.1 * (i % 7), 0.1 * (i // 7), 0.08 + 0.01 * (i % 3))
        for i in range(30)
    ]
    circles = spark.createDataFrame(rows, "id long, x double, y double, r double")
    ck = str(tmp_path / "pack_ck")
    part = repulsion_circle_pack(spark, circles, iterations=6, checkpoint_dir=ck, run_budget=2)
    assert part.iterations == 2
    resumed = repulsion_circle_pack(spark, circles, iterations=6, checkpoint_dir=ck)
    assert resumed.iterations == 6
    straight = repulsion_circle_pack(spark, circles, iterations=6)
    pr = {r["id"]: (r["x"], r["y"]) for r in resumed.positions.collect()}
    ps = {r["id"]: (r["x"], r["y"]) for r in straight.positions.collect()}
    ids = sorted(pr)
    assert np.allclose([pr[i] for i in ids], [ps[i] for i in ids], atol=1e-12, rtol=0)


def test_layout_init_positions_and_iter_timing(spark):
    """`init_positions` overrides the seeded start (the adversarial-clump
    bench hook, VERDICT r4 #9) and history records real per-iteration wall
    seconds. A clumped start must still end inside the box and must differ
    from the hash-seeded run after one iteration."""
    e = edges_df(spark, TWO_CLIQUES)
    ids = e.selectExpr("src as id").union(e.selectExpr("dst as id")).distinct()
    clump = ids.selectExpr("id", "0.01 as x", "0.01 as y")
    a = fr_layout(spark, e, iterations=2, seed=1337, init_positions=clump)
    b = fr_layout(spark, e, iterations=2, seed=1337)
    pa = {r["id"]: (r["x"], r["y"]) for r in a.positions.collect()}
    pb = {r["id"]: (r["x"], r["y"]) for r in b.positions.collect()}
    assert set(pa) == set(pb) and pa != pb
    assert all(0.0 <= x <= 1.0 and 0.0 <= y <= 1.0 for x, y in pa.values())
    assert [h["iteration"] for h in a.history] == [1, 2]
    assert all(h["seconds"] > 0 for h in a.history)
