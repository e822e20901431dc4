"""PageRank correctness: closed forms, differential oracle, resume (SURVEY §5)."""

import numpy as np
import pytest

from pgs_spark.operators.pagerank import pagerank
from tests.conftest import CYCLE4, DANGLING, PAIR, STAR10, edges_df
from tests.oracles import random_graph, ref_pagerank


def _collect(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def _assert_matches_oracle(spark, pairs, fixed=12, atol=1e-12, **kw):
    e = edges_df(spark, pairs)
    got = _collect(pagerank(spark, e, fixed_iterations=fixed, **kw))
    want = ref_pagerank(pairs, fixed_iterations=fixed)
    assert set(got) == set(want)
    ids = sorted(got)
    assert np.allclose([got[i] for i in ids], [want[i] for i in ids], atol=atol)


def test_cycle_symmetric(spark):
    """Directed 4-cycle: ranks stay exactly 0.25 (closed form)."""
    got = _collect(pagerank(spark, edges_df(spark, CYCLE4), tol=1e-9, max_iter=5))
    assert np.allclose(list(got.values()), 0.25, atol=1e-12)


def test_pair_with_dangling_oracle(spark):
    _assert_matches_oracle(spark, PAIR)


def test_dangling_redistribution(spark):
    _assert_matches_oracle(spark, DANGLING)
    # rank mass must stay 1.0 despite vertex 1 having no out-edges
    got = _collect(pagerank(spark, edges_df(spark, DANGLING), fixed_iterations=8))
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_star_hub_dominates(spark):
    e = edges_df(spark, STAR10 + [(b, a) for a, b in STAR10])
    got = _collect(pagerank(spark, e, fixed_iterations=10))
    hub = got[0]
    assert all(hub > 3 * v for k, v in got.items() if k != 0)


def test_salted_path_matches_plain(spark):
    pairs = random_graph(40, 0.1, seed=3, directed=True)
    e = edges_df(spark, pairs)
    plain = _collect(pagerank(spark, e, fixed_iterations=6))
    salted = _collect(pagerank(spark, e, fixed_iterations=6, salt_buckets=4))
    ids = sorted(plain)
    assert np.allclose([plain[i] for i in ids], [salted[i] for i in ids], atol=1e-12)


def test_auto_join_salting_on_src_hub_matches_plain(spark, monkeypatch):
    """A hub OUT-degree (one vertex's edge block = one straggler task) must
    auto-engage the salted gather join, record skew metrics in every
    manifest, and produce ranks identical to the plain path."""
    pairs = [(0, i) for i in range(1, 200)] + [(i, i + 1) for i in range(1, 100)]
    e = edges_df(spark, pairs)
    monkeypatch.setenv("PGS_SALT_MIN_DEGREE", "50")
    monkeypatch.setenv("PGS_SALT_RATIO", "4")
    salted = pagerank(spark, e, fixed_iterations=5)
    m = salted.history[0]
    assert m["salted"] and m["salted_join"]
    assert m["n_hot_src"] >= 1 and m["skew_ratio_src"] > 4
    monkeypatch.setenv("PGS_SALT_DISABLE", "1")
    plain = pagerank(spark, e, fixed_iterations=5)
    assert not plain.history[0]["salted"]
    a, b = _collect(salted), _collect(plain)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], atol=1e-12)


def test_optin_agg_salting_on_dst_hub_matches_plain(spark, monkeypatch):
    """The two-stage salted aggregation is opt-in (PGS_SALT_AGG) — map-side
    partial agg already absorbs dst hubs, see BENCH — but when engaged it
    must flag the hub and match plain exactly."""
    pairs = [(i, 0) for i in range(1, 200)] + [(i, i + 1) for i in range(1, 100)]
    e = edges_df(spark, pairs)
    monkeypatch.setenv("PGS_SALT_MIN_DEGREE", "50")
    monkeypatch.setenv("PGS_SALT_RATIO", "4")
    baseline = pagerank(spark, e, fixed_iterations=5)
    assert not baseline.history[0]["salted"]  # dst hub alone must NOT engage
    monkeypatch.setenv("PGS_SALT_AGG", "1")
    salted = pagerank(spark, e, fixed_iterations=5)
    m = salted.history[0]
    assert m["salted"] and not m["salted_join"] and m["n_hot_keys"] >= 1
    a, b = _collect(salted), _collect(baseline)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], atol=1e-12)


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """weight_col with all-equal weights must reproduce the unweighted ranks
    exactly (w/Σw == 1/outdeg)."""
    from pyspark.sql import functions as F

    pairs = random_graph(30, 0.15, seed=5, directed=True)
    e = edges_df(spark, pairs)
    ew = e.withColumn("weight", F.lit(2).cast("long"))
    plain = _collect(pagerank(spark, e, fixed_iterations=8))
    weighted = _collect(pagerank(spark, ew, fixed_iterations=8, weight_col="weight"))
    ids = sorted(plain)
    assert np.allclose([plain[i] for i in ids], [weighted[i] for i in ids], atol=1e-12)


def test_weighted_pagerank_follows_heavy_edge(spark):
    """v0 splits rank 9:1 between v1 and v2 — v1 must outrank v2."""
    from pyspark.sql import functions as F

    rows = [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)]
    e = spark.createDataFrame(rows, "src long, dst long, weight long")
    got = _collect(pagerank(spark, e, fixed_iterations=20, weight_col="weight"))
    assert got[1] > 2 * got[2]
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("k", [0, 1, 2])
def test_random_graphs_fixed_iterations(spark, k):
    pairs = random_graph(30 + 7 * k, 0.12, seed=100 + k, directed=True)
    _assert_matches_oracle(spark, pairs, fixed=10)


def test_convergence_to_1e6(spark):
    """North-rule check: converged scores match the oracle within 1e-6."""
    pairs = symmetrize_pairs(random_graph(25, 0.15, seed=5))
    e = edges_df(spark, pairs)
    res = pagerank(spark, e, tol=1.5e-7, max_iter=200)
    assert res.converged
    got = _collect(res)
    want = ref_pagerank(pairs)  # oracle to machine precision
    ids = sorted(got)
    assert np.allclose([got[i] for i in ids], [want[i] for i in ids], atol=1e-6)
    # history carries per-superstep metrics (north rule)
    assert all("delta" in h and "dangling_mass" in h for h in res.history)
    assert res.history[-1]["delta"] < 1.5e-7


def symmetrize_pairs(pairs):
    return sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})


def test_checkpoint_resume_identical(spark, tmp_path):
    """FIXTURES.md §5: interrupt after 3 supersteps, resume → final state
    equal to an uninterrupted run (to float-summation reproducibility: shuffle
    merge order is nondeterministic, so distributed sums differ in the last
    ulps between any two runs; 1e-13 ≪ the 1e-6 correctness tolerance)."""
    pairs = random_graph(30, 0.12, seed=9, directed=True)
    e = edges_df(spark, pairs)
    cp = str(tmp_path / "ck")

    interrupted = pagerank(spark, e, fixed_iterations=3, checkpoint_dir=cp)
    assert interrupted.iterations == 3
    resumed = pagerank(spark, e, fixed_iterations=10, checkpoint_dir=cp)
    straight = pagerank(spark, e, fixed_iterations=10)

    a = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    b = {r["id"]: r["rank"] for r in straight.ranks.collect()}
    assert set(a) == set(b)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], atol=1e-13)
    # resume actually skipped work: only supersteps 4..10 ran
    assert len(resumed.history) == 7


def test_crash_after_write_resumes(spark, tmp_path, monkeypatch):
    """ROADMAP item 6 fault injection: the driver dies in superstep 3 after
    the snapshot write, in the bookkeeping that follows it. No manifest may
    then claim superstep 3 without its dangling mass, so the rerun resumes
    to the uninterrupted ranks."""
    import os

    import pgs_spark.session

    pairs = random_graph(40, 0.06, seed=21, directed=True) + [(0, 100), (1, 101)]
    e = edges_df(spark, pairs)
    cp = str(tmp_path / "ck_crash")
    orig = pgs_spark.session.shuffle_bytes

    def crash_after_write_3(s):
        if os.path.isdir(os.path.join(cp, "state_00003")):
            raise RuntimeError("injected crash after write 3")
        return orig(s)

    monkeypatch.setattr(pgs_spark.session, "shuffle_bytes", crash_after_write_3)
    with pytest.raises(RuntimeError, match="injected crash"):
        pagerank(spark, e, fixed_iterations=6, checkpoint_dir=cp)
    monkeypatch.setattr(pgs_spark.session, "shuffle_bytes", orig)

    resumed = pagerank(spark, e, fixed_iterations=6, checkpoint_dir=cp)
    straight = pagerank(spark, e, fixed_iterations=6)
    a, b = _collect(resumed), _collect(straight)
    assert set(a) == set(b)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], atol=1e-12)
    assert len(resumed.history) < 6  # it resumed instead of starting over


def test_checkpoint_ignores_other_input(spark, tmp_path):
    cp = str(tmp_path / "ck2")
    e1 = edges_df(spark, random_graph(20, 0.2, seed=1, directed=True))
    e2 = edges_df(spark, random_graph(20, 0.2, seed=2, directed=True))
    pagerank(spark, e1, fixed_iterations=3, checkpoint_dir=cp)
    res = pagerank(spark, e2, fixed_iterations=4, checkpoint_dir=cp)
    assert len(res.history) == 4  # fingerprint mismatch → fresh start


def _barbell_pairs():
    """Asymmetric barbell (K9 + K4 joined by one edge, both directions):
    slow-mixing (λ ≈ 0.79 per superstep), so geometric extrapolation has a
    dominant error mode to jump along — numpy-simulated 72 plain vs 34
    extrapolated supersteps at tol=1e-9."""
    pairs = []
    for base, k in ((0, 9), (20, 4)):
        for a in range(base, base + k):
            for b in range(a + 1, base + k):
                pairs += [(a, b), (b, a)]
    return pairs + [(8, 20), (20, 8)]


def test_extrapolation_matches_plain_and_saves_supersteps(spark):
    """λ-extrapolated PageRank (TangencyPack.java:248-296 graft) converges to
    the same ranks as plain power iteration (allclose 1e-6) in fewer
    supersteps on a slow-mixing graph."""
    e = edges_df(spark, _barbell_pairs())
    plain = pagerank(spark, e, tol=1e-9, max_iter=200)
    fast = pagerank(spark, e, tol=1e-9, max_iter=200, extrapolate=True)
    assert plain.converged and fast.converged
    gp, gf = ({r["id"]: r["rank"] for r in res.ranks.collect()} for res in (plain, fast))
    ids = sorted(gp)
    assert np.allclose([gp[i] for i in ids], [gf[i] for i in ids], atol=1e-6)
    assert any(h.get("extrapolated") for h in fast.history)
    assert fast.iterations < plain.iterations


def test_extrapolation_resume(spark, tmp_path):
    """Resume across a λ-extrapolation jump restores the jumped state +
    dangling mass (manifest suffix path) and finishes identically."""
    pairs = random_graph(60, 0.08, seed=3, directed=True)
    e = edges_df(spark, pairs)
    full = pagerank(spark, e, tol=1e-9, max_iter=200, extrapolate=True)
    d = str(tmp_path / "cp")
    partial = pagerank(
        spark, e, tol=1e-9, max_iter=4, checkpoint_dir=d, extrapolate=True
    )
    assert not partial.converged
    resumed = pagerank(
        spark, e, tol=1e-9, max_iter=200, checkpoint_dir=d, extrapolate=True
    )
    gr, gf = ({r["id"]: r["rank"] for r in res.ranks.collect()} for res in (resumed, full))
    ids = sorted(gf)
    assert np.allclose([gf[i] for i in ids], [gr[i] for i in ids], atol=1e-6)


def test_personalized_matches_reference(spark):
    from tests.oracles import ref_ppr

    pairs = random_graph(n=40, p=0.1, seed=11, directed=True)
    mod = 5
    res = pagerank(
        spark, edges_df(spark, pairs), max_iter=80, tol=1e-10, personalize_mod=mod
    )
    got = {int(r.id): float(r.rank) for r in res.ranks.collect()}
    want = ref_ppr(pairs, mod)
    for v, w in want.items():
        assert abs(got[v] - w) < 1e-6, (v, got[v], w)


def test_personalized_mass_concentrates_on_seeds(spark):
    # star with hub 0 (seed): non-seed leaves only receive via the hub
    res = pagerank(
        spark, edges_df(spark, STAR10), max_iter=50, tol=1e-10, personalize_mod=100
    )  # only id 0 satisfies id % 100 == 0
    ranks = {int(r.id): float(r.rank) for r in res.ranks.collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0)
    assert abs(sum(ranks.values()) - 1.0) < 1e-8


def test_personalized_empty_seed_slice_raises(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank(spark, edges_df(spark, [(1, 2)]), personalize_mod=97)


def test_personalized_checkpoint_resume_identical(spark, tmp_path):
    """Durable resume must preserve the PERSONALIZED teleport: interrupt a
    seeded-restart run after 2 supersteps, resume to 8, compare to an
    uninterrupted personalized run (same float-reproducibility bound as the
    plain resume test)."""
    pairs = random_graph(30, 0.12, seed=21, directed=True)
    e = edges_df(spark, pairs)
    cp = str(tmp_path / "ck_ppr")

    interrupted = pagerank(
        spark, e, fixed_iterations=2, checkpoint_dir=cp, personalize_mod=5
    )
    assert interrupted.iterations == 2
    resumed = pagerank(
        spark, e, fixed_iterations=8, checkpoint_dir=cp, personalize_mod=5
    )
    straight = pagerank(spark, e, fixed_iterations=8, personalize_mod=5)

    a = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    b = {r["id"]: r["rank"] for r in straight.ranks.collect()}
    assert set(a) == set(b)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], atol=1e-13)
    assert len(resumed.history) == 6
