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


def test_dst_hub_alone_does_not_engage_salting(spark, monkeypatch):
    """A hub IN-degree is absorbed by map-side partial aggregation: it is
    measured (`skew_ratio_dst`) but must not engage salting, and the
    dangling hub's mass must still be redistributed."""
    pairs = [(i, 0) for i in range(1, 200)] + [(i, i + 1) for i in range(1, 100)]
    monkeypatch.setenv("PGS_SALT_MIN_DEGREE", "50")
    monkeypatch.setenv("PGS_SALT_RATIO", "4")
    res = pagerank(spark, edges_df(spark, pairs), fixed_iterations=3)
    m = res.history[0]
    assert not m["salted"] and not m["salted_join"] and m["skew_ratio_dst"] > 4
    assert abs(sum(_collect(res).values()) - 1.0) < 1e-9


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


def test_resume_from_snapshot_without_dangling_flag(spark, tmp_path):
    """A durable dir written before snapshots carried the `dangling` flag:
    an (id, rank) snapshot and its manifest. The rerun rebuilds the flag
    from the vertex table and finishes like an uninterrupted run."""
    from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges

    pairs = random_graph(30, 0.12, seed=9, directed=True) + [(0, 100), (1, 101)]
    e = edges_df(spark, pairs)
    first = pagerank(spark, e, fixed_iterations=3)
    cp = CheckpointManager(spark, str(tmp_path / "ck_old"), fingerprint_edges(e))
    first.ranks.select("id", "rank").write.parquet(f"{cp.dir}/state_00003")
    h = first.history[-1]
    cp.write_manifest(
        3, {"iteration": 3, "delta": h["delta"], "dangling_mass": h["dangling_mass"]}
    )

    resumed = pagerank(spark, e, fixed_iterations=5, checkpoint_dir=cp.dir)
    straight = pagerank(spark, e, fixed_iterations=5)
    a, b = _collect(resumed), _collect(straight)
    assert set(a) == set(b)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], atol=1e-12)
    assert len(resumed.history) == 2  # supersteps 4 and 5 only


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


@pytest.mark.parametrize("kw", [dict(fixed_iterations=10), dict(tol=1e-9, max_iter=200)])
def test_ephemeral_matches_durable_and_keeps_one_snapshot(spark, tmp_path, monkeypatch, kw):
    """An ephemeral run (local-checkpoint supersteps, one parquet result)
    gives the durable run's ranks, to float-summation order (the bound of
    the resume tests), and leaves one state snapshot and one manifest in
    its work dir."""
    import os

    monkeypatch.setenv("PGS_SPARK_LOCAL_DIR", str(tmp_path))
    pairs = random_graph(30, 0.12, seed=9, directed=True) + [(0, 100), (1, 101)]
    e = edges_df(spark, pairs)
    ephemeral = pagerank(spark, e, **kw)
    durable = pagerank(spark, e, checkpoint_dir=str(tmp_path / "ck"), **kw)

    assert ephemeral.iterations == durable.iterations and ephemeral.converged
    a, b = _collect(ephemeral), _collect(durable)
    assert set(a) == set(b)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids], rtol=0, atol=1e-13)
    (work,) = [d for d in os.listdir(tmp_path) if d.startswith("pgs_pr_")]
    names = sorted(os.listdir(tmp_path / work))
    assert [n for n in names if n.startswith("state_")] == [
        f"state_{ephemeral.iterations:05d}"
    ], names
    assert [n for n in names if n.startswith("manifest_")] == [
        f"manifest_{ephemeral.iterations:05d}.json"
    ], names


def _plan_size(plan):
    """(node count, constraint count) of a logical plan."""
    children = plan.children()
    nodes = 1 + sum(_plan_size(children.apply(i))[0] for i in range(children.size()))
    return nodes, plan.constraints().size()


def test_local_checkpoint_chain_keeps_plan_flat(spark, monkeypatch):
    """Chained local checkpoints must not carry their history forward: a
    chain whose plans grew per step walked into a cliff elsewhere (0.7 s to
    113 s by step 23). The optimized plan a superstep writes, which reads
    the previous step's checkpoint, is the same size at step 5 and step 40."""
    from pgs_spark.streaming.checkpoint import CheckpointManager

    sizes = {}
    orig = CheckpointManager.save

    def sized_save(self, state, iteration, *args, **kwargs):
        sizes[iteration] = _plan_size(state._jdf.queryExecution().optimizedPlan())
        return orig(self, state, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointManager, "save", sized_save)
    e = edges_df(spark, random_graph(30, 0.12, seed=9, directed=True))
    assert pagerank(spark, e, fixed_iterations=40).iterations == 40
    assert sizes[5] == sizes[40], (sizes[5], sizes[40])


def test_large_state_steps_stay_on_parquet(spark, monkeypatch):
    """Above LOCAL_MAX_ROWS vertices an ephemeral run snapshots every step
    to parquet (columnar reads beat serialized row blocks there) and gives
    the same ranks."""
    import pgs_spark.operators.pagerank as pr
    from pgs_spark.streaming.checkpoint import CheckpointManager

    e = edges_df(spark, random_graph(30, 0.12, seed=9, directed=True))
    small = _collect(pagerank(spark, e, fixed_iterations=4))
    modes = []
    orig = CheckpointManager.save

    def noted_save(self, state, iteration, *args, **kwargs):
        modes.append(kwargs.get("local", False))
        return orig(self, state, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointManager, "save", noted_save)
    monkeypatch.setattr(pr, "LOCAL_MAX_ROWS", 10)
    large = _collect(pagerank(spark, e, fixed_iterations=4))
    assert modes == [False] * 4
    ids = sorted(small)
    assert np.allclose([small[i] for i in ids], [large[i] for i in ids], rtol=0, atol=1e-13)
