"""Spark-job budgets of the iterative operators, read from the status store.

Each row runs an operator under its own job group on a fixed graph of at
most 10 vertices and counts the jobs the group ran before the first
``CheckpointManager.save`` (the build) and from then on (the supersteps).
On a small graph a superstep's cost is its job count, so an extra exchange
or a stray action shows up here before it shows up in a benchmark. The
extraction row runs on a 20-file corpus and also bounds the plan's kind:
no Python stage."""

from pyspark.sql import functions as F

from pgs_spark.functions.extract import sha_violations, with_refs
from pgs_spark.operators.components import connected_components
from pgs_spark.operators.contraction import merge_to_k
from pgs_spark.operators.edges import canonicalize
from pgs_spark.operators.label_propagation import label_propagation
from pgs_spark.operators.layout import fr_layout, repulsion_circle_pack
from pgs_spark.operators.pagerank import pagerank
from pgs_spark.operators.triangles import triangle_count
from pgs_spark.sources.generator import generate_code_files
from pgs_spark.streaming.checkpoint import CheckpointManager
from tests.conftest import edges_df

# two cycles bridged at 0, a tail into the dangling vertex 4 and a lone edge
# into the dangling vertex 9: every vertex kind PageRank distinguishes
GRAPH = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0), (5, 6), (6, 7), (7, 5), (8, 9)]


def _group_jobs(spark, group):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs(spark, group, run):
    """The jobs `run()` ran, under the job group `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return _group_jobs(spark, group)


def _budget(spark, monkeypatch, group, run):
    """(build jobs, [jobs of each step], jobs after the build) of `run()`."""
    marks = []
    orig = CheckpointManager.save

    def counted_save(self, *args, **kwargs):
        before = _group_jobs(spark, group)
        out = orig(self, *args, **kwargs)
        marks.append((before, _group_jobs(spark, group)))
        return out

    monkeypatch.setattr(CheckpointManager, "save", counted_save)
    every = _jobs(spark, group, run)
    build = marks[0][0] if marks else every
    return build, [after - before for before, after in marks], every - build


def test_pagerank_job_budget(spark, monkeypatch):
    """Build ≤ 6 jobs (one vertex aggregate, one stats row, the edge
    table's partitioning); each superstep ≤ 3 (the state exchange, the
    aggregate exchange and the snapshot write)."""
    edges = edges_df(spark, GRAPH)
    res = []
    build, steps, after = _budget(
        spark, monkeypatch, "budget/pagerank",
        lambda: res.append(pagerank(spark, edges, fixed_iterations=4)),
    )
    assert res[0].iterations == 4 and len(steps) == 4
    assert len(build) <= 6, sorted(build)
    assert all(len(s) <= 3 for s in steps), [len(s) for s in steps]
    assert len(after) <= 3 * len(steps)  # nothing runs between the saves


def _plan_nodes(plan):
    """Node names of a physical plan, AQE wrappers unwrapped. A cached
    relation's plan is not a child of its scan, so it is not listed."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    children = plan.children()
    return [plan.nodeName()] + [
        n for i in range(children.size()) for n in _plan_nodes(children.apply(i))
    ]


def test_lpa_job_budget(spark, monkeypatch):
    """Step 0 (sym's partitioning, the init labels) ≤ 4 jobs; each later
    superstep ≤ 2 (the label broadcast, reused by both lookups, and the
    snapshot write) and its plan has no shuffle Exchange: the edge side is
    partitioned once and never moves again."""
    plans = []
    orig = CheckpointManager.save

    def planned_save(self, state, iteration, *args, **kwargs):
        if iteration:
            plans.append(_plan_nodes(state._jdf.queryExecution().executedPlan()))
        return orig(self, state, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointManager, "save", planned_save)
    und = canonicalize(edges_df(spark, GRAPH))
    res = []
    build, steps, after = _budget(
        spark, monkeypatch, "budget/lpa",
        lambda: res.append(label_propagation(spark, und, max_iter=4)),
    )
    assert len(steps) == res[0].iterations + 1 >= 3  # step 0 is the init
    assert len(steps[0]) <= 4, sorted(steps[0])
    assert all(len(s) <= 2 for s in steps[1:]), [len(s) for s in steps]
    assert len(after) <= 4 + 2 * (len(steps) - 1)
    for nodes in plans:
        assert "Exchange" not in nodes and "BroadcastExchange" in nodes, nodes


def test_connected_components_job_budget(spark, monkeypatch):
    """A round is ≤ 8 jobs: its snapshot write and AQE's shuffle stages
    (8 and 6 here). Nothing runs before the first round or between rounds:
    no signature or sizing action, no setup pass over the input."""
    edges = edges_df(spark, GRAPH)
    res = []
    build, steps, after = _budget(
        spark, monkeypatch, "budget/cc",
        lambda: res.append(connected_components(spark, edges)),
    )
    assert len(steps) == res[0].rounds == 2
    assert not build, sorted(build)
    assert all(len(s) <= 8 for s in steps), [len(s) for s in steps]
    assert len(after) == sum(map(len, steps))


def test_merge_to_k_job_budget(spark, monkeypatch):
    """Build ≤ 4 jobs (one aggregate for the edge and vertex counts), the
    initial state's write ≤ 3 and each round ≤ 20 (19, 20 and 17 measured:
    AQE runs each shuffle and broadcast stage of the round's group-level
    joins as its own job, then the snapshot write). The group count rides
    the write, so nothing runs between rounds; round 3 merges nothing and
    ends the run."""
    und = canonicalize(edges_df(spark, GRAPH))
    res = []
    build, steps, after = _budget(
        spark, monkeypatch, "budget/merge_to_k",
        lambda: res.append(merge_to_k(spark, und, k=2, max_rounds=6)),
    )
    assert res[0].rounds == 3 and len(steps) == 4  # step 0 is the init
    assert [h["n_groups"] for h in res[0].history] == [4, 3, 3]
    assert len(build) <= 4, sorted(build)
    assert len(steps[0]) <= 3, sorted(steps[0])
    assert all(len(s) <= 20 for s in steps[1:]), [len(s) for s in steps]
    assert len(after) == sum(map(len, steps))


def test_fr_layout_job_budget(spark, monkeypatch):
    """Build ≤ 8 jobs (the vertex and dart counts), the initial positions'
    write 1, each iteration ≤ 4 (AQE is off in the loop: the position
    broadcasts, the force aggregate and the snapshot write); nothing runs
    between the saves."""
    und = canonicalize(edges_df(spark, GRAPH))
    res = []
    build, steps, after = _budget(
        spark, monkeypatch, "budget/fr_layout",
        lambda: res.append(fr_layout(spark, und, iterations=4)),
    )
    assert res[0].iterations == 4 and len(steps) == 5
    assert len(build) <= 8, sorted(build)
    assert len(steps[0]) <= 1, sorted(steps[0])
    assert all(len(s) <= 4 for s in steps[1:]), [len(s) for s in steps]
    assert len(after) == sum(map(len, steps))


def test_circle_pack_job_budget(spark, monkeypatch):
    """Build ≤ 3 jobs (one count/max(r) row), the initial write 1, each
    iteration ≤ 3; nothing runs between the saves."""
    und = canonicalize(edges_df(spark, GRAPH))
    circles = und.select(
        F.col("src").alias("id"), F.col("src").cast("double").alias("x"),
        F.lit(0.0).alias("y"), F.lit(0.6).alias("r"),
    )
    res = []
    build, steps, after = _budget(
        spark, monkeypatch, "budget/circle_pack",
        lambda: res.append(repulsion_circle_pack(spark, circles, iterations=4)),
    )
    assert res[0].iterations == 4 and len(steps) == 5
    assert len(build) <= 3, sorted(build)
    assert len(steps[0]) <= 1, sorted(steps[0])
    assert all(len(s) <= 3 for s in steps[1:]), [len(s) for s in steps]
    assert len(after) == sum(map(len, steps))


def test_triangle_count_runs_no_sizing_job(spark, monkeypatch):
    """On a cached graph the optimizer's size estimate
    (``optimizedPlan().stats()``) keeps the small-graph plan: 16 jobs, all
    of them the result's count. No ``ori.count()`` sizing action runs, the
    fallback taken when the estimate cannot be read."""
    edges = edges_df(spark, GRAPH + [(0, 3), (1, 3)]).persist()
    df_type = type(edges)
    orig = df_type.count
    counted = []
    try:
        edges.count()
        monkeypatch.setattr(df_type, "count", lambda self: counted.append(self) or orig(self))
        got = []
        jobs = _jobs(
            spark, "budget/triangles", lambda: got.append(triangle_count(spark, edges))
        )
    finally:
        edges.unpersist()
    assert got == [5]
    assert len(counted) == 1  # the result's count, nothing before it
    assert len(jobs) <= 16, sorted(jobs)


PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")


def test_with_refs_runs_no_python(spark, monkeypatch):
    """Extraction and the sha check are JVM plans: no Python worker, no
    Arrow transfer. `with_refs(...).count()` runs ≤ 2 jobs (the count's
    partial and final aggregate)."""
    cf = generate_code_files(spark, n_repos=5, n_files=20, seed=3).persist()
    cf.count()
    plans = []
    df_type = type(cf)
    orig = df_type.count

    def planned_count(self):
        qe = self._jdf.queryExecution()
        plans.append(qe.executedPlan().toString() + qe.optimizedPlan().toJSON())
        return orig(self)

    monkeypatch.setattr(df_type, "count", planned_count)
    jobs = _jobs(spark, "budget/with_refs", lambda: with_refs(cf).count())
    assert sha_violations(cf) == 0
    cf.unpersist()
    assert len(plans) == 2
    for plan in plans:
        found = [n for n in PYTHON_NODES if n in plan]
        assert not found, found
    assert len(jobs) <= 2, sorted(jobs)
