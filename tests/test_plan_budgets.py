"""Spark-job budgets of the iterative operators, read from the status store.

Each row runs an operator under its own job group on a fixed graph of at
most 10 vertices and counts the jobs the group ran before the first
``CheckpointManager.save`` (the build) and from then on (the supersteps).
On a small graph a superstep's cost is its job count, so an extra exchange
or a stray action shows up here before it shows up in a benchmark. The
extraction row runs on a 20-file corpus and also bounds the plan's kind:
no Python stage."""

from pgs_spark.functions.extract import sha_violations, with_refs
from pgs_spark.operators.pagerank import pagerank
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
