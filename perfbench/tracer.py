"""Spans around the benchmark's calls into pgs_spark, plus the Spark-side
facts each span caused.

Every public call the workloads make runs inside ``Tracer.op`` and is timed in
every run. With tracing on, ``op`` also gives the call its own Spark job group
(``<workload>/<op>``), reads the group's jobs and stages from the status store
right after the call (the store has retention limits), and snapshots session
hygiene before and after. ``install_wrappers`` adds child spans inside the
program by wrapping ``CheckpointManager.save``, ``state.snapshot`` and
``fingerprint_edges`` at runtime; pgs_spark's files are never edited.

Instrumentation work done between spans runs inside spans of layer
``trace``, so the traced run can report what its own bookkeeping cost.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import Counter
from contextlib import contextmanager

from metrics import ratio_max_p50

# Operator modules bind ``snapshot``/``fingerprint_edges`` at import time
# (``components.py`` does ``from ...state import snapshot as _snapshot``), so
# the wrappers must be in place before any of them is imported.
_OPERATOR_MODULES = (
    "pgs_spark.operators.pagerank",
    "pgs_spark.operators.components",
    "pgs_spark.operators.label_propagation",
    "pgs_spark.operators.triangles",
)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


class Tracer:
    """In-memory span recorder. ``enabled`` selects the traced run."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._stack: list[dict] = []
        self._last_job = -1
        self.spark = None

    def bind(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, name: str, layer: str):
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.time(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, name: str, layer: str):
        """One public pgs_spark call. Raises whatever the call raises; the
        span records ``ok`` so the harness can count the failure."""
        group = f"{self.workload}/{name}"
        before = None
        if self.enabled:
            with self.span("trace.collect", "trace"):
                before = self._hygiene()
                self.spark.sparkContext.setJobGroup(group, name)
        with self.span(name, layer) as sp:
            sp["op"] = name
            sp["ok"] = False
            yield sp
            sp["ok"] = True
        if self.enabled:
            with self.span("trace.collect", "trace"):
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sp["jobs"], sp["stages"] = self._read_group(group)
                after = self._hygiene()
                sp["hygiene"] = {
                    "persists": after[0] - before[0],
                    "conf_drift": int(after[1] != before[1]),
                    "temp_views": len(after[2] - before[2]),
                }

    # -- status store ----------------------------------------------------------
    def _read_group(self, group: str):
        """Jobs (id, submit, complete, stage ids) and stage metrics of one job
        group, read from the status store once the listener bus is drained."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs_seq = store.jobsList(None)  # newest first
        jobs, stage_ids = [], []
        newest = self._last_job
        for i in range(jobs_seq.size()):
            j = jobs_seq.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            sids = j.stageIds()
            ids = [sids.apply(k) for k in range(sids.size())]
            jobs.append({"id": jid, "start": sub.get().getTime() / 1000.0,
                         "end": comp.get().getTime() / 1000.0, "stages": ids})
            stage_ids.extend(ids)
        self._last_job = newest
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = []
        for sid in sorted(set(stage_ids)):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # evicted by retention: report what remains
                continue
            if str(s.status()) == "SKIPPED":
                continue
            rec = {
                "id": sid,
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.diskBytesSpilled(),
                "failed_tasks": s.numFailedTasks(),
                "p50_ms": 0.0,
                "max_ms": 0.0,
            }
            if rec["tasks"] >= 2:
                dist = store.taskSummary(sid, s.attemptId(), quantiles)
                if dist.isDefined():
                    ert = dist.get().executorRunTime()
                    rec["p50_ms"], rec["max_ms"] = ert.apply(0), ert.apply(1)
            stages.append(rec)
        return jobs, stages

    def _hygiene(self):
        jsc = self.spark.sparkContext._jsc.sc()
        cat = self.spark._jsparkSession.sessionState().catalog()
        views = cat.listLocalTempViews("*")
        names = {views.apply(i).table() for i in range(views.size())}
        gnames = cat.globalTempViewManager().listViewNames("*")
        names |= {"global." + gnames.apply(i) for i in range(gnames.size())}
        return (
            jsc.getPersistentRDDs().size(),
            self.spark.conf.get("spark.sql.shuffle.partitions"),
            names,
        )

    # -- child spans inside the program ---------------------------------------
    def install_wrappers(self) -> None:
        loaded = [m for m in _OPERATOR_MODULES if m in sys.modules]
        if loaded:
            raise RuntimeError(f"wrappers must precede operator imports: {loaded}")
        from pgs_spark.operators import state
        from pgs_spark.streaming import checkpoint

        cm = checkpoint.CheckpointManager
        tracer = self

        def written(path):
            if path:
                with tracer.span("trace.collect", "trace"):
                    tracer.counters["bytes_written"] += _dir_bytes(path)

        orig_save = cm.save

        @functools.wraps(orig_save)
        def save(self, *args, **kwargs):
            with tracer.span("CheckpointManager.save", "checkpoint"):
                out = orig_save(self, *args, **kwargs)
            tracer.counters["saves"] += 1
            written(getattr(out, "_pgs_snapshot_path", None))
            return out

        orig_manifest = cm.write_manifest

        @functools.wraps(orig_manifest)
        def write_manifest(self, *args, **kwargs):
            tracer.counters["manifests"] += 1
            return orig_manifest(self, *args, **kwargs)

        orig_snapshot = state.snapshot

        @functools.wraps(orig_snapshot)
        def snapshot(df, work_dir, name):
            with tracer.span("state.snapshot", "checkpoint"):
                out = orig_snapshot(df, work_dir, name)
            tracer.counters["saves"] += 1
            written(os.path.join(work_dir, name))
            return out

        orig_fp = checkpoint.fingerprint_edges

        @functools.wraps(orig_fp)
        def fingerprint_edges(edges):
            with tracer.span("fingerprint_edges", "checkpoint"):
                return orig_fp(edges)

        cm.save = save
        cm.write_manifest = write_manifest
        state.snapshot = snapshot
        checkpoint.fingerprint_edges = fingerprint_edges

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def stage_totals(spans) -> dict:
    """Sums over the stages of the given op spans (traced runs only)."""
    stages = [st for sp in spans for st in sp.get("stages", [])]
    return {
        "executor_run_s": sum(st["run_ms"] for st in stages) / 1000.0,
        "gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
        "spill_bytes": sum(st["spill"] for st in stages),
        "shuffle_bytes": sum(st["shuffle_write"] for st in stages),
        "stages": len(stages),
        "failed_tasks": sum(st["failed_tasks"] for st in stages),
        "jobs": sum(len(sp.get("jobs", [])) for sp in spans),
        "task_max_over_p50": ratio_max_p50((st["p50_ms"], st["max_ms"]) for st in stages),
    }
