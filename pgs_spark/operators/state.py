"""Off-heap iteration state and the superstep runner for driver-side loops.

Every iterative operator in this engine carries per-superstep state. Keeping
that state as localCheckpoint'ed RDD blocks leaves every superstep's rows
*deserialized on the JVM heap* — blocks that unpersist() cannot free
promptly; at 20M vertices that produced 19 Full GCs with multi-second pauses
(see BENCH/BASELINE.md history). Writing state to parquet and re-reading it
keeps the working set in the OS page cache (off-heap), truncates lineage,
and — with a manifest — survives a driver restart.

``run_supersteps`` is the one superstep loop — the "compute all, then flip"
barrier of the reference's mesh smoothing (commons/PMesh.java:237-270) as an
immutable snapshot swap — owning directory, resume, convergence observation,
manifest, history record and cleanup for every operator that runs on it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from pgs_spark.session import shuffle_bytes
from pgs_spark.streaming.checkpoint import CheckpointManager


def make_work_dir(prefix: str) -> str:
    """Ephemeral snapshot dir — honors PGS_SPARK_LOCAL_DIR (tmpfs in bench
    runs, per-executor local disk on a cluster). The operator's returned
    DataFrame reads from the final snapshot, so the dir must outlive the
    call; it is reclaimed at interpreter exit rather than leaked across
    long-lived sessions."""
    d = tempfile.mkdtemp(
        prefix=prefix, dir=os.environ.get("PGS_SPARK_LOCAL_DIR") or None
    )
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def snapshot(df: DataFrame, work_dir: str, name: str) -> DataFrame:
    """Write-and-reread parquet: flat lineage with OFF-HEAP state. Iterative
    loops alternate two names (``state_{it % 2}``) so storage stays bounded
    at two snapshots regardless of iteration count."""
    path = os.path.join(work_dir, name)
    df.write.mode("overwrite").parquet(path)
    # re-read with the KNOWN schema: schema inference costs a driver-side
    # footer read per snapshot (~0.12s measured), pure overhead in a loop
    # that already knows the exact schema it just wrote
    return df.sparkSession.read.schema(df.schema).parquet(path)


@dataclass
class Supersteps:
    state: DataFrame  # the last step's snapshot, with the columns of `init`
    steps: int  # index of the last completed step (0 if none ran)
    converged: bool  # `done` held on the last step
    history: list = field(default_factory=list)


def run_supersteps(
    spark: SparkSession,
    init: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_steps: int,
    observe: Sequence[Column] = (),
    done: Callable[[dict, dict | None], bool] | None = None,
    *,
    key: str = "iteration",
    checkpoint_dir: str | None = None,
    fingerprint: Callable[[], str] | None = None,
    save_init: bool = False,
    persisted: Sequence[DataFrame] = (),
) -> Supersteps:
    """Run ``state_k = step(state_{k-1}, k)`` for k = 1..max_steps, stopping
    once ``done(observed_k, observed_{k-1})`` holds (None: fixed rounds; the
    previous values are None on the first step).

    Each step is ONE Spark action, its parquet snapshot through
    ``CheckpointManager.save``: the `observe` aggregates (aliased Columns
    over the step's output, whose extra columns the snapshot drops) ride
    that write, and its manifest carries the step's history record and
    ``converged`` flag. The two newest snapshots are kept. ``save_init``
    snapshots `init` as step 0 first. A history record holds `key` (the
    step index), every observed value not named ``_*``, `seconds` (plan
    build through the snapshot write) and the step's shuffle bytes.

    With `checkpoint_dir` the run is DURABLE: manifests carry partition
    lineage and the input `fingerprint()`; a rerun resumes from the newest
    manifest (history starting with it) or clears the dir on a fingerprint
    mismatch. Otherwise snapshots go to an ephemeral work dir. The
    `persisted` static inputs are unpersisted on return or failure."""
    durable = checkpoint_dir is not None
    try:
        cp = CheckpointManager(
            spark,
            checkpoint_dir if durable else make_work_dir("pgs_steps_"),
            fingerprint() if durable and fingerprint else "",
        )
        state, k, converged, prev, history = init, 0, False, None, []
        resumed = cp.resume_point() if durable else None
        if resumed is not None:
            k, state, m = resumed
            converged, prev = bool(m.get("converged")), m or None
            if k:
                history.append({**m, key: k})
        else:
            cp.clear()  # stale state from a different input — never mix
            if save_init:
                state = cp.save(init, 0, lineage=durable)

        while not converged and k < max_steps:
            k += 1
            t0, sb0 = time.time(), shuffle_bytes(spark)
            obs = Observation() if observe else None
            out = step(state, k)
            if obs is not None:
                out = out.observe(obs, *observe)
            rec, vals = {key: k}, {}

            def _record():
                # runs right after the snapshot write, before the manifest
                nonlocal converged
                vals.update(obs.get if obs is not None else {})
                sb1 = shuffle_bytes(spark)
                rec.update(
                    {n: v for n, v in vals.items() if not n.startswith("_")},
                    seconds=time.time() - t0,
                    shuffle_write_bytes=sb1[0] - sb0[0],
                    shuffle_read_bytes=sb1[1] - sb0[1],
                )
                converged = done is not None and bool(done(vals, prev))
                return {**vals, **rec, "converged": converged}

            state = cp.save(
                out.select(*init.columns), k, metrics_fn=_record, lineage=durable
            )
            cp.prune(keep_last=2)
            history.append(rec)
            prev = vals
        return Supersteps(state, k, converged, history)
    finally:
        for df in persisted:
            df.unpersist()
