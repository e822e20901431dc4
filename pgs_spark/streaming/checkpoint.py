"""Superstep checkpointing with manifests — resumable iteration state.

The reference's frame-loop recompute (examples/leafColoring.pde:16-18) maps to
batch supersteps with durable state (SURVEY §2.10): every iteration writes the
vertex-state DataFrame plus a JSON manifest carrying iteration number, input
fingerprint, convergence metrics, and per-partition lineage. A restarted run
reads the newest manifest and resumes mid-convergence — Spark's own
``checkpoint()`` truncates lineage but does not survive a driver restart, so
state is persisted as parquet snapshots (Iceberg in production; same layout).

Writing state back out and reading it in ALSO truncates lineage, which keeps
the per-superstep plan flat instead of growing with iteration count — the
two-phase "compute all, then flip" barrier of PMesh.smoothScaled
(commons/PMesh.java:237-270) expressed as an immutable snapshot swap.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    """Manages `<dir>/state_<iter>/` parquet snapshots + `manifest_<iter>.json`."""

    def __init__(self, spark: SparkSession, directory: str, input_fingerprint: str = ""):
        self.spark = spark
        self.dir = directory
        self.fingerprint = input_fingerprint
        os.makedirs(directory, exist_ok=True)

    # -- write ---------------------------------------------------------------
    def save(
        self,
        state: DataFrame,
        iteration: int,
        metrics: dict | None = None,
        lineage: bool = True,
        suffix: str = "",
        metrics_fn=None,
        manifest: bool = True,
    ) -> DataFrame:
        """Persist one superstep's vertex state; returns the re-read DataFrame
        (flat lineage, with its parquet path on `_pgs_snapshot_path`).
        Per-partition lineage (row counts by partition) is recorded in the
        manifest unless `lineage=False` (ephemeral checkpoints skip that
        extra job). `suffix` distinguishes a sub-step snapshot of the same
        iteration (e.g. a λ-extrapolation jump); NOTE the manifest filename
        does NOT carry the suffix, so a suffixed save SUPERSEDES (overwrites)
        the plain manifest of the same iteration — intentional for
        sub-step-replaces-step semantics (λ jumps), hazardous for
        independent sub-snapshots. Multi-state iterations should write the
        secondary state with ``manifest=False`` FIRST and let the final
        `save()` emit the one manifest referencing both paths, so a crash
        between the two writes never publishes a half-round manifest.
        `metrics_fn` (no-arg callable → dict) is evaluated AFTER
        the parquet write action — the hook for Observation metrics that ride
        the write job — and its result is merged over `metrics`, so observed
        values land in the same manifest as the partition lineage without a
        second write_manifest call."""
        path = os.path.join(self.dir, f"state_{iteration:05d}{suffix}")
        state.write.mode("overwrite").parquet(path)
        # re-read with the schema we just wrote: skips the per-save driver
        # footer-inference (~0.12s), which a superstep loop pays every round
        reread = self.spark.read.schema(state.schema).parquet(path)
        reread._pgs_snapshot_path = path
        if not manifest:
            return reread
        if metrics_fn is not None:
            metrics = {**(metrics or {}), **(metrics_fn() or {})}
        part_rows = []
        if lineage:
            part_rows = [
                (r["pid"], r["rows"])
                for r in reread.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"))
                .collect()
            ]
        self.write_manifest(iteration, metrics, partitions=sorted(part_rows), suffix=suffix)
        return reread

    def write_manifest(
        self,
        iteration: int,
        metrics: dict | None,
        partitions: list | None = None,
        suffix: str = "",
    ) -> None:
        """Emit `manifest_<iteration>.json`. The filename deliberately drops
        `suffix`: a suffixed manifest OVERWRITES the plain manifest of the
        same iteration (supersede semantics — the suffixed state replaces the
        step). Callers that need both snapshots of an iteration recoverable
        must put the secondary path in `metrics` of ONE manifest (see
        `save(manifest=False)`), not write two manifests."""
        manifest = {
            "iteration": iteration,
            "path": os.path.join(self.dir, f"state_{iteration:05d}{suffix}"),
            "input_fingerprint": self.fingerprint,
            "wall_clock": time.time(),
            "partitions": partitions or [],
            "metrics": metrics or {},
        }
        # write a temp file and rename it into place: a dump that fails half
        # way (a non-JSON metric) must not leave a truncated manifest that
        # every later latest()/prune() would fail to parse
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix=".manifest_", suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f)
        except BaseException:
            os.remove(tmp)
            raise
        os.replace(tmp, os.path.join(self.dir, f"manifest_{iteration:05d}.json"))

    # -- read ----------------------------------------------------------------
    def latest(self) -> dict | None:
        """Newest manifest dict, or None if no checkpoint exists."""
        if not os.path.isdir(self.dir):
            return None
        manifests = sorted(
            n for n in os.listdir(self.dir) if n.startswith("manifest_") and n.endswith(".json")
        )
        if not manifests:
            return None
        with open(os.path.join(self.dir, manifests[-1])) as f:
            return json.load(f)

    def manifests(self) -> list[dict]:
        """All manifest dicts, oldest → newest (filename order). Lets callers
        fall back past an incomplete newest manifest (e.g. a crash between a
        pair of per-iteration snapshots) to the last complete one."""
        if not os.path.isdir(self.dir):
            return []
        out = []
        for n in sorted(
            n for n in os.listdir(self.dir) if n.startswith("manifest_") and n.endswith(".json")
        ):
            with open(os.path.join(self.dir, n)) as f:
                out.append(json.load(f))
        return out

    def load(self, manifest: dict) -> DataFrame:
        return self.spark.read.parquet(manifest["path"])

    def resume_point(self) -> tuple[int, DataFrame, dict] | None:
        """(iteration, state, metrics) of the newest checkpoint, if any, and
        only if it belongs to the same input (fingerprint match)."""
        m = self.latest()
        if m is None or m.get("input_fingerprint") != self.fingerprint:
            return None
        return m["iteration"], self.load(m), m.get("metrics", {})

    def clear(self) -> None:
        """Remove all snapshots + manifests (e.g. stale state from a different
        input fingerprint — resuming across inputs would be wrong)."""
        for name in list(os.listdir(self.dir)):
            full = os.path.join(self.dir, name)
            if name.startswith("state_"):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith("manifest_"):
                os.remove(full)

    def prune(self, keep_last: int = 2) -> None:
        """Drop all but the newest `keep_last` snapshots (bounded storage)."""
        manifests = sorted(
            n for n in os.listdir(self.dir) if n.startswith("manifest_")
        )
        for name in manifests[:-keep_last] if keep_last else manifests:
            with open(os.path.join(self.dir, name)) as f:
                m = json.load(f)
            shutil.rmtree(m["path"], ignore_errors=True)
            os.remove(os.path.join(self.dir, name))


def fingerprint_edges(edges: DataFrame) -> str:
    """Order-insensitive content fingerprint of an edge table: count plus an
    xor/sum of per-row hashes (cheap single aggregation; deterministic under
    any partitioning — the determinism discipline of PGS_Conversion.java:1088).
    """
    row = edges.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"
