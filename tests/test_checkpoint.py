"""CheckpointManager: a failed write never publishes a manifest; local
checkpoints write nothing to the directory and are freed by prune, drop and
release."""

import os

import numpy as np
import pytest

from pgs_spark.streaming.checkpoint import CheckpointManager


def test_failed_manifest_dump_keeps_previous_resume_point(spark, tmp_path):
    """A metric json cannot encode fails the dump half way; the manifest must
    not appear truncated, so later runs still parse every manifest and
    resume from the step before."""
    d = str(tmp_path / "ck")
    cp = CheckpointManager(spark, d)
    state = spark.createDataFrame([(1, 2)], "id long, v long")
    cp.save(state, 0)
    cp.save(state, 1, metrics={"x": 1.0})
    with pytest.raises(TypeError):
        cp.save(state, 2, metrics={"x": np.float32(1.0)})

    assert sorted(n for n in os.listdir(d) if "manifest" in n) == [
        "manifest_00000.json",
        "manifest_00001.json",
    ]
    assert cp.resume_point()[0] == 1
    cp.prune(keep_last=1)
    assert cp.latest()["metrics"] == {"x": 1.0}


def test_local_saves_write_nothing_and_are_freed(spark, tmp_path):
    """Local steps leave the directory empty, run `metrics_fn`, keep their
    rows, and prune/drop/release unpersist their RDDs (which
    DataFrame.unpersist() does not)."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = rdds().size()
    cp = CheckpointManager(spark, str(tmp_path / "ck"))
    seen = []
    held = [
        cp.save(spark.range(k + 1), k, local=True, metrics_fn=lambda k=k: seen.append(k))
        for k in range(4)
    ]
    assert os.listdir(cp.dir) == [] and seen == [0, 1, 2, 3]
    assert [h.count() for h in held] == [1, 2, 3, 4]
    assert rdds().size() == before + 4
    cp.prune(keep_last=2)
    assert rdds().size() == before + 2
    cp.drop(held[2])
    assert rdds().size() == before + 1 and held[3].count() == 4
    cp.release()
    assert rdds().size() == before
