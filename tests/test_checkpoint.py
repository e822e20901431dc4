"""CheckpointManager manifests: a failed write never publishes a manifest."""

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
