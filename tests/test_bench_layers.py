"""bench.py's per-entry layer record: construction time, codegen deltas
and the Spark jobs, stages and tasks of the entry's own job group."""

from __future__ import annotations

import bench
from conftest import SF_SMOKE as SF


def test_run_entry_records_layers(spark):
    # the first entry may also build session-shared table plans; the
    # later ones only re-run the query
    runs = [bench.run_entry(spark, "point_lookup", SF) for _ in range(3)]
    for wall, layers in runs:
        assert wall > 0
        assert set(layers) == {"construct_s", "codegen_s", "compiles", "jobs", "stages", "tasks"}
        assert 0 <= layers["construct_s"] <= wall
        assert layers["tasks"] >= layers["stages"] >= layers["jobs"] >= 1
        assert layers["codegen_s"] >= 0
    # each entry counts only its own jobs, and a re-run reuses the
    # compiled classes of the first
    assert runs[2][1]["jobs"] == runs[1][1]["jobs"]
    assert runs[1][1]["compiles"] == runs[2][1]["compiles"] == 0
    # the job group does not leak into later work
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
