"""The per-line runner ``bench.main`` uses records a repeatable profile:
the same line over the same data launches the same jobs and tasks."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_run_line_profile_repeats(spark, sf_dir, tmp_path):
    from rearview_spark.plans import all_queries

    qs = all_queries()
    runs = [
        bench.run_line(spark, qs, "ts_as_percent", sf_dir, str(tmp_path))["ts_as_percent"]
        for _ in range(2)
    ]
    first, second = runs
    assert first["spark.jobs"] > 0
    assert first["s"] >= first["plan_s"] + first["action_s"] - 1e-9
    for key in ("spark.jobs", "spark.tasks"):
        assert first[key] == second[key], key
