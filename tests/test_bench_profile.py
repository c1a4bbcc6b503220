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
    assert sum(v for k, v in first.items() if k.startswith("jobs.")) == first["spark.jobs"]
    for key in ("spark.jobs", "spark.tasks", *(f"jobs.{k}" for k in bench.JOB_KINDS)):
        assert first[key] == second[key], key


def test_profile_counts_jobs_by_last_operator(spark, tmp_path):
    """Each job is counted once, by the last operator of its final stage:
    an exchange's map side, an eager checkpoint's fill, a broadcast's
    collect, a file write and a plain result."""
    from pyspark.sql import functions as F

    def build():
        cp = spark.range(100).repartition(4).localCheckpoint(eager=True)
        cp.join(F.broadcast(spark.range(10)), "id").write.parquet(str(tmp_path / "out"))
        return spark.range(5)

    prof = bench._profiled(spark, "kinds", build, action=lambda df: df.collect())
    kinds = {k: v for k, v in prof.items() if k.startswith("jobs.")}
    assert kinds == {
        "jobs.broadcast": 1, "jobs.shuffle": 1, "jobs.checkpoint": 1,
        "jobs.write": 1, "jobs.result": 1,
    }
    assert sum(kinds.values()) == prof["spark.jobs"]
