"""Dashboard read layer — the reference's HTTP/JSON query surface
(SURVEY.md §3.3) as DataFrame functions.

Access paths mirror the indexes the reference built (db/schema.rb):
R3 jobs-by-app (:71), R4 jobs-by-user (:74), R8 latest job_data per job
(:36), R9 error history (:47,:48), R10 application tree via materialized
path (:22,:26 — ancestry gem pattern), R11 user-by-email (:87).

All inputs are dimension-scale config tables; every join broadcasts, and
the one windowed read (latest-per-job) runs over the date-partitioned
job_data table with partition pruning. For preview latency (§3.2) keep
the hot metrics window cached via ``preview_cache``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors, release_evaluation


# --- application tree (R10): materialized path, prefix filters -------------

def app_descendants(apps: DataFrame, app_id: int, app_path: str) -> DataFrame:
    """All descendants of an application node: children carry
    ``path = parent_path + '/' + parent_id`` (ancestry materialized-path
    scheme) — a prefix filter, no recursion."""
    child_prefix = f"{app_path}/{app_id}" if app_path else str(app_id)
    return apps.filter(
        (F.col("path") == child_prefix) | F.col("path").startswith(child_prefix + "/")
    ).filter(F.col("deleted_at").isNull())


def app_children(apps: DataFrame, app_id: int, app_path: str) -> DataFrame:
    child_prefix = f"{app_path}/{app_id}" if app_path else str(app_id)
    return apps.filter(F.col("path") == child_prefix).filter(F.col("deleted_at").isNull())


def app_roots(apps: DataFrame) -> DataFrame:
    return apps.filter((F.col("path") == "") | F.col("path").isNull()).filter(
        F.col("deleted_at").isNull()
    )


# --- job listings (R2/R3/R4/R5/R6) -----------------------------------------

def jobs_by_app(monitors: DataFrame, app_id: int, include_deleted: bool = False) -> DataFrame:
    out = monitors.filter(F.col("app_id") == app_id)
    if not include_deleted:
        out = out.filter(F.col("deleted_at").isNull())
    return out


def jobs_by_user(monitors: DataFrame, user_id: int) -> DataFrame:
    return monitors.filter(F.col("user_id") == user_id).filter(F.col("deleted_at").isNull())


def jobs_by_status(monitors: DataFrame, *statuses: str) -> DataFrame:
    """R2 — the scheduler/errored-jobs listing (jobs.status index :73)."""
    return monitors.filter(F.col("status").isin(list(statuses)))


# --- results + errors (R8/R9) ----------------------------------------------

def latest_result_per_job(job_data: DataFrame) -> DataFrame:
    w = Window.partitionBy("job_id").orderBy(F.col("updated_at").desc(), F.col("id").desc())
    return job_data.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def error_history(job_errors: DataFrame, job_id: int, limit: int = 50) -> DataFrame:
    return (
        job_errors.filter(F.col("job_id") == job_id)
        .orderBy(F.col("created_at").desc())
        .limit(limit)
    )


def open_errors(job_errors: DataFrame) -> DataFrame:
    return job_errors.filter(F.col("status") == "triggered")


# --- users (R11) ------------------------------------------------------------

def user_by_email(users: DataFrame, email: str) -> DataFrame:
    return users.filter(F.col("email") == email)


# --- dashboard overview (the §3.3 page load in one pass) --------------------

def dashboard_overview(monitors: DataFrame, job_data: DataFrame, job_errors: DataFrame) -> DataFrame:
    """Per-app rollup: job counts by status, open incidents, last run."""
    jobs_agg = (
        monitors.filter(F.col("deleted_at").isNull())
        .groupBy("app_id")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum(F.when(F.col("active"), 1).otherwise(0)).alias("n_active"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("n_failed"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("n_error"),
            F.max("last_run").alias("last_run"),
        )
    )
    incidents = (
        open_errors(job_errors)
        .join(
            F.broadcast(monitors.select(F.col("id").alias("_mon_id"), "app_id")),
            F.col("job_id") == F.col("_mon_id"),
        )
        .groupBy("app_id")
        .agg(F.count("*").alias("n_open_incidents"))
    )
    return jobs_agg.join(incidents, "app_id", "left").fillna({"n_open_incidents": 0})


# --- interactive preview (§3.2 — run-without-saving) ------------------------

def preview_cache(metrics: DataFrame, hours: int, now: dt.datetime) -> DataFrame:
    """Cache the hot trailing window so preview runs are sub-second
    (BASELINE.json's noted mitigation for interactive latency)."""
    lo = now - dt.timedelta(hours=hours)
    return metrics.filter(F.col("ts") >= F.lit(lo)).cache()


def preview_run(
    spark: SparkSession,
    metrics: DataFrame,
    targets: list[str],
    monitor_expr: str | None,
    minutes: int,
    now: dt.datetime,
) -> dict:
    """Synchronous single-monitor evaluation returning the chart payload +
    status — the web preview path, no persistence, no alerting."""
    spec = MonitorSpec(
        id=0, metrics=targets, monitor_expr=monitor_expr, minutes=minutes,
        name="preview", description="preview",
    )
    results = evaluate_monitors(spark, [spec], metrics, now)
    try:
        row = results.collect()[0]
    finally:
        release_evaluation(results)
    return {
        "status": row["status"],
        "message": row["message"],
        "output": row["output"],
        "graph_data": [p.asDict() for p in (row["graph_data"] or [])],
    }
