"""Monitor-run queries: the reference's core path (§3.1 — window fetch ->
target evaluation -> status) driven through the driver's `events` table so
the correctness gate exercises the applyInPandas evaluation layer.

Two fixed monitors run against metric='error' (events mapped to the tall
shape): one whose threshold certainly fires and one that certainly holds.
The monitor expression semantics (``a.mean() > k``) are SQL-expressible,
so the oracle reproduces the whole run's observable outcome
(status + message) even though the engine path goes through the restricted
-expression evaluator in a Python worker.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors, release_evaluation
from rearview_spark.sources.loader import Tables, events_as_timeseries

WINDOW_END = dt.datetime(2024, 2, 1)
WINDOW_MINUTES = 60 * 24 * 31  # whole January

SPECS = [
    MonitorSpec(
        id=1, metrics=["error"], monitor_expr="a.mean() > 1", minutes=WINDOW_MINUTES,
        to_date=WINDOW_END, name="error-rate-high", description="error rate high",
    ),
    MonitorSpec(
        id=2, metrics=["error"], monitor_expr="a.mean() > 1000000", minutes=WINDOW_MINUTES,
        to_date=WINDOW_END, name="error-rate-extreme", description="error rate extreme",
    ),
    MonitorSpec(
        id=3, metrics=["no.such.metric"], monitor_expr="a.mean() > 1", minutes=WINDOW_MINUTES,
        to_date=WINDOW_END, name="missing-series", description="missing series",
    ),
]


def _evaluated(spark: SparkSession, results: DataFrame, shape) -> DataFrame:
    """``shape(results)`` run by one action, after which the evaluation's
    shared fetch is released; the rows come back as a local frame."""
    try:
        out = shape(results)
        rows = out.collect()
    finally:
        release_evaluation(results)
    return spark.createDataFrame(rows, out.schema)


def monitor_run_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end monitor evaluation: target compile -> window fetch ->
    variable binding -> restricted expression -> status."""
    metrics = events_as_timeseries(Tables(spark, sf_dir).events)
    results = evaluate_monitors(spark, SPECS, metrics, now=WINDOW_END, with_graph=False)
    return _evaluated(
        spark,
        results,
        lambda r: r.select("job_id", "scheduled_ts", "status", "message").orderBy("job_id"),
    )


MONITOR_RUN_SQL = """
WITH w AS (
  SELECT value FROM events
  WHERE event_type = 'error'
    AND ts >= TIMESTAMP '2024-02-01' - INTERVAL 44640 MINUTE
    AND ts <= TIMESTAMP '2024-02-01'
), m AS (SELECT avg(value) AS mean_v, count(value) AS n FROM w)
SELECT 1 AS job_id, TIMESTAMP '2024-02-01' AS scheduled_ts,
       CASE WHEN n = 0 THEN 'error' WHEN mean_v > 1 THEN 'failed' ELSE 'success' END AS status,
       CASE WHEN n = 0 THEN 'no data in window'
            WHEN mean_v > 1 THEN 'alert: error rate high (a.mean() > 1)' END AS message
FROM m
UNION ALL
SELECT 2, TIMESTAMP '2024-02-01',
       CASE WHEN n = 0 THEN 'error' WHEN mean_v > 1000000 THEN 'failed' ELSE 'success' END,
       CASE WHEN n = 0 THEN 'no data in window'
            WHEN mean_v > 1000000 THEN 'alert: error rate extreme (a.mean() > 1000000)' END
FROM m
UNION ALL
SELECT 3, TIMESTAMP '2024-02-01', 'error', 'no data in window'
"""


def monitor_graph_data_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized job_data graph payload (S8 shape): per-run point
    counts and value checksum, proving the graph_data round-trip."""
    metrics = events_as_timeseries(Tables(spark, sf_dir).events)
    results = evaluate_monitors(spark, SPECS[:2], metrics, now=WINDOW_END)
    return _evaluated(
        spark,
        results,
        lambda r: r.select("job_id", F.explode("graph_data").alias("p"))
        .groupBy("job_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.sum("p.value") + F.lit(5e-8), 4).alias("value_sum"),
            F.min("p.ts").alias("first_ts"),
            F.max("p.ts").alias("last_ts"),
        )
        .orderBy("job_id"),
    )


MONITOR_GRAPH_SQL = """
WITH w AS (
  SELECT value, ts FROM events
  WHERE event_type = 'error'
    AND ts >= TIMESTAMP '2024-02-01' - INTERVAL 44640 MINUTE
    AND ts <= TIMESTAMP '2024-02-01'
)
SELECT job_id, count(*) AS n_points,
       round(sum(value) + 0.00000005, 4) AS value_sum,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM w CROSS JOIN (SELECT unnest([1, 2]) AS job_id) j
GROUP BY job_id ORDER BY job_id
"""


QUERIES: dict[str, dict] = {
    "monitor_run_statuses": {"fn": monitor_run_statuses, "oracle": MONITOR_RUN_SQL},
    "monitor_graph_data_points": {"fn": monitor_graph_data_points, "oracle": MONITOR_GRAPH_SQL},
}


# --- Dashboard read paths (R3/R5/R6/R9/R10) over fixture literals ------------
# The reference's config tables don't exist in the driver's testdata, so
# these gate entries build the fixture rows inline (deterministic
# literals) and run the real dashboard functions; the oracle reproduces
# the same rows with VALUES CTEs.

_APP_ROWS = [
    (1, "root", "", None),
    (2, "payments", "1", None),
    (3, "checkout", "1/2", None),
    (4, "legacy", "1", dt.datetime(2024, 1, 15)),
    (5, "search", "1", None),
    (6, "other-root", "", None),
]

_MON_ROWS = [
    # id, app_id, user_id, active, status, last_run, deleted_at
    (10, 2, 1, True, "success", dt.datetime(2024, 2, 1, 10), None),
    (11, 2, 1, True, "failed", dt.datetime(2024, 2, 1, 11), None),
    (12, 2, 2, False, "error", dt.datetime(2024, 2, 1, 9), None),
    (13, 3, 2, True, "success", dt.datetime(2024, 2, 1, 8), None),
    (14, 2, 1, True, "success", None, dt.datetime(2024, 1, 20)),
]

_ERR_ROWS = [
    # id, job_id, status, created_at
    (100, 11, "triggered", dt.datetime(2024, 2, 1, 11)),
    (101, 11, "resolved", dt.datetime(2024, 1, 31, 11)),
    (102, 12, "triggered", dt.datetime(2024, 2, 1, 9)),
    (103, 14, "triggered", dt.datetime(2024, 1, 19)),
]


def dash_app_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: descendants of the root app via the materialized-path prefix
    filter (ancestry scheme) — soft-deleted nodes excluded (R5)."""
    from rearview_spark.monitors.dashboard import app_descendants

    apps = spark.createDataFrame(
        _APP_ROWS, "id long, name string, path string, deleted_at timestamp"
    )
    return app_descendants(apps, 1, "").select("id", "name", "path").orderBy("id")


DASH_TREE_SQL = """
WITH apps(id, name, path, deleted_at) AS (VALUES
  (1, 'root', '', CAST(NULL AS TIMESTAMP)),
  (2, 'payments', '1', NULL),
  (3, 'checkout', '1/2', NULL),
  (4, 'legacy', '1', TIMESTAMP '2024-01-15'),
  (5, 'search', '1', NULL),
  (6, 'other-root', '', NULL))
SELECT CAST(id AS BIGINT) AS id, name, path
FROM apps
WHERE (path = '1' OR path LIKE '1/%') AND deleted_at IS NULL
ORDER BY id
"""


def dash_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 page load in one pass: per-app job counts by status (R3/R6),
    open incidents (R9), last run — live jobs only (R5)."""
    from rearview_spark.monitors.dashboard import dashboard_overview

    monitors = spark.createDataFrame(
        _MON_ROWS,
        "id long, app_id long, user_id long, active boolean, status string, "
        "last_run timestamp, deleted_at timestamp",
    )
    errors = spark.createDataFrame(
        _ERR_ROWS, "id long, job_id long, status string, created_at timestamp"
    )
    job_data = spark.createDataFrame([], "id long, job_id long, updated_at timestamp")
    return dashboard_overview(monitors, job_data, errors).orderBy("app_id")


DASH_OVERVIEW_SQL = """
WITH monitors(id, app_id, user_id, active, status, last_run, deleted_at) AS (VALUES
  (10, 2, 1, true, 'success', TIMESTAMP '2024-02-01 10:00:00', CAST(NULL AS TIMESTAMP)),
  (11, 2, 1, true, 'failed', TIMESTAMP '2024-02-01 11:00:00', NULL),
  (12, 2, 2, false, 'error', TIMESTAMP '2024-02-01 09:00:00', NULL),
  (13, 3, 2, true, 'success', TIMESTAMP '2024-02-01 08:00:00', NULL),
  (14, 2, 1, true, 'success', CAST(NULL AS TIMESTAMP), TIMESTAMP '2024-01-20')),
errors(id, job_id, status, created_at) AS (VALUES
  (100, 11, 'triggered', TIMESTAMP '2024-02-01 11:00:00'),
  (101, 11, 'resolved', TIMESTAMP '2024-01-31 11:00:00'),
  (102, 12, 'triggered', TIMESTAMP '2024-02-01 09:00:00'),
  (103, 14, 'triggered', TIMESTAMP '2024-01-19 00:00:00')),
jobs_agg AS (
  SELECT CAST(app_id AS BIGINT) AS app_id,
         count(*) AS n_jobs,
         CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
         CAST(sum(CASE WHEN status = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         max(last_run) AS last_run
  FROM monitors WHERE deleted_at IS NULL GROUP BY app_id
),
incidents AS (
  SELECT CAST(m.app_id AS BIGINT) AS app_id, count(*) AS n
  FROM errors e JOIN monitors m ON e.job_id = m.id
  WHERE e.status = 'triggered'
  GROUP BY 1
)
SELECT j.app_id, j.n_jobs, j.n_active, j.n_failed, j.n_error, j.last_run,
       coalesce(i.n, 0) AS n_open_incidents
FROM jobs_agg j LEFT JOIN incidents i ON j.app_id = i.app_id
ORDER BY j.app_id
"""


QUERIES.update(
    {
        "dash_app_tree": {"fn": dash_app_tree, "oracle": DASH_TREE_SQL},
        "dash_overview": {"fn": dash_overview, "oracle": DASH_OVERVIEW_SQL},
    }
)


# --- Alert lifecycle replay (S4/S5 — fire, debounce, re-alert, recover) ------
# The one §2.4 row that was unit-only through r09: the scheduler's status
# machine + debounce is gate-expressible as a deterministic replay
# (VERDICT_r09 next-round #4). The REAL scheduler runs — JobStore CAS,
# outbox commit, drain, job_errors open/close — against fixture monitors
# over the events table; the oracle replays the state machine as a
# recursive CTE over the same windows (the ts_cusum_drift precedent).
# Reference semantics: state_machine over jobs.status
# (/root/reference/db/schema.rb:57), error_timeout debounce (:61),
# job_errors.last_alerted_at re-alert throttle (:43).

_LC_START = dt.datetime(2024, 1, 10, 0)
_LC_END = dt.datetime(2024, 1, 10, 5)


def monitor_lifecycle_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6 hourly scheduler ticks over three monitors: one whose window
    mean crosses its threshold (fire -> debounce-suppress -> re-alert ->
    recover at sf0.01), one that never fires, one on a missing metric
    (error status every tick, throttled by its own longer timeout).
    Emits every run's (job_id, scheduled_ts, status, alerted) — status
    read back from the persisted job_data table, alerted observed at the
    notifier seam after the outbox drain, so the CAS/outbox/dispatch-log
    plumbing is on the hashed path too. Six ticks is the floor that
    shows the full pattern at the driver's sf0.01 (each tick runs the
    real store machinery — two versioned swaps + appends — so tick count
    is the gate's cost knob; the longer recover->re-open tail is covered
    by the scheduler unit tests)."""
    import shutil
    import tempfile

    from rearview_spark.monitors.notify import AlertRouter
    from rearview_spark.monitors.scheduler import MonitorScheduler
    from rearview_spark.monitors.schemas import MONITORS
    from rearview_spark.monitors.store import JobStore

    fixtures = [
        # id, name, active, last_run, next_run, cron, status, user_id,
        # alert_keys, deleted_at, error_timeout, description, app_id,
        # metrics, monitor_expr, minutes, to_date, created_at, updated_at
        (1, "error-rate-flip", True, None, None, "0 * * * *", "success", 1,
         ["log:gate"], None, 150, "flip", 1, ["error"], "a.mean() > 45",
         360, None, None, None),
        (2, "never-fires", True, None, None, "0 * * * *", "success", 1,
         ["log:gate"], None, 150, "hold", 1, ["error"], "a.mean() > 1000000",
         360, None, None, None),
        (3, "missing-series", True, None, None, "0 * * * *", "success", 1,
         ["log:gate"], None, 180, "missing", 1, ["no.such.metric"],
         "a.mean() > 1", 360, None, None, None),
    ]
    tmp = tempfile.mkdtemp(prefix="lifecycle_gate_")
    try:
        store = JobStore(spark, tmp)
        store.overwrite("monitors", spark.createDataFrame(fixtures, MONITORS))
        router = AlertRouter()  # CollectingNotifier default records sends
        # one pushed-down window fetch for the whole replay span, pinned
        # with localCheckpoint so six ticks don't re-scan the parquet —
        # the same fetch-once shape a backtest over a fixed span uses
        metrics = events_as_timeseries(Tables(spark, sf_dir).events).filter(
            F.col("ts").between(
                F.lit(_LC_START - dt.timedelta(minutes=360)), F.lit(_LC_END)
            )
        ).localCheckpoint(eager=True)
        MonitorScheduler(spark, store, metrics, router).run_between(
            _LC_START, _LC_END, step_minutes=60
        )
        alerted = {(a.job_id, a.fired_at) for a in router.default.sent}
        jd = store.read("job_data").select(
            "job_id",
            F.col("created_at").alias("scheduled_ts"),
            F.col("data.status").alias("status"),
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    rows = [
        (r["job_id"], r["scheduled_ts"], r["status"],
         (r["job_id"], r["scheduled_ts"]) in alerted)
        for r in jd
    ]
    return spark.createDataFrame(
        rows, "job_id long, scheduled_ts timestamp, status string, alerted boolean"
    ).orderBy("job_id", "scheduled_ts")


MONITOR_LIFECYCLE_SQL = """
WITH RECURSIVE ticks AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-10 00:00:00',
                                TIMESTAMP '2024-01-10 05:00:00',
                                INTERVAL 1 HOUR)) AS tick
), tix AS (
  SELECT tick, row_number() OVER (ORDER BY tick) AS i FROM ticks
), w AS (
  SELECT t.i, t.tick, count(e.value) AS n, avg(e.value) AS m
  FROM tix t LEFT JOIN events e
    ON e.event_type = 'error'
   AND e.ts >= t.tick - INTERVAL 360 MINUTE AND e.ts <= t.tick
  GROUP BY t.i, t.tick
), runs AS (
  SELECT 1 AS job_id, 150 AS tmo, i, tick,
         CASE WHEN n = 0 THEN 'error'
              WHEN m > 45 THEN 'failed' ELSE 'success' END AS run_status
  FROM w
  UNION ALL
  SELECT 2, 150, i, tick,
         CASE WHEN n = 0 THEN 'error'
              WHEN m > 1000000 THEN 'failed' ELSE 'success' END
  FROM w
  UNION ALL
  SELECT 3, 180, i, tick, 'error' FROM w
), state AS (
  -- lifecycle recurrence: last_alerted_at (laa) lives only while the
  -- incident is open; success resets it; a non-success run alerts
  -- unless now < laa + error_timeout
  SELECT job_id, tmo, i, tick, run_status,
         run_status <> 'success' AS alerted,
         CASE WHEN run_status <> 'success' THEN tick END AS laa
  FROM runs WHERE i = 1
  UNION ALL
  SELECT r.job_id, r.tmo, r.i, r.tick, r.run_status,
         r.run_status <> 'success'
           AND (s.laa IS NULL OR r.tick >= s.laa + to_minutes(r.tmo)),
         CASE WHEN r.run_status = 'success' THEN NULL
              WHEN s.laa IS NULL OR r.tick >= s.laa + to_minutes(r.tmo)
                THEN r.tick
              ELSE s.laa END
  FROM state s JOIN runs r ON r.job_id = s.job_id AND r.i = s.i + 1
)
SELECT CAST(job_id AS BIGINT) AS job_id, tick AS scheduled_ts,
       run_status AS status, alerted
FROM state ORDER BY job_id, scheduled_ts
"""

QUERIES["monitor_lifecycle_replay"] = {
    "fn": monitor_lifecycle_replay,
    "oracle": MONITOR_LIFECYCLE_SQL,
}


# --- r16: seasonal-MAD x alert-lifecycle composition (VERDICT_r15 #7) -------

_SE_START = dt.datetime(2024, 1, 9, 16)
_SE_END = dt.datetime(2024, 1, 9, 21)


def monitor_seasonal_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonal-MAD detector composed with the alert lifecycle
    (S4/S5) end-to-end, the way stream_anomaly_alerts composed plain
    MAD (VERDICT_r15 next-round #7): hourly exact-cents series ->
    operators/anomaly.seasonal_mad_scores (hour-of-day robust-z for
    EVERY mad>0 point) -> presented to the scheduler as metric
    ``seasonal.<type>`` -> a monitor whose sandboxed expression
    consumes the scores (``a.abs().max() > 3.5``) over a 6-hour
    sliding window, 6 hourly ticks through the REAL store machinery
    (CAS swaps, outbox drain, debounce via error_timeout=150). At
    sf0.01 the error series' 17:00 and 20:00 anomalies drive
    fire -> debounce-suppress x2 -> re-alert; a never-fires control
    shares the window. The oracle replays the scoring CTE (the
    TS_SEASONAL_MAD machinery, unfiltered), the per-tick windowed
    max, and the lifecycle recurrence as a recursive CTE."""
    import shutil
    import tempfile

    from rearview_spark.monitors.notify import AlertRouter
    from rearview_spark.monitors.scheduler import MonitorScheduler
    from rearview_spark.monitors.schemas import MONITORS
    from rearview_spark.monitors.store import JobStore
    from rearview_spark.operators.anomaly import seasonal_mad_scores
    from rearview_spark.plans._exact import exact_sum

    fixtures = [
        (1, "seasonal-error-z", True, None, None, "0 * * * *", "success", 1,
         ["log:gate"], None, 150, "seasonal z", 1, ["seasonal.error"],
         "a.abs().max() > 3.5", 360, None, None, None),
        (2, "seasonal-never", True, None, None, "0 * * * *", "success", 1,
         ["log:gate"], None, 150, "control", 1, ["seasonal.error"],
         "a.abs().max() > 1000000", 360, None, None, None),
    ]
    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly = (
        series.groupBy("metric", F.window("ts", "1 hour").alias("w"))
        .agg(exact_sum(F.col("value"), 100).alias("value"))
        .select("metric", F.col("w.start").alias("ts"), "value")
    )
    # scores over the FULL history (the baseline trains offline — the
    # stream_anomaly_alerts deployment shape), checkpointed once so six
    # ticks don't recompute the (metric, slot) medians
    scores = seasonal_mad_scores(hourly, period=24).select(
        F.concat(F.lit("seasonal."), F.col("metric")).alias("metric"),
        "ts",
        F.col("robust_z").alias("value"),
    ).localCheckpoint(eager=True)
    tmp = tempfile.mkdtemp(prefix="seasonal_gate_")
    try:
        store = JobStore(spark, tmp)
        store.overwrite("monitors", spark.createDataFrame(fixtures, MONITORS))
        router = AlertRouter()
        MonitorScheduler(spark, store, scores, router).run_between(
            _SE_START, _SE_END, step_minutes=60
        )
        alerted = {(a.job_id, a.fired_at) for a in router.default.sent}
        jd = store.read("job_data").select(
            "job_id",
            F.col("created_at").alias("scheduled_ts"),
            F.col("data.status").alias("status"),
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    rows = [
        (r["job_id"], r["scheduled_ts"], r["status"],
         (r["job_id"], r["scheduled_ts"]) in alerted)
        for r in jd
    ]
    return spark.createDataFrame(
        rows, "job_id long, scheduled_ts timestamp, status string, alerted boolean"
    ).orderBy("job_id", "scheduled_ts")


MONITOR_SEASONAL_SQL = """
WITH RECURSIVE hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
         sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS value
  FROM events GROUP BY 1, 2
),
sl AS (
  SELECT *, CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT) AS slot
  FROM hourly
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY metric, slot ORDER BY value, ts) AS r,
         count(*) OVER (PARTITION BY metric, slot) AS n
  FROM sl
),
med AS (
  SELECT metric, slot, sum(value) / count(value) AS med FROM r1
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY 1, 2
),
d AS (
  SELECT r1.metric, r1.slot, r1.ts, r1.value, abs(r1.value - med.med) AS dev, med.med
  FROM r1 JOIN med USING (metric, slot)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY metric, slot ORDER BY dev, ts) AS r,
         count(*) OVER (PARTITION BY metric, slot) AS n
  FROM d
),
mad AS (
  SELECT metric, slot, sum(dev) / count(dev) AS mad FROM r2
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY 1, 2
),
scores AS (
  SELECT d.metric, d.ts, 0.6745 * (d.value - d.med) / mad.mad AS z
  FROM d JOIN mad USING (metric, slot)
  WHERE mad.mad > 0
),
ticks AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-09 16:00:00',
                                TIMESTAMP '2024-01-09 21:00:00',
                                INTERVAL 1 HOUR)) AS tick
), tix AS (
  SELECT tick, row_number() OVER (ORDER BY tick) AS i FROM ticks
), w AS (
  SELECT t.i, t.tick, count(s.z) AS n, max(abs(s.z)) AS mx
  FROM tix t LEFT JOIN scores s
    ON s.metric = 'error'
   AND s.ts >= t.tick - INTERVAL 360 MINUTE AND s.ts <= t.tick
  GROUP BY t.i, t.tick
), runs AS (
  SELECT 1 AS job_id, 150 AS tmo, i, tick,
         CASE WHEN n = 0 THEN 'error'
              WHEN mx > 3.5 THEN 'failed' ELSE 'success' END AS run_status
  FROM w
  UNION ALL
  SELECT 2, 150, i, tick,
         CASE WHEN n = 0 THEN 'error'
              WHEN mx > 1000000 THEN 'failed' ELSE 'success' END
  FROM w
), state AS (
  SELECT job_id, tmo, i, tick, run_status,
         run_status <> 'success' AS alerted,
         CASE WHEN run_status <> 'success' THEN tick END AS laa
  FROM runs WHERE i = 1
  UNION ALL
  SELECT r.job_id, r.tmo, r.i, r.tick, r.run_status,
         r.run_status <> 'success'
           AND (s.laa IS NULL OR r.tick >= s.laa + to_minutes(r.tmo)),
         CASE WHEN r.run_status = 'success' THEN NULL
              WHEN s.laa IS NULL OR r.tick >= s.laa + to_minutes(r.tmo)
                THEN r.tick
              ELSE s.laa END
  FROM state s JOIN runs r ON r.job_id = s.job_id AND r.i = s.i + 1
)
SELECT CAST(job_id AS BIGINT) AS job_id, tick AS scheduled_ts,
       run_status AS status, alerted
FROM state ORDER BY job_id, scheduled_ts
"""

# Staged (r16 wave — r17 budget; the r16 window is pinned. Pre-verified
# by tests/test_pending_gates.py at three scales.)
PENDING_QUERIES: dict[str, dict] = {
    "monitor_seasonal_lifecycle": {
        "fn": monitor_seasonal_lifecycle,
        "oracle": MONITOR_SEASONAL_SQL,
    },
}
