"""The monitor store's control tables — the alert outbox sidecar, the
``alert_dispatches`` log and ``job_errors`` — and, in the tick, the
monitors table are read and written on the driver with pyarrow. These
tests pin that the files stay interchangeable with Spark's in both
directions, that a drain interrupted mid-way redelivers only its unsent
tail, that a tick's Spark job count does not grow with incident history
and is zero when nothing is due, that a tick caches nothing (it releases
every persisted RDD), and that its job_data rows are staged by its one
action and published only after its CAS."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rearview_spark.monitors.notify import AlertRouter, CollectingNotifier
from rearview_spark.monitors.scheduler import MonitorScheduler
from rearview_spark.monitors.schemas import (
    ALERT_DISPATCHES,
    ALERT_OUTBOX,
    JOB_ERRORS,
    MONITORS,
)
from rearview_spark.monitors.store import (
    ConcurrentWriteError,
    JobStore,
    arrow_rows,
    arrow_table,
)

T0 = dt.datetime(2024, 1, 1, 0, 0)
NOW = T0 + dt.timedelta(minutes=60)
US = dt.timedelta(microseconds=123456)

# null timestamps, null / empty / multi-key alert_keys, sub-second times
OUTBOX_ROWS = [
    (11, 1, ["email:ops@example.com", "webhook"], "boom", "failed", T0 + US),
    (12, 2, None, None, "error", NOW),
    (13, 3, [], "empty keys", "failed", NOW + US),
]
ERROR_ROWS = [
    (1, 1, T0, T0 + US, "open", "triggered", T0 + US),
    (2, 2, T0, NOW, None, "resolved", None),
]


def _monitor(id, cron="* * * * *", **cols):
    row = dict(zip(MONITORS.fieldNames(), (
        id, f"mon{id}", True, None, None, cron, "success", 1,
        [f"email:ops{id}@example.com"], None, 60, f"monitor {id}", 1,
        ["stats.req"], "a.mean() > 100", 60, None, T0, T0,
    )))
    row.update(cols)
    return tuple(row.values())


# null next_run / deleted_at / to_date / alert_keys, empty and
# multi-element lists, sub-second times; due at NOW: ids 1, 5 and 6
MONITOR_ROWS = [
    _monitor(1),
    _monitor(2, next_run=NOW + US, last_run=T0 + US, to_date=NOW - US,
             alert_keys=[], metrics=["stats.req", "sumSeries(stats.*)"]),
    _monitor(3, next_run=NOW, deleted_at=T0 + US, alert_keys=["webhook", "email:x"],
             metrics=[]),
    _monitor(4, active=False, next_run=NOW - US, alert_keys=None),
    _monitor(5, next_run=NOW - US, updated_at=NOW + US),
    _monitor(6, next_run=NOW),
]


def _metrics(spark, value: float):
    rows = [("stats.req", T0 + dt.timedelta(minutes=i), value) for i in range(120)]
    return spark.createDataFrame(rows, "metric string, ts timestamp, value double")


def _ts_types(path, column: str) -> set[str]:
    """Parquet type of ``column`` in each data file under ``path``."""
    return {
        str(pq.read_schema(os.path.join(path, f)).field(column).type)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }


def test_arrow_written_control_tables_read_back_through_spark(spark, tmp_path):
    st = JobStore(spark, str(tmp_path / "store"))
    log_dir = tmp_path / "store" / "alert_dispatches"
    st.save_monitors(
        spark.createDataFrame([_monitor(1)], MONITORS),
        outbox=arrow_table(OUTBOX_ROWS, ALERT_OUTBOX),
    )
    st.mark_alert_dispatched(11, NOW + US)
    st.overwrite("job_errors", arrow_table(ERROR_ROWS, JOB_ERRORS))

    outbox_dir = st.current_version("monitors")[1] / "_outbox"
    outbox = spark.read.schema(ALERT_OUTBOX).parquet(str(outbox_dir))
    assert sorted(tuple(r) for r in outbox.collect()) == OUTBOX_ROWS
    log = spark.read.schema(ALERT_DISPATCHES).parquet(str(log_dir))
    assert [tuple(r) for r in log.collect()] == [(11, NOW + US)]
    assert sorted(tuple(r) for r in st.read("job_errors").collect()) == ERROR_ROWS
    # declared types on disk: micros, UTC-adjusted
    assert _ts_types(outbox_dir, "fired_at") == {"timestamp[us, tz=UTC]"}
    assert _ts_types(log_dir, "dispatched_at") == {"timestamp[us, tz=UTC]"}


def test_spark_written_control_tables_read_back_on_the_driver(spark, tmp_path):
    """A store written before the control tables moved to the driver
    (Spark jobs, INT96 timestamps) still reads and drains."""
    st = JobStore(spark, str(tmp_path / "store"))
    log_dir = tmp_path / "store" / "alert_dispatches"
    mons = spark.createDataFrame([_monitor(1)], MONITORS)
    st.overwrite(
        "monitors", mons,
        sidecars={"_outbox": spark.createDataFrame(OUTBOX_ROWS, ALERT_OUTBOX)},
    )
    st.append("alert_dispatches", spark.createDataFrame([(12, NOW)], ALERT_DISPATCHES))
    st.overwrite("job_errors", spark.createDataFrame(ERROR_ROWS, JOB_ERRORS))
    outbox_dir = st.current_version("monitors")[1] / "_outbox"
    assert _ts_types(outbox_dir, "fired_at") == {"timestamp[ns]"}  # INT96
    assert _ts_types(log_dir, "dispatched_at") == {"timestamp[ns]"}

    assert sorted(tuple(r) for r in arrow_rows(st.read_outbox(), ALERT_OUTBOX)) == OUTBOX_ROWS
    assert sorted(tuple(r) for r in st.read_rows("job_errors")) == ERROR_ROWS
    assert [tuple(r) for r in st.pending_alerts()] == [OUTBOX_ROWS[0], OUTBOX_ROWS[2]]

    # a driver-written mark lands beside the Spark-written log file and
    # both count; a save carries only the still-owed row forward
    st.mark_alert_dispatched(11, NOW)
    assert _ts_types(log_dir, "dispatched_at") == {"timestamp[ns]", "timestamp[us, tz=UTC]"}
    assert [tuple(r) for r in st.pending_alerts()] == [OUTBOX_ROWS[2]]
    st.save_monitors(mons, expect_version=1)
    assert [tuple(r) for r in st.pending_alerts()] == [OUTBOX_ROWS[2]]


class _FailsOnce(CollectingNotifier):
    """Collects alerts, raising on the ``fail_at``-th send (1-based)."""

    def __init__(self, fail_at: int):
        super().__init__()
        self.calls, self.fail_at = 0, fail_at

    def send(self, alert):
        self.calls += 1
        if self.calls == self.fail_at:
            raise ConnectionError("transport down")
        super().send(alert)


def test_drain_crash_mid_way_resends_only_the_unsent_tail(spark, tmp_path):
    """Three alerts owed; the notifier dies on the second send. The first
    is marked, and the next tick delivers exactly the second and third —
    no duplicate of the first."""
    st = JobStore(spark, str(tmp_path / "store"))
    hourly = [_monitor(i, cron="0 * * * *") for i in (1, 2, 3)]
    st.save_monitors(spark.createDataFrame(hourly, MONITORS))
    m = _metrics(spark, 200.0)
    flaky = _FailsOnce(fail_at=2)
    with pytest.raises(ConnectionError, match="transport down"):
        MonitorScheduler(spark, st, m, AlertRouter(default=flaky)).tick(NOW)
    assert len(flaky.sent) == 1
    first = flaky.sent[0].job_id
    owed = st.pending_alerts()
    assert len(owed) == 2 and first not in {r["job_id"] for r in owed}

    # restart: the next tick's opening drain sends the tail (the hourly
    # monitors are not due again, so the drain is all the tick does)
    collector = CollectingNotifier()
    summary = MonitorScheduler(spark, st, m, AlertRouter(default=collector)).tick(
        NOW + dt.timedelta(minutes=1)
    )
    assert summary == {"ran": 0, "alerts": 2}
    assert sorted(a.job_id for a in collector.sent) == sorted({1, 2, 3} - {first})
    assert all(a.fired_at == NOW for a in collector.sent)
    assert st.pending_alerts() == []


def _tick_jobs(spark, sched: MonitorScheduler, now: dt.datetime, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sched.tick(now)
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tick_spark_jobs_flat_in_incident_history(spark, tmp_path):
    """A tick over 10^4 resolved incidents launches as many Spark jobs as
    the same tick over an empty job_errors table."""
    mons = spark.createDataFrame([_monitor(1)], MONITORS)
    m = _metrics(spark, 200.0)
    history = [
        (i, 1000 + i, T0, T0, "old", "resolved", T0) for i in range(1, 10_001)
    ]
    jobs = {}
    for name, seed in (("empty", []), ("history", history)):
        st = JobStore(spark, str(tmp_path / name))
        st.save_monitors(mons)
        if seed:
            st.overwrite("job_errors", arrow_table(seed, JOB_ERRORS))
        sched = MonitorScheduler(spark, st, m, AlertRouter())
        jobs[name] = _tick_jobs(spark, sched, NOW, f"flat-{name}-{tmp_path.name}")
        errors = st.read_rows("job_errors")
        assert len(errors) == len(seed) + 1  # the tick opened one incident
        assert max(r["id"] for r in errors) == len(seed) + 1
    assert jobs["history"] == jobs["empty"], jobs


def test_arrow_written_monitors_read_back_through_spark(spark, tmp_path):
    st = JobStore(spark, str(tmp_path / "store"))
    st.save_monitors(arrow_table(MONITOR_ROWS, MONITORS))
    assert sorted(tuple(r) for r in st.read("monitors").collect()) == MONITOR_ROWS
    assert st.read_rows("monitors") == sorted(MONITOR_ROWS)
    path = st.current_version("monitors")[1]
    assert _ts_types(path, "next_run") == {"timestamp[us, tz=UTC]"}


def test_spark_written_monitors_give_the_same_due_list(spark, tmp_path):
    """A monitors version a user wrote through Spark (INT96 timestamps)
    yields on the driver the due list Spark's own filter selects."""
    st = JobStore(spark, str(tmp_path / "store"))
    st.save_monitors(spark.createDataFrame(MONITOR_ROWS, MONITORS))
    assert _ts_types(st.current_version("monitors")[1], "next_run") == {"timestamp[ns]"}
    spark_due = (
        st.read("monitors")
        .filter(F.col("active") & F.col("deleted_at").isNull())
        .filter(F.col("next_run").isNull() | (F.col("next_run") <= F.lit(NOW)))
        .collect()
    )
    due = MonitorScheduler(spark, st, None).due_monitors(NOW)
    assert sorted(due, key=lambda d: d["id"]) == sorted(
        (r.asDict() for r in spark_due), key=lambda d: d["id"]
    )
    assert sorted(d["id"] for d in due) == [1, 5, 6]


def test_tick_with_nothing_due_launches_no_spark_job(spark, tmp_path):
    """The due list is read on the driver: a tick that finds nothing due
    (an hourly monitor one minute after it ran) starts no Spark job."""
    st = JobStore(spark, str(tmp_path / "store"))
    st.save_monitors(spark.createDataFrame([_monitor(1, cron="0 * * * *")], MONITORS))
    sched = MonitorScheduler(spark, st, _metrics(spark, 200.0), AlertRouter())
    assert _tick_jobs(spark, sched, NOW, f"due-{tmp_path.name}") > 0
    idle = NOW + dt.timedelta(minutes=1)
    assert _tick_jobs(spark, sched, idle, f"idle-{tmp_path.name}") == 0
    assert sched.tick(idle) == {"ran": 0, "alerts": 0}


class _RacedScheduler(MonitorScheduler):
    """Moves the monitors table past the tick's snapshot right after the
    due list is read, when ``race`` is set: the tick then loses its CAS."""

    race = False

    def due_monitors(self, now):
        due = super().due_monitors(now)
        if self.race:
            self.store.save_monitors(self.store.read("monitors"))
        return due


def test_tick_releases_its_cached_evaluation(spark, tmp_path):
    """Three ticks, the second losing its CAS, leave as many persisted
    RDDs as there were before them, with render targets due beside a
    plain one (their shared fetch is checkpointed and released)."""
    st = JobStore(spark, str(tmp_path / "store"))
    render = ["movingAverage(stats.req, 3)", "sumSeries(stats.*)"]
    st.save_monitors(spark.createDataFrame([_monitor(1), _monitor(2, metrics=render)], MONITORS))
    sched = _RacedScheduler(spark, st, _metrics(spark, 200.0), AlertRouter())
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    sched.tick(NOW)
    sched.race = True
    with pytest.raises(ConcurrentWriteError):
        sched.tick(NOW + dt.timedelta(minutes=1))
    sched.race = False
    assert sched.tick(NOW + dt.timedelta(minutes=2))["ran"] == 2
    assert persisted().size() == before


def test_dashboard_and_gate_evaluations_release_their_fetch(spark, sf_dir):
    """A dashboard preview with render targets and the
    ``monitor_run_statuses`` gate leave as many persisted RDDs as there
    were before them."""
    from rearview_spark.monitors.dashboard import preview_run
    from rearview_spark.plans.monitor_queries import monitor_run_statuses

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    out = preview_run(
        spark, _metrics(spark, 200.0), ["stats.req", "movingAverage(stats.req, 3)"],
        "(a - b).abs().max() > 1", 15, NOW,
    )
    assert out["status"] == "success"
    assert len(out["graph_data"]) == 32
    assert [r["status"] for r in monitor_run_statuses(spark, sf_dir).collect()][-1] == "error"
    assert persisted().size() == before


def _files(path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())} if path.exists() else {}


def test_lost_cas_leaves_job_data_untouched_and_no_staging(spark, tmp_path):
    """The job_data rows a tick stages are published only after its CAS:
    a tick that loses the CAS leaves job_data byte-identical and its
    staging dir removed."""
    root = tmp_path / "store"
    st = JobStore(spark, str(root))
    st.save_monitors(spark.createDataFrame([_monitor(1)], MONITORS))
    sched = _RacedScheduler(spark, st, _metrics(spark, 200.0), AlertRouter())
    sched.tick(NOW)
    before = _files(root / "job_data")
    assert before
    sched.race = True
    with pytest.raises(ConcurrentWriteError):
        sched.tick(NOW + dt.timedelta(minutes=1))
    assert _files(root / "job_data") == before
    assert _files(root / "job_data.staging") == {}


def test_tick_job_data_rows_match_the_evaluation(spark, tmp_path):
    """A winning tick persists, per due monitor, the row the direct
    append wrote: id xxhash64(job_id, scheduled_ts), the tick time, and
    the evaluation's status and graph_data."""
    from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors

    rows = [_monitor(1), _monitor(2, metrics=["movingAverage(stats.req, 5)"]),
            _monitor(3, metrics=["stats.none"])]
    st = JobStore(spark, str(tmp_path / "store"))
    st.save_monitors(spark.createDataFrame(rows, MONITORS))
    m = _metrics(spark, 200.0)
    MonitorScheduler(spark, st, m, AlertRouter()).tick(NOW)

    specs = [MonitorSpec.from_row(r) for r in st.read("monitors").collect()]
    expected = evaluate_monitors(spark, specs, m, NOW).select(
        F.xxhash64("job_id", "scheduled_ts").alias("id"), "job_id",
        F.lit(NOW).alias("created_at"), F.lit(NOW).alias("updated_at"),
        "status", "graph_data",
    )
    got = st.read("job_data").select(
        "id", "job_id", "created_at", "updated_at", "data.status", "data.graph_data"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))
    assert {r["job_id"]: r["status"] for r in got.collect()} == {
        1: "failed", 2: "failed", 3: "error"
    }


def test_tick_of_plain_path_monitors_is_two_spark_jobs(spark, tmp_path):
    """Three bare-path monitors over a parquet metric store: the tick's
    data plane is one action, the metrics scan stage and the final
    evaluate-and-write stage, with no separate status collect."""
    path = str(tmp_path / "metrics.parquet")
    rows = [(f"stats.s{k}", T0 + dt.timedelta(minutes=i), 10.0 * k)
            for k in (1, 2, 3) for i in range(120)]
    spark.createDataFrame(rows, "metric string, ts timestamp, value double").write.parquet(path)
    st = JobStore(spark, str(tmp_path / "store"))
    st.save_monitors(spark.createDataFrame(
        [_monitor(k, metrics=[f"stats.s{k}"], minutes=10 * k) for k in (1, 2, 3)], MONITORS
    ))
    sched = MonitorScheduler(spark, st, spark.read.parquet(path), AlertRouter())
    assert _tick_jobs(spark, sched, NOW, f"plain-{tmp_path.name}") == 2
    assert st.read("job_data").count() == 3


def test_staged_job_data_is_invisible_until_swept(spark, tmp_path):
    """Rows staged by a writer that never published are not part of
    job_data for either reader. A tick sweeps the staging dir only once
    the monitors table is two versions past the dir's snapshot AND the
    dir is older than the store's claim TTL; either alone keeps it."""
    root = tmp_path / "store"
    st = JobStore(spark, str(root))
    st.save_monitors(spark.createDataFrame([_monitor(1)], MONITORS))
    sched = MonitorScheduler(spark, st, _metrics(spark, 200.0), AlertRouter())
    sched.tick(NOW)

    from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors

    spec = MonitorSpec.from_row(st.read("monitors").collect()[0])
    later = NOW + dt.timedelta(minutes=5)
    v, _ = st.current_version("monitors")
    staged = st.stage_job_data(evaluate_monitors(spark, [spec], sched.metrics, later), later, v)
    assert any(staged.iterdir())
    assert st.read("job_data").count() == 1
    assert st.read_arrow("job_data").num_rows == 1
    assert st.read("job_data").filter(F.col("created_at") == later).count() == 0

    def age(seconds):
        t = staged.stat().st_mtime - seconds
        os.utime(staged, (t, t))

    idle = NOW + dt.timedelta(seconds=30)  # nothing due: only the sweep runs
    age(st.claim_ttl_s + 1)
    for _ in range(2):  # old, but the table is at v, then v + 1
        sched.tick(idle)
        assert staged.exists()
        st.save_monitors(st.read("monitors"))
    assert st.current_version("monitors")[0] == v + 2
    os.utime(staged)  # v + 2, but younger than claim_ttl_s
    sched.tick(idle)
    assert staged.exists()
    age(st.claim_ttl_s + 1)
    sched.tick(idle)
    assert not staged.exists()
    assert st.read_arrow("job_data").num_rows == 1


class _SlowScheduler(MonitorScheduler):
    """Between its staged write and its commit, ages the staging dir past
    the claim TTL (a write that ran that long keeps its start-of-write
    mtime) and runs ``overlap(staged)``."""

    overlap = None

    def _commit(self, now, due, runs, monitors_version, staged):
        t = staged.stat().st_mtime - self.store.claim_ttl_s - 1
        os.utime(staged, (t, t))
        self.overlap(staged)
        return super()._commit(now, due, runs, monitors_version, staged)


def test_sweep_spares_a_slow_tick_that_has_not_committed(spark, tmp_path):
    """A tick whose staged write outlasts the claim TTL keeps its staging
    dir through an overlapping tick's sweep: if it then wins its CAS its
    rows are published, and if it loses, the overlapping tick's rows are
    job_data's and its own dir is removed."""
    root = tmp_path / "store"
    st = JobStore(spark, str(root))
    st.save_monitors(spark.createDataFrame([_monitor(1, next_run=NOW)], MONITORS))
    m = _metrics(spark, 200.0)
    slow = _SlowScheduler(spark, st, m, AlertRouter())

    def sweep(staged):  # a tick with nothing due: its sweep alone runs
        MonitorScheduler(spark, st, m, AlertRouter()).tick(NOW - dt.timedelta(days=1))
        assert staged.exists()

    slow.overlap = sweep
    assert slow.tick(NOW)["ran"] == 1
    assert st.read_arrow("job_data").num_rows == 1

    later = NOW + dt.timedelta(minutes=1)

    def overlapping_tick(staged):  # due the same monitor, and wins the CAS
        assert MonitorScheduler(spark, st, m, AlertRouter()).tick(later)["ran"] == 1
        assert staged.exists()

    slow.overlap = overlapping_tick
    with pytest.raises(ConcurrentWriteError):
        slow.tick(later)
    assert st.read_arrow("job_data").num_rows == 2
    assert _files(root / "job_data.staging") == {}
