"""The monitor store's control tables — the alert outbox sidecar, the
``alert_dispatches`` log and ``job_errors`` — and, in the tick, the
monitors table are read and written on the driver with pyarrow. These
tests pin that the files stay interchangeable with Spark's in both
directions, that a drain interrupted mid-way redelivers only its unsent
tail, that a tick's Spark job count does not grow with incident history
and is zero when nothing is due, and that a tick releases the evaluation
it cached."""

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
    RDDs as there were before them."""
    st = JobStore(spark, str(tmp_path / "store"))
    st.save_monitors(spark.createDataFrame([_monitor(1)], MONITORS))
    sched = _RacedScheduler(spark, st, _metrics(spark, 200.0), AlertRouter())
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    sched.tick(NOW)
    sched.race = True
    with pytest.raises(ConcurrentWriteError):
        sched.tick(NOW + dt.timedelta(minutes=1))
    sched.race = False
    assert sched.tick(NOW + dt.timedelta(minutes=2))["ran"] == 1
    assert persisted().size() == before
