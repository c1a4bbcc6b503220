"""The monitor store's control tables — the alert outbox sidecar, the
``alert_dispatches`` log and ``job_errors`` — are read and written on the
driver with pyarrow. These tests pin that the files stay interchangeable
with Spark's in both directions, that a drain interrupted mid-way
redelivers only its unsent tail, and that a tick's Spark job count does
not grow with incident history."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from rearview_spark.monitors.notify import AlertRouter, CollectingNotifier
from rearview_spark.monitors.scheduler import MonitorScheduler
from rearview_spark.monitors.schemas import (
    ALERT_DISPATCHES,
    ALERT_OUTBOX,
    JOB_ERRORS,
    MONITORS,
)
from rearview_spark.monitors.store import JobStore, arrow_rows, arrow_table

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


def _monitor(id, cron="* * * * *"):
    return (
        id, f"mon{id}", True, None, None, cron, "success", 1,
        [f"email:ops{id}@example.com"], None, 60, f"monitor {id}", 1,
        ["stats.req"], "a.mean() > 100", 60, None, T0, T0,
    )


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
