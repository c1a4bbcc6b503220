"""The monitor scheduler: cron-driven evaluation loop (SURVEY.md §3.1).

Reference lifecycle per tick (reconstructed from Rakefile:4-7 preload,
celluloid timer actors Gemfile.lock:160, jobs.next_run/last_run
db/schema.rb:55,62):

  select due jobs (R7) -> compute/persist next_run -> fetch windows ->
  evaluate -> persist job_data -> status transition + debounce ->
  open/close job_errors -> fan out alerts.

This class drives the same steps with only the data plane in Spark —
the window fetch and evaluation (one action, the tick's status collect)
and the job_data append (read from the cached evaluation), a handful of
jobs per tick however many monitors are due. The config and control
tables (the monitors table, alert outbox, dispatch log, job_errors) are
read and written on the driver with Arrow (``store.py``), so their few
rows cost no Spark job and a tick with nothing due launches none. Time
is injected (``tick(now)``) so golden tests and backtests replay
deterministically — the same mechanism serves the reference's `to_date`
historical runs (db/schema.rb:68).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from rearview_spark.monitors.cron import next_fire
from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors
from rearview_spark.monitors.lifecycle import RESOLVED, TRIGGERED, transition
from rearview_spark.monitors.notify import AlertRouter
from rearview_spark.monitors.schemas import ALERT_OUTBOX, JOB_ERRORS, MONITORS
from rearview_spark.monitors.store import JobStore, arrow_rows, arrow_table


class MonitorScheduler:
    def __init__(
        self,
        spark: SparkSession,
        store: JobStore,
        metrics: DataFrame,
        router: AlertRouter | None = None,
    ):
        self.spark = spark
        self.store = store
        self.metrics = metrics
        self.router = router or AlertRouter()

    # -- due-job selection (R2/R6/R7 access paths) --------------------------

    def due_monitors(self, now: dt.datetime) -> list[dict]:
        """Active, undeleted monitors whose ``next_run`` is unset or not
        after ``now``, filtered on the driver; only those become rows."""
        table = self.store.read_arrow("monitors")
        # ``now`` converts as Spark converts a literal (naive = local)
        now_us = pa.scalar(T.TimestampType().toInternal(now), pa.timestamp("us", tz="UTC"))
        next_run = table["next_run"]
        due = pc.and_(
            pc.and_(table["active"], pc.is_null(table["deleted_at"])),
            pc.or_kleene(pc.is_null(next_run), pc.less_equal(next_run, now_us)),
        )
        return [r.asDict() for r in arrow_rows(table.filter(due), MONITORS)]

    # -- one tick -----------------------------------------------------------

    def tick(self, now: dt.datetime) -> dict:
        """Run all due monitors once. Returns a summary dict.

        Exactly-once under overlapping ticks: the monitors-table version
        is snapshotted with the due list, and every persist/dispatch
        happens only AFTER the compare-and-swap on that table succeeds
        (``_merge_monitors``).  A second tick computed from the same
        snapshot fails the CAS with ``ConcurrentWriteError`` before it
        appends job_data or sends any alert — its work is discarded
        whole, never half-applied.

        At-least-once alerting across crashes: the alerts a tick owes are
        committed as an outbox sidecar of the SAME monitors pointer flip
        that commits their status transitions, then dispatched FROM the
        outbox (each marked in the dispatch log after its send).  A
        process death anywhere between the CAS and the last send leaves
        the owed alerts durable; the next tick's opening drain delivers
        them (re-sending only the unmarked tail).

        Spark work: the due list and the monitors swap are driver-side
        Arrow I/O, so a tick with nothing due launches no Spark job. The
        evaluation frame is cached; the status collect is the one action
        that evaluates every due monitor, the job_data append reads the
        cache, and the frame is unpersisted however the tick ends (a lost
        CAS included).

        Result-sink shape (the 10^5-monitor question): the status collect
        pulls ONE summary row per due monitor — job id, status and
        message, never the series data, which stays in the Spark job and
        lands in job_data via the store writer. That makes the tick's
        driver traffic O(active monitors), ~100 B/row: 10^5 due monitors
        collect ~10 MB and iterate a trivial Python loop, comfortably
        inside one driver. The scale-out past that is sharding ticks by
        ``pmod(monitor_id, n_shards)`` (each shard an independent
        scheduler over a disjoint config slice — the CAS key is
        per-table, so give each shard its own store prefix), NOT a
        foreachBatch rewrite: transitions need read-your-writes against
        the open-error table inside one commit, which a streaming sink
        can't give without re-introducing the same per-shard serial
        point. job_errors is read once and rewritten whole on the driver
        (Arrow, no Spark job), so incident history adds file I/O to a
        tick but not Spark jobs.
        """
        # drain alerts stranded by a predecessor that died mid-dispatch
        stranded = self._drain_outbox()
        monitors_version, _ = self.store.current_version("monitors")
        due = self.due_monitors(now)
        if not due:
            return {"ran": 0, "alerts": stranded}

        specs = [MonitorSpec.from_row(r) for r in due]
        # cached: the collect below runs the evaluation, the job_data
        # append reads it back; released however the tick ends
        results = evaluate_monitors(self.spark, specs, self.metrics, now).cache()
        try:
            n_alerts = self._commit(now, due, results, monitors_version)
        finally:
            results.unpersist()
        return {"ran": len(due), "alerts": n_alerts + stranded}

    def _commit(
        self, now: dt.datetime, due: list[dict], results: DataFrame, monitors_version: int
    ) -> int:
        """Run the evaluation (the status collect), then the transitions,
        the CAS-gated monitors swap, the job_data append, the incident
        rewrite and the drain. Returns the number of alerts sent."""
        by_id = {
            r["job_id"]: r
            for r in results.select("job_id", "status", "message").collect()
        }

        # status transitions + debounce (S4/S5) on the driver: due list is
        # config-scale; the heavy work already happened in the Spark job.
        # job_errors is read once; its rows serve the open incidents, the
        # next id and the rewrite in _merge_errors.
        errors = self.store.read_rows("job_errors")
        open_errors = {r["job_id"]: r.asDict() for r in errors if r["status"] == TRIGGERED}
        new_error_rows: list[tuple] = []
        closed_job_ids: set[int] = set()
        updated_monitors: list[dict] = []
        deferred_alerts: list[tuple] = []
        next_error_id = max((r["id"] for r in errors), default=0) + 1

        for mon in due:
            res = by_id.get(mon["id"])
            if res is None:
                continue
            prev_alerted = None
            if mon["id"] in open_errors:
                prev_alerted = open_errors[mon["id"]]["last_alerted_at"]
            tr = transition(
                mon["status"], prev_alerted, res["status"], now, mon["error_timeout"] or 0
            )
            if tr.incident == "open" or (
                tr.new_status in ("failed", "error") and mon["id"] not in open_errors
            ):
                new_error_rows.append(
                    (
                        next_error_id, mon["id"], now, now,
                        res["message"], TRIGGERED,
                        now if tr.should_alert else None,
                    )
                )
                next_error_id += 1
            elif tr.incident == "close":
                closed_job_ids.add(mon["id"])
            elif tr.new_status in ("failed", "error") and tr.should_alert:
                # re-alert on an already-open incident: bump last_alerted_at
                open_errors[mon["id"]]["last_alerted_at"] = now
                open_errors[mon["id"]]["updated_at"] = now

            if tr.should_alert:
                deferred_alerts.append(
                    (mon["id"], mon["alert_keys"], res["message"] or "", tr.new_status)
                )

            mon = dict(mon)
            mon["status"] = tr.new_status
            mon["last_run"] = now
            if mon["cron_expr"]:
                mon["next_run"] = next_fire(mon["cron_expr"], now)
            updated_monitors.append(mon)

        # CAS gate: the monitors swap is the tick's serialization point.
        # An overlapped tick that computed from the same snapshot raises
        # ConcurrentWriteError HERE — before any job_data row is appended
        # or any alert leaves the process. The owed alerts ride the same
        # pointer flip as an outbox sidecar, so from this commit onward
        # they survive a crash (at-least-once).
        self._merge_monitors(
            updated_monitors,
            expect_version=monitors_version,
            outbox=self._outbox_rows(deferred_alerts, now),
        )
        self.store.append_job_data(results, now)  # persist job_data (S8)
        self._merge_errors(errors, open_errors, new_error_rows, closed_job_ids, now)
        return self._drain_outbox()

    # -- outbox (at-least-once alert delivery) ------------------------------

    @staticmethod
    def _alert_id(job_id: int, fired_at: dt.datetime) -> int:
        """Deterministic 63-bit id: a tick re-run after a crash writes the
        SAME ids, so duplicated outbox rows collapse in the drain's dedup
        and an alert marked dispatched is never re-sent."""
        import hashlib

        h = hashlib.md5(f"{job_id}|{fired_at.isoformat()}".encode()).digest()
        return int.from_bytes(h[:8], "big") >> 1

    def _outbox_rows(self, deferred_alerts: list[tuple], now: dt.datetime):
        rows = [
            (self._alert_id(job_id, now), job_id, alert_keys, message, new_status, now)
            for job_id, alert_keys, message, new_status in deferred_alerts
        ]
        return arrow_table(rows, ALERT_OUTBOX)

    def _drain_outbox(self) -> int:
        """Dispatch every pending outbox alert, marking each in the
        dispatch log AFTER its send — a crash mid-drain redelivers only
        the unsent tail on the next tick."""
        n = 0
        for row in self.store.pending_alerts():
            n += self.router.dispatch(
                row["job_id"], row["alert_keys"], row["message"],
                row["fired_at"], row["status"],
            )
            self.store.mark_alert_dispatched(row["id"], row["fired_at"])
        return n

    # -- persistence merges (single-writer; see sources/table_format.py
    #    for the transactional-format deployment mapping) ------------------

    def _merge_monitors(
        self,
        updated: list[dict],
        expect_version: int | None = None,
        outbox=None,
    ) -> None:
        """Replace the updated rows in the monitors table, on the driver."""
        current = self.store.read_arrow("monitors")
        ids = pa.array([m["id"] for m in updated], pa.int64())
        merged = pa.concat_tables([
            current.filter(pc.invert(pc.is_in(current["id"], value_set=ids))),
            arrow_table(updated, MONITORS),
        ])
        self.store.save_monitors(merged, expect_version=expect_version, outbox=outbox)

    def _merge_errors(
        self,
        current: list,
        open_errors: dict[int, dict],
        new_rows: list[tuple],
        closed_job_ids: set[int],
        now: dt.datetime,
    ) -> None:
        touched = set(open_errors) | closed_job_ids
        rows = []
        for r in current:
            d = r.asDict()
            if d["status"] == TRIGGERED and d["job_id"] in closed_job_ids:
                d["status"] = RESOLVED
                d["updated_at"] = now
            elif d["status"] == TRIGGERED and d["job_id"] in open_errors:
                d = open_errors[d["job_id"]]
            rows.append(tuple(d[f.name] for f in JOB_ERRORS.fields))
        rows.extend(new_rows)
        if rows or touched:
            self.store.overwrite("job_errors", arrow_table(rows, JOB_ERRORS))

    # -- simulated run loop (tests / backtest) ------------------------------

    def run_between(self, start: dt.datetime, end: dt.datetime, step_minutes: int = 1) -> list[dict]:
        """Advance simulated time, ticking at each step — deterministic
        replay for goldens and `to_date` backtests."""
        out = []
        t = start
        while t <= end:
            out.append(self.tick(t))
            t += dt.timedelta(minutes=step_minutes)
        return out
