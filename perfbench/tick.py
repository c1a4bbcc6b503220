"""``monitor_tick``: the monitoring loop, cron tick -> window fetch ->
monitor expression -> alert lifecycle -> notifier, driven through
``MonitorScheduler.tick`` one simulated minute at a time.

Alerts leave through ``WebhookNotifier`` to a webhook served by one thread
inside the benchmark process, which stamps the receipt time of each POST.
An alert's delay is the time from the start of the tick that owes it to
its receipt.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

import numpy as np

import inputs
from common import Op

# One pass is one shift cycle: the shift-on tick fires the shifted
# monitors, the shift-off tick recovers them while the error monitors
# re-alert on their 2-minute timeout.
TICKS_PER_PASS = inputs.CYCLE_MIN


class Webhook:
    """Local HTTP sink; one server thread, receipts kept in memory."""

    def __init__(self):
        self.receipts: list[tuple[float, dict]] = []
        self._lock = threading.Lock()
        receipts, lock = self.receipts, self._lock

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                with lock:
                    receipts.append((time.perf_counter(), body))
                self.send_response(200)
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_port}/hook"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)


class MonitorTick:
    name = "monitor_tick"
    pass_s = 12.0  # one pass on the reference box (4 cores)

    def __init__(self, spark, work_dir: str, seed: int, tiny: bool, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work_dir, seed, tracer
        self.n_monitors = 8 if tiny else 12
        self.webhook = Webhook()
        self.now = inputs.T_START
        self.tick_starts: dict[dt.datetime, float] = {}
        self.timed_ticks: list[dt.datetime] = []

    # -- set-up -------------------------------------------------------------

    def build(self, rep: int) -> None:
        """One set-up: generate the metric store and fleet (values from
        the seed, shape fixed), write the store, register the fleet in a
        fresh ``JobStore``."""
        from rearview_spark.monitors.notify import AlertRouter, WebhookNotifier
        from rearview_spark.monitors.scheduler import MonitorScheduler
        from rearview_spark.monitors.schemas import MONITORS
        from rearview_spark.monitors.store import JobStore

        shape = inputs.shape_rng()
        self.data = inputs.metric_frame(np.random.default_rng(self.seed), shape)
        self.monitors = inputs.fleet(shape, self.data, self.n_monitors)
        root = os.path.join(self.work, f"tick-{rep}")
        os.makedirs(root)
        path = os.path.join(root, "metrics.parquet")
        self.data.frame.to_parquet(path, index=False)
        self.store_dir = os.path.join(root, "store")
        store = JobStore(self.spark, self.store_dir)
        rows = inputs.monitor_rows(self.monitors, "webhook")
        store.save_monitors(self.spark.createDataFrame(rows, MONITORS))
        router = AlertRouter()
        router.register("webhook", WebhookNotifier(url=self.webhook.url))
        self.sched = MonitorScheduler(self.spark, store, self.spark.read.parquet(path), router)

    def warm(self) -> None:
        """The first tick: every monitor is due (no ``next_run`` yet), the
        Python workers spawn and the JIT warms. Not timed."""
        self._tick()

    def instrument(self) -> None:
        """Spans around the public calls of each monitor layer."""
        from rearview_spark.monitors import evaluate, scheduler

        t = self.tracer
        store, router = self.sched.store, self.sched.router
        t.wrap_methods(store, "store", [
            "read", "read_outbox", "current_version", "overwrite", "append",
            "save_monitors", "pending_alerts", "mark_alert_dispatched", "append_job_data",
        ])
        t.wrap_methods(self.sched, "scheduler", ["due_monitors"])
        dispatch = router.dispatch

        def traced_dispatch(*args, **kwargs):
            with t.span("notify.dispatch"):
                try:
                    return dispatch(*args, **kwargs)
                except Exception:
                    t.count("notify.failures")
                    raise

        router.dispatch = traced_dispatch

        evaluate_monitors = scheduler.evaluate_monitors

        def traced_evaluate(spark, monitors, metrics, now, *args, **kwargs):
            specs = list(monitors)
            if t.enabled:
                t.count("evaluate.monitors", len(specs))
                t.count("evaluate.windows", len({
                    json.dumps([s.metrics, (s.to_date or now).isoformat(), s.minutes])
                    for s in specs
                }))
            with t.span("evaluate.evaluate_monitors"):
                return evaluate_monitors(spark, specs, metrics, now, *args, **kwargs)

        compile_target = evaluate.compile_target

        def traced_compile(target, *args, **kwargs):
            with t.span("graphite.compile_target"):
                plan = compile_target(target, *args, **kwargs)
            return t.wrap("graphite.plan", plan)

        self._restore = [
            (scheduler, "evaluate_monitors", evaluate_monitors),
            (evaluate, "compile_target", compile_target),
        ]
        scheduler.evaluate_monitors = traced_evaluate
        evaluate.compile_target = traced_compile

    def close(self) -> None:
        for mod, attr, orig in getattr(self, "_restore", []):
            setattr(mod, attr, orig)
        self.webhook.close()

    # -- timed loop ---------------------------------------------------------

    def _tick(self) -> bool:
        now = self.now
        self.now += dt.timedelta(minutes=1)
        self.tick_starts[now] = time.perf_counter()
        try:
            self.sched.tick(now)
        except Exception as e:  # noqa: BLE001 — a failed tick is a failed op
            print(f"tick {now:%H:%M} failed: {e!r}"[:400], file=sys.stderr)
            return False
        return True

    def run_pass(self, group) -> list[Op]:
        ops = []
        for _ in range(TICKS_PER_PASS):
            now = self.now
            with group(f"tick:{now:%H:%M}") as g:
                t0 = time.perf_counter()
                with self.tracer.span("scheduler.tick"):
                    ok = self._tick()
                t1 = time.perf_counter()
            phase = "on" if inputs.shift_on(now) else "off"
            ops.append(Op(f"tick-shift-{phase}", t0, t1, ok, g.figures))
            self.timed_ticks.append(now)
        return ops

    # -- outcome ------------------------------------------------------------

    def outcome(self) -> dict:
        """Alert delays plus the correctness checks, all outside the timed
        region: raw-path threshold statuses recomputed in pandas, every
        owed alert (lifecycle replay over the persisted statuses) received
        by the webhook at least once."""
        from rearview_spark.monitors.lifecycle import FAILED, ERROR, transition

        rows = self.sched.store.read("job_data").select(
            "job_id", "created_at", "data.status"
        ).collect()
        status = {(r["job_id"], r["created_at"]): r["status"] for r in rows}
        by_id = {m.id: m for m in self.monitors}
        ticks = sorted(self.tick_starts)

        mismatches = checked = 0
        for m in self.monitors:
            if m.check is None or m.cron != "* * * * *":  # due at every tick
                continue
            for now in ticks:
                checked += 1
                if status.get((m.id, now)) != inputs.expected_status(
                    self.data, m.check, now, m.minutes
                ):
                    mismatches += 1

        owed: list[tuple[int, dt.datetime]] = []
        history: dict[int, list] = {}
        for (job_id, now), st in sorted(status.items(), key=lambda kv: kv[0][1]):
            history.setdefault(job_id, []).append((now, st))
        for job_id, runs in history.items():
            prev, alerted, incident = "success", None, False
            for now, st in runs:
                tr = transition(prev, alerted if incident else None, st, now,
                                by_id[job_id].error_timeout)
                if tr.incident == "close":
                    incident = False
                elif tr.new_status in (FAILED, ERROR):
                    incident = True
                if tr.should_alert:
                    alerted = now
                    owed.append((job_id, now))
                prev = tr.new_status

        received: dict[tuple[int, str], float] = {}
        duplicates = 0
        for t, body in self.webhook.receipts:
            key = (body["job_id"], body["fired_at"])
            if key in received:
                duplicates += 1
            else:
                received[key] = t
        missing, delays = 0, []
        timed = set(self.timed_ticks)
        for job_id, now in owed:
            t = received.get((job_id, now.isoformat()))
            if t is None:
                missing += 1
            elif now in timed:
                delays.append(t - self.tick_starts[now])

        files = nbytes = 0
        for dirpath, _, names in os.walk(self.store_dir):
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
        return {
            "result_delays": delays,
            "attempted": checked + len(owed),
            "failed": mismatches + missing,
            "checks": {"status_checked": checked, "status_mismatches": mismatches,
                       "alerts_owed": len(owed), "alerts_missing": missing},
            "layer": {
                "lifecycle.alerts_owed": len(owed),
                "lifecycle.delivered_ratio": (len(owed) - missing) / len(owed) if owed else 1.0,
                "notify.duplicates": duplicates,
                "store.files_end": files,
                "store.bytes_end": nbytes,
            },
        }

    @staticmethod
    def layer_metrics(tracer) -> dict[str, float]:
        tot = tracer.totals()

        def calls(n):
            return tot.get(n, (0, 0.0))[0]

        def secs(*names):
            return sum(tot.get(n, (0, 0.0))[1] for n in names)

        return {
            "store.mark_dispatched_calls": calls("store.mark_alert_dispatched"),
            "store.mark_dispatched_s": secs("store.mark_alert_dispatched"),
            "store.pending_alerts_s": secs("store.pending_alerts"),
            "store.read_s": secs("store.read", "store.read_outbox"),
            "store.write_s": secs("store.overwrite", "store.append"),
            "store.write_calls": calls("store.overwrite") + calls("store.append"),
            "notify.dispatch_calls": calls("notify.dispatch"),
            "notify.dispatch_s": secs("notify.dispatch"),
            "notify.failures": tracer.counts.get("notify.failures", 0),
            "evaluate.calls": calls("evaluate.evaluate_monitors"),
            "evaluate.busy_s": secs("evaluate.evaluate_monitors"),
            "evaluate.monitors": tracer.counts.get("evaluate.monitors", 0),
            "evaluate.windows": tracer.counts.get("evaluate.windows", 0),
            "graphite.compile_calls": calls("graphite.compile_target"),
            "graphite.compile_s": secs("graphite.compile_target", "graphite.plan"),
            "scheduler.due_monitors_s": secs("scheduler.due_monitors"),
        }
