"""In-memory spans and counters for the traced run.

Spans are recorded around the public calls into each layer, from the
benchmark's side (the program itself is not instrumented): a span is
``(name, start, end, parent, run_id)``, kept in memory and written out with
the derived self-times when the run ends. A layer's self time is its span
duration minus the part its child spans cover.

Spark figures come from the job group the benchmark sets around every
operation, read back from the status store after the operation ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Span recorder. ``enabled`` is flipped per pass, so one run can time
    traced and untraced passes over the same inputs."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, name: str, fn):
        """``fn`` with a span named ``name`` around every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_methods(self, obj, layer: str, names: list[str]) -> None:
        """Replace bound methods on one instance (never on the class)."""
        for n in names:
            setattr(obj, n, self.wrap(f"{layer}.{n}", getattr(obj, n)))

    # -- derived figures ----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name. Spans come from one thread's
        stack, so a span's children are disjoint and lie inside it."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
            if s.parent is not None:
                out[self.spans[s.parent].name] -= s.end - s.start
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """(calls, total wall seconds) per span name."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            out[s.name][0] += 1
            out[s.name][1] += s.end - s.start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [
                [s.name, round(s.start, 6), round(s.end, 6), s.parent] for s in self.spans
            ],
            "self_s": {k: round(v, 6) for k, v in self.self_times().items()},
            "counts": dict(self.counts),
        }


# --------------------------------------------------------------------------
# Spark job-group figures
# --------------------------------------------------------------------------

SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def spark_group_figures(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, executor run/CPU time, shuffle and spill bytes
    of every job launched under ``group`` (skipped stages excluded)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        it = store.job(int(job_id)).stageIds().iterator()
        while it.hasNext():
            st = store.lastStageAttempt(int(it.next()))
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.executor_run_ms"] += st.executorRunTime()
            out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
