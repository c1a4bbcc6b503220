"""Benchmark runner for rearview_spark.

    python3 perfbench/run.py --workload monitor_tick --seed 1 --seconds 12 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen; ``README.md`` in
this directory maps each layer metric to the end-to-end metric it should
move):

- ``monitor_tick``   the monitoring loop through ``MonitorScheduler.tick``
- ``batch_pipeline`` iterative, explode-heavy and streaming headline lines

One run: start the Spark session (``local[$SPARK_GRAFT_CPUS]``, default
all cores), set the workload up three times from the seed (``setup_s`` is
the median), warm up untimed, then run whole passes over the workload's
fixed operation sequence: as many as take ``--seconds`` on the reference
box (4 cores), so every run does the same work.

Besides ``setup_s``, the gated figures are the work one pass makes Spark
do: the jobs it launches and the tasks they run (``jobs_per_pass``,
``tasks_per_pass``), read from the job group set around every operation
(a streaming query's micro-batches run on the query's own thread and job
group, outside these counts).
At these data sizes each job costs a fixed launch, plan and schedule
round trip, so the counts set the time a pass takes on an idle box, and
they repeat exactly from run to run. Time does not: on a shared host the
wall and the CPU time of the same pass both swing by a fifth and more
with the neighbours' load. The times are measured all the same and
printed by the traced run (``pass.wall_s``, the operation and alert-delay
percentiles).

Outputs are checked, the record (host context, all metrics, spans with
self-times when traced) goes to ``.perfbench_out/`` and the last stdout
line is the JSON result. ``--trace 1`` alternates untraced and traced
passes, prints the per-layer metrics, and reports the tracing overhead as
the traced pass time minus the untraced one. ``--tiny`` is the
smoke-test scale.

Every path the run touches is inside the source tree it is started from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("rearview_spark/__init__.py", "bench.py", "tools/oracle_check.py")

WORKLOADS = ("monitor_tick", "batch_pipeline")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "jobs_per_pass": "count",
    "tasks_per_pass": "count",
}

NAMED_QUERIES = (
    "graph_hits", "er_customer_entities", "dedup_minhash_lsh", "sim_pq_fit_encode",
    "stream_outer_attribution",
)

PER_LAYER = {  # name -> unit; emitted on every workload, 0 where not exercised
    "store.mark_dispatched_calls": "count",
    "store.mark_dispatched_s": "s",
    "store.pending_alerts_s": "s",
    "store.read_s": "s",
    "store.write_s": "s",
    "store.write_calls": "count",
    "store.files_end": "count",
    "store.bytes_end": "bytes",
    "notify.dispatch_calls": "count",
    "notify.dispatch_s": "s",
    "notify.failures": "count",
    "notify.duplicates": "count",
    "evaluate.calls": "count",
    "evaluate.busy_s": "s",
    "evaluate.monitors": "count",
    "evaluate.windows": "count",
    "graphite.compile_calls": "count",
    "graphite.compile_s": "s",
    "scheduler.due_monitors_s": "s",
    "lifecycle.alerts_owed": "count",
    "lifecycle.delivered_ratio": "ratio",
    "plan.build_s": "s",
    "exec.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_per_op": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    **{f"query.{q}_s": "s" for q in NAMED_QUERIES},
    # the untraced pass, in time (ungated: see the module docstring)
    "pass.wall_s": "s",
    "op.wall_p50_s": "s",
    "result.delay_p50_s": "s",
    "result.delay_p90_s": "s",
    "memory.peak_mb": "MB",
    "trace.overhead_s": "s",
}

SETUP_REPS = 3


def _configure_env(work: str) -> None:
    """Environment the session and its Python workers start from. The
    workers import ``rearview_spark`` for the applyInPandas monitor
    evaluation, so the source root goes on their ``PYTHONPATH`` whatever
    the working directory; temp, shuffle and warehouse files stay inside
    the run's work directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def _start_spark(work: str):
    from rearview_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _workload(name: str, spark, work: str, seed: int, tiny: bool, tracer):
    if name == "monitor_tick":
        from tick import MonitorTick

        return MonitorTick(spark, work, seed, tiny, tracer)
    from batch import PIPELINE, Batch

    return Batch(name, PIPELINE, spark, work, seed, tiny, tracer)


def _per_layer(wl, tracer, passes, outcome, peak_mb, timing) -> dict[str, float]:
    from common import median
    from spans import SPARK_KEYS

    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(wl.layer_metrics(tracer))
    out.update(outcome["layer"])
    traced = [op for p in passes if p["traced"] for op in p["ops"]]
    for k in SPARK_KEYS:
        out[k] = sum(op.spark.get(k, 0.0) for op in traced)
    out["spark.jobs_per_op"] = out["spark.jobs"] / len(traced) if traced else 0.0
    for q in NAMED_QUERIES:
        times = [op.seconds for op in traced if op.name == q]
        if times:
            out[f"query.{q}_s"] = median(times)
    on = [p["seconds"] for p in passes if p["traced"]]
    off = [p["seconds"] for p in passes if not p["traced"]]
    out["trace.overhead_s"] = median(on) - median(off)
    out["memory.peak_mb"] = peak_mb
    out.update(timing)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool) -> dict:
    from common import (
        RssSampler, cpu_ticks, host_context, job_groups, loadavg, median, percentile,
    )
    from spans import Tracer

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{run_id}")
    _configure_env(work)
    context = host_context(ROOT)
    ticks0 = cpu_ticks()
    tracer = Tracer(run_id)
    passes: list[dict] = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        spark.range(1).count()
        context["session_start_s"] = time.perf_counter() - t0
        wl = None
        try:
            wl = _workload(workload, spark, work, seed, tiny, tracer)
            setups = []
            for rep in range(1 if tiny else SETUP_REPS):
                t0 = time.perf_counter()
                wl.build(rep)
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm()
            context["warmup_s"] = time.perf_counter() - t0
            if trace:
                wl.instrument()
            group = job_groups(spark, run_id)
            n_passes = max(2 if trace else 1, 1 if tiny else round(seconds / wl.pass_s))
            for i in range(n_passes):
                # traced runs alternate untraced and traced passes
                tracer.enabled = trace and i % 2 == 1
                ops = wl.run_pass(group)
                passes.append({
                    "seconds": sum(op.seconds for op in ops),
                    "jobs": sum(op.spark["spark.jobs"] for op in ops),
                    "tasks": sum(op.spark["spark.tasks"] for op in ops),
                    "ops": ops, "traced": tracer.enabled,
                })
            tracer.enabled = False
            outcome = wl.outcome()
        finally:
            if wl is not None:
                wl.close()
            _stop_spark(spark)
    context["loadavg_end"] = loadavg()
    ticks1 = cpu_ticks()
    context["cpu_steal_share"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

    ops = [op for p in passes for op in p["ops"]]
    attempted = len(ops) + outcome["attempted"]
    failed = sum(not op.ok for op in ops) + outcome["failed"]
    untraced = [p for p in passes if not p["traced"]]
    # each distinct operation (a tick phase, a query line) counts once,
    # with its median over the passes, so the percentiles do not depend on
    # how many passes a run made
    by_op: dict[str, list[float]] = {}
    for p in untraced:
        for op in p["ops"]:
            by_op.setdefault(op.name, []).append(op.seconds)
    op_wall = [median(v) for v in by_op.values()]
    delays = outcome.get("result_delays") or op_wall
    e2e = {
        "setup_s": median(setups),
        "jobs_per_pass": median([p["jobs"] for p in untraced]),
        "tasks_per_pass": median([p["tasks"] for p in untraced]),
    }
    timing = {
        "pass.wall_s": median([p["seconds"] for p in untraced]),
        "op.wall_p50_s": median(op_wall),
        "result.delay_p50_s": percentile(delays, 50),
        "result.delay_p90_s": percentile(delays, 90),
    }
    metrics = (
        {k: {"value": v, "unit": PER_LAYER[k]} for k, v in _per_layer(
            wl, tracer, passes, outcome, rss.peak / 2**20, timing).items()}
        if trace else
        {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    context["peak_mb_by_command"] = {k: v / 2**20 for k, v in rss.peak_by_command.items()}
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "tiny": tiny, "context": context, "setup_samples_s": setups,
        "end_to_end": e2e, "timing": timing, "metrics": metrics,
        "checks": outcome["checks"], "peak_mb": rss.peak / 2**20,
        "passes": [{**{k: v for k, v in p.items() if k != "ops"},
                    "ops": [[op.name, op.seconds, op.ok, op.spark]
                            for op in p["ops"]]}
                   for p in passes],
        "result_samples": len(delays),
    }
    if trace:
        record["trace"] = tracer.dump()
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "record": record}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test scale")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program under test not found next to {HERE}: {missing}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    from common import write_record

    record = result.pop("record")
    write_record(
        os.path.join(ROOT, ".perfbench_out"),
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
        {**record, "result": result},
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
