"""Monitor evaluation — the reference's sandbox layer on Spark.

Reference behavior (SURVEY.md §2.2, §3.1): each run fetches the monitor's
trailing window for every target expression, binds the resulting series to
variables ``a, b, c, ...``, evaluates ``monitor_expr`` in an out-of-process
sandbox (sandbox/.ruby-version:1 — a separate MRI runtime), and a raised
exception signals "alert". Our port:

- target expressions compile to Catalyst plans (functions/graphite.py) —
  the window fetch + render functions all run JVM-side;
- the per-monitor computation runs in ``applyInPandas`` keyed by job id:
  the Python worker is a separate OS process from the JVM, the same
  isolation boundary class as the reference's sandbox exec;
- arbitrary Ruby is NOT ported. ``monitor_expr`` is a restricted Python
  expression over pandas/NumPy (documented compatibility boundary,
  SURVEY.md §7 hard-part 5): variables ``a..z`` (one per target), ``np``,
  ``pd``, ``math`` and a small builtin whitelist. A truthy result fires
  the alert (equivalent to the reference's ``raise``).

Statuses (reference state machine, SURVEY.md §2.4 S4 — distinct graphite
-error vs monitor-failure paths, hence the second status column on
job_errors): 'success' | 'failed' (expr truthy) | 'error' (empty window or
expression error).

Scale: one action, run by the caller, evaluates ALL due monitors — each
target's plan is tagged (window group, var) and unioned with one sentinel
row per group, so Catalyst sees a single DAG, every monitor reaches the
grouped-map UDF (empty windows and bad targets included) and the UDF fans
out across executors by window group. The frame comes back lazy and
uncached; a caller that consumes it twice caches it. Per-job input is
capped (``max_points_per_job``) before collection into the worker.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import math
import signal
import threading
from dataclasses import dataclass
from typing import Iterable, Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rearview_spark.functions.graphite import compile_target
from rearview_spark.monitors.schemas import RUN_RESULT
from rearview_spark.operators.timeseries import window_fetch

def _robust_z(s):
    """Modified z-score over a pandas Series (Iglewicz-Hoaglin; the same
    rule as operators/anomaly.py, here as a monitor_expr convenience so
    the stock robust alert is one call: ``robust_z(a).abs().max() > 3.5``).
    Returns an all-NaN series when MAD is 0 (the documented degenerate
    case — at least half the points identical)."""
    med = s.median()
    mad = (s - med).abs().median()
    return 0.6745 * (s - med) / mad if mad else s * float("nan")


SAFE_BUILTINS = {
    "abs": abs, "min": min, "max": max, "len": len, "round": round,
    "float": float, "int": int, "sum": sum, "any": any, "all": all,
    "sorted": sorted, "True": True, "False": False, "None": None,
    "range": range, "enumerate": enumerate, "zip": zip,
    "robust_z": _robust_z,
}

MAX_POINTS_PER_JOB_DEFAULT = 100_000

EXPR_TIMEOUT_DEFAULT = 5.0

# AST node types a monitor_expr may contain.  Notably ABSENT: Lambda,
# Await/Yield, NamedExpr (walrus), JoinedStr (f-strings), Starred,
# comprehension `async for`, and any statement node — `ast.parse(mode=
# "eval")` plus this set means an expression can only combine literals,
# bound variables, whitelisted calls and whitelisted attribute reads.
_ALLOWED_NODES = (
    ast.Expression,
    ast.BoolOp, ast.And, ast.Or,
    ast.BinOp, ast.Add, ast.Sub, ast.Mult, ast.Div, ast.FloorDiv,
    ast.Mod, ast.Pow, ast.BitAnd, ast.BitOr, ast.BitXor,
    ast.UnaryOp, ast.USub, ast.UAdd, ast.Not, ast.Invert,
    ast.Compare, ast.Eq, ast.NotEq, ast.Lt, ast.LtE, ast.Gt, ast.GtE,
    ast.In, ast.NotIn, ast.Is, ast.IsNot,
    ast.Call, ast.keyword,
    ast.Constant,
    ast.Name, ast.Load,
    ast.IfExp,
    ast.Tuple, ast.List, ast.Dict, ast.Set,
    ast.Subscript, ast.Slice,
    ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp,
    ast.comprehension, ast.Store,  # Store: comprehension loop variables
    ast.Attribute,
)

# The only attribute names an expression may read — pandas Series /
# DataFrame / Rolling reductions, numpy/math functions and constants.
# An attribute walk like ``pd.io.common.os.system`` (the round-1 escape,
# ADVICE r01) dies at its first non-whitelisted hop ('io'); module-object
# traversal is impossible because no module-valued attribute is listed.
_ALLOWED_ATTRS = frozenset({
    # pandas Series/DataFrame reductions & transforms
    "mean", "median", "std", "var", "sum", "min", "max", "abs", "any",
    "all", "count", "quantile", "head", "tail", "shift", "diff",
    "pct_change", "fillna", "dropna", "isna", "notna", "isnull",
    "notnull", "clip", "round", "cumsum", "cummax", "cummin", "idxmax",
    "idxmin", "item", "values", "empty", "size", "shape", "index",
    "iloc", "rolling", "ewm", "last", "first", "astype", "sort_values",
    "sort_index", "nunique", "unique", "tolist",
    # numpy / math functions and constants (non-module-valued only)
    "nanmean", "nanmedian", "nanstd", "nansum", "nanmax", "nanmin",
    "percentile", "minimum", "maximum", "where", "log", "log10", "log2",
    "exp", "sqrt", "floor", "ceil", "isnan", "isfinite", "pi", "e",
    "nan", "inf", "fabs", "pow", "hypot",
    # pandas namespace constructors (class-valued, not module-valued)
    "Series", "Timestamp", "concat",
})


def _validate_expr(tree: ast.Expression) -> None:
    """Reject any AST shape outside the restricted-expression grammar.

    The reference evaluated monitor scripts in a dedicated locked-down
    interpreter (sandbox/.ruby-version:1, config.sandbox_exec
    README.md:54); a name/attr blacklist is not equivalent — round 1's
    '__'-filter was escapable via attribute walks through the np/pd
    module objects.  This validator whitelists node types and attribute
    names instead, so only the documented series/np/math surface is
    reachable.
    """
    for node in ast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ValueError(
                f"monitor_expr: {type(node).__name__} not allowed"
            )
        if isinstance(node, ast.Attribute):
            if node.attr.startswith("_") or node.attr not in _ALLOWED_ATTRS:
                raise ValueError(
                    f"monitor_expr: attribute {node.attr!r} not allowed"
                )
        if isinstance(node, ast.Name) and node.id.startswith("_"):
            raise ValueError(f"monitor_expr: name {node.id!r} not allowed")


@dataclass
class MonitorSpec:
    """Driver-side view of one jobs row (db/schema.rb:50-74 columns that
    matter to evaluation)."""

    id: int
    metrics: list[str]
    monitor_expr: str | None
    minutes: int
    to_date: dt.datetime | None = None
    name: str = ""
    description: str | None = None

    @classmethod
    def from_row(cls, row) -> "MonitorSpec":
        return cls(
            id=row["id"],
            metrics=list(row["metrics"]),
            monitor_expr=row["monitor_expr"],
            minutes=int(row["minutes"]),
            to_date=row["to_date"],
            name=row["name"],
            description=row["description"],
        )


def _var_name(i: int) -> str:
    return chr(ord("a") + i)


def evaluate_expr(
    expr: str,
    variables: Mapping[str, object],
    timeout_s: float | None = EXPR_TIMEOUT_DEFAULT,
) -> object:
    """Evaluate a restricted monitor expression — the compatibility
    boundary for the reference's sandboxed Ruby scripts.

    Two guards mirror the reference's sandbox_exec (README.md:54):
    an AST whitelist (node types + attribute names, see
    ``_validate_expr``) and a wall-clock deadline — the reference kills
    runaway scripts; here a SIGALRM itimer bounds the eval when running
    on the thread that can receive it (the Spark Python worker's main
    thread, which is where applyInPandas UDFs execute).
    """
    if "__" in expr:
        raise ValueError("double underscore not allowed in monitor_expr")
    tree = ast.parse(expr, "<monitor_expr>", mode="eval")
    _validate_expr(tree)
    code = compile(tree, "<monitor_expr>", "eval")
    env = {"np": __import__("numpy"), "pd": pd, "math": math, **SAFE_BUILTINS, **variables}
    if timeout_s and threading.current_thread() is threading.main_thread():
        def _deadline(signum, frame):
            raise TimeoutError(f"monitor_expr exceeded {timeout_s}s wall-clock")

        prev_handler = signal.signal(signal.SIGALRM, _deadline)
        prev_timer = signal.setitimer(signal.ITIMER_REAL, timeout_s)
        try:
            return eval(code, {"__builtins__": {}}, env)
        finally:
            signal.setitimer(signal.ITIMER_REAL, max(prev_timer[0], 0.0))
            signal.signal(signal.SIGALRM, prev_handler)
    return eval(code, {"__builtins__": {}}, env)


def bind_variables(pdf: pd.DataFrame) -> dict[str, object]:
    """Bind each target's window to its variable: a single-series target
    becomes a ts-sorted pandas Series; a multi-series target becomes a
    (ts x metric) DataFrame (both support .mean()/.max()/arithmetic)."""
    out: dict[str, object] = {}
    for var, grp in pdf.groupby("var"):
        grp = grp.sort_values("ts")
        if grp["metric"].nunique() <= 1:
            out[var] = pd.Series(grp["value"].values, index=grp["ts"].values, name=var)
        else:
            out[var] = grp.pivot_table(
                index="ts", columns="metric", values="value", aggfunc="first"
            ).sort_index()
    return out


# One row per window group carrying only its key (``var`` null). Unioned
# into the tagged points, it makes every group reach the grouped UDF, even
# one whose window is empty or whose targets failed to compile, so the
# UDF emits every monitor's row and the evaluation stays one action.
_SENTINEL = "grp string, var string, metric string, ts timestamp, value double"


def evaluate_monitors(
    spark: SparkSession,
    monitors: Iterable[MonitorSpec],
    metrics: DataFrame,
    now: dt.datetime,
    max_points_per_job: int = MAX_POINTS_PER_JOB_DEFAULT,
    with_graph: bool = True,
) -> DataFrame:
    """Plan the evaluation of every monitor's window; returns a lazy,
    uncached DataFrame with RUN_RESULT schema, one row per monitor.

    No Spark job runs here: the caller's action evaluates ALL the
    monitors at once. A caller that consumes the frame twice (the scheduler collects
    the statuses, then appends job_data) caches it and unpersists it
    when done.

    The monitors list is config-scale (the reference preloads all jobs
    into its scheduler, Rakefile:4-7) — iterating it on the driver builds
    the plan; no data moves through the driver.
    """
    specs = list(monitors)
    if not specs:
        return spark.createDataFrame([], RUN_RESULT)

    # Shared-window dedup: monitors watching the same (targets, window)
    # evaluate over ONE copy of the data. Groups are keyed by the window
    # signature, so shuffle + Arrow-transfer volume is proportional to
    # *distinct* windows, not monitor count — with fleets of monitors on
    # the same golden metrics (the common production shape) that is the
    # difference between O(monitors) and O(distinct targets) scan work.
    scheduled: dict[int, dt.datetime] = {}
    groups: dict[str, list[MonitorSpec]] = {}
    for spec in specs:
        end = spec.to_date or now
        scheduled[spec.id] = end
        # json.dumps is injective here (targets legally contain commas, so
        # a ','.join key could collide two different metrics lists).
        key = json.dumps([spec.metrics, end.isoformat(), spec.minutes])
        groups.setdefault(key, []).append(spec)

    tagged_frames = []
    # key -> (members, target compile error or None)
    group_info: dict[str, tuple[list[tuple], str | None]] = {}
    for key, members in groups.items():
        lead = members[0]
        end = scheduled[lead.id]
        start = end - dt.timedelta(minutes=lead.minutes)
        windowed = window_fetch(metrics, start, end)
        frames, error = [], None
        for i, target in enumerate(lead.metrics):
            try:
                plan = compile_target(target)
                lb = getattr(plan, "lookback_s", 0)
                la = getattr(plan, "lookahead_s", 0)
                if lb or la:
                    # timeShift targets need source data OUTSIDE the render
                    # window (Graphite fetches the shifted window): extend
                    # the fetch by the plan's reported bounds, then clamp
                    # the transformed frame back to [start, end].
                    src = window_fetch(
                        metrics,
                        start - dt.timedelta(seconds=lb),
                        end + dt.timedelta(seconds=la),
                    )
                    df = window_fetch(plan(src), start, end)
                else:
                    df = plan(windowed)
            except Exception as e:  # noqa: BLE001 — bad target -> error status
                error = f"target {target!r}: {e}"
                break
            frames.append(
                df.select(
                    F.lit(key).alias("grp"),
                    F.lit(_var_name(i)).alias("var"),
                    "metric", "ts", "value",
                )
            )
        if error is None:
            # a group's points join the union only once ALL its targets
            # compiled; a bad later target leaves just its sentinel
            tagged_frames.extend(frames)
        group_info[key] = (
            [
                (
                    m.id,
                    m.monitor_expr,
                    m.description or m.name,
                    scheduled[m.id].isoformat(),
                )
                for m in members
            ],
            error,
        )

    b_groups = spark.sparkContext.broadcast(group_info)

    def _eval_group(pdf: pd.DataFrame) -> pd.DataFrame:
        members, plan_error = b_groups.value[pdf["grp"].iloc[0]]
        pdf = pdf[pdf["var"].notna()]  # drop the sentinel row
        out = []
        graph_records = None  # read by emit at call time

        def emit(job_id, sched_iso, status, message, output):
            out.append(
                {
                    "job_id": job_id,
                    "scheduled_ts": pd.Timestamp(sched_iso),
                    "status": status,
                    "message": message,
                    "output": output,
                    "graph_data": graph_records,
                }
            )

        if plan_error is not None or pdf.empty:
            # the reference's graphite-error path: no series to chart
            for job_id, _, _, sched_iso in members:
                emit(job_id, sched_iso, "error", plan_error or "no data in window", None)
            return pd.DataFrame(out)

        if len(pdf) > max_points_per_job:
            pdf = pdf.sort_values("ts").tail(max_points_per_job)
        if with_graph:
            graph = (
                pdf.sort_values(["var", "metric", "ts"])[["metric", "ts", "value"]]
                .reset_index(drop=True)
            )
            graph_records = graph.to_dict("records")
        else:
            # status-only callers (scheduler status sweep, dashboards)
            # skip building the per-point record list — at 100k points/job
            # that dict conversion + Arrow struct encode dominates the run
            graph_records = []

        has_data = pdf["value"].notna().sum() > 0
        variables: dict | None = None
        bind_error: str | None = None
        if has_data:
            try:
                variables = bind_variables(pdf)
            except Exception as e:  # noqa: BLE001
                bind_error = f"monitor_expr error: {e}"

        for job_id, expr, label, sched_iso in members:
            if not has_data:
                emit(job_id, sched_iso, "error", "no data in window", None)
            elif not expr:
                emit(job_id, sched_iso, "success", None, None)
            elif bind_error is not None:
                emit(job_id, sched_iso, "error", bind_error, None)
            else:
                try:
                    value = evaluate_expr(expr, variables)
                except Exception as e:  # noqa: BLE001 — expr error -> 'error'
                    emit(job_id, sched_iso, "error", f"monitor_expr error: {e}", None)
                    continue
                if isinstance(value, pd.DataFrame):
                    fired = bool(value.any().any())
                elif isinstance(value, pd.Series):
                    fired = bool(value.any())
                else:
                    fired = bool(value)
                if fired:
                    emit(job_id, sched_iso, "failed", f"alert: {label} ({expr})", repr(value))
                else:
                    emit(job_id, sched_iso, "success", None, repr(value))
        return pd.DataFrame(out)

    sentinels = spark.createDataFrame([(k, None, None, None, None) for k in group_info], _SENTINEL)
    union = sentinels.coalesce(1)
    for f in tagged_frames:
        union = union.unionByName(f)
    return union.groupBy("grp").applyInPandas(_eval_group, RUN_RESULT)
