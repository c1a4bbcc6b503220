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

Scale: one action, run by the caller, evaluates ALL due monitors in at
most two Spark jobs, however many targets are due. Every bare-path
target (no render function, no glob) is answered by one scan of the
metrics: the named series over the union of the targets' own windows,
each row tagged with the (window group, var) of every target whose
window holds it. Every render-function or glob target reads ONE shared
fetch: the series the due render plans may select, over the OR of their
windows (each widened by its ``timeShift`` bounds), lazily checkpointed.
A render branch reads its window of that fetch through a single
partition, which satisfies the distribution every Graphite plan asks
for, so its ``groupBy(ts)`` and ``Window.partitionBy(metric)`` plan no
exchange and the target runs inside the evaluation's first stage, not as
AQE jobs of its own; the first task to reach a block of the fetch fills
it from one metrics scan and the others read the stored copy. The render
branches are dealt into one single-partition bucket per core, because
every task deserializes the whole stage's plan, which grows with the
branch count. The buckets, the plain scan and one sentinel row per group
are unioned as a balanced tree, so Catalyst sees a single DAG, every
monitor reaches the grouped-map UDF (empty windows and bad targets
included) and the UDF runs once per window group. The action is two jobs,
the ``grp`` shuffle and the UDF; with no plain target due, every input
of the union is one partition, Spark keeps that partitioning through the
union and the evaluation is one job of one task. The caller frees the
fetch with ``release_evaluation`` after its action.

Out of scope, and next at scale: AQE coalesces the small ``grp``
shuffle (about 230 KB at 768 groups) into one partition, so the UDF
stage is one task that evaluates every group serially. Render functions
that broadcast a per-series aggregate (``highest*``, the percentile
filters) still add a broadcast job each, and render plans are built per
target, not once per shape with the target as a key.

The frame comes back lazy and uncached: the scheduler runs it once, in
the job_data write, and reads the statuses from an observation on the
same action; a caller that consumes it twice runs it twice (reading the
fetch filled by the first run) unless it caches it. Per-job input is
capped (``max_points_per_job``) before collection into the worker.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import math
import operator
import signal
import threading
from dataclasses import dataclass
from typing import Iterable, Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rearview_spark.functions.graphite import PathNode, compile_target, parse_target
from rearview_spark.monitors.schemas import RUN_RESULT
from rearview_spark.operators._util import lazy_checkpoint, release_checkpoint
from rearview_spark.operators.timeseries import (
    epoch_micros,
    glob_to_regex,
    is_glob,
    ts_lit,
    window_fetch,
)

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


def _plain_path(target: str) -> str | None:
    """The series a bare, glob-free path target names; None for a render
    function, a glob or a target that does not parse (compile_target then
    reports the error)."""
    try:
        node = parse_target(target)
    except Exception:  # noqa: BLE001 — compile_target reports it
        return None
    if isinstance(node, PathNode) and not is_glob(node.path):
        return node.path
    return None


def _in_windows(spans: Iterable[tuple]) -> Column:
    """``ts`` inside any of the ``(lo, hi)`` windows, overlapping windows
    merged: a balanced OR the parquet scan takes as a pushed filter."""
    merged: list[list] = []
    for lo, hi in sorted(set(spans)):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return _balanced(
        [F.col("ts").between(ts_lit(lo), ts_lit(hi)) for lo, hi in merged], operator.or_
    )


# path -> [(grp, var, lo, hi)], the bounds as epoch microseconds
_TAGS = "map<string, array<struct<grp: string, var: string, lo: bigint, hi: bigint>>>"


def _plain_targets(metrics: DataFrame, plain: dict[str, list[tuple]]) -> DataFrame:
    """Every bare path target's points from ONE scan: fetch the named
    series over the union of the targets' windows, then tag each row with
    the (grp, var) of every target whose window holds it. The scan keeps
    each target's own window (overlapping windows merged), so a backtest
    due beside live monitors adds its window, not the span between them.
    The tags travel as one JSON literal that Catalyst folds into a map
    from path to ``array<struct<grp, var, lo, hi>>``, so the scan stage
    does the tagging, no lookup table is shipped by a job of its own and
    building the plan costs one literal, not a few per tag. The bounds
    are epoch microseconds as ``F.lit`` converts a datetime."""
    tags = {
        path: [
            {"grp": grp, "var": var, "lo": epoch_micros(lo), "hi": epoch_micros(hi)}
            for grp, var, lo, hi in ts
        ]
        for path, ts in plain.items()
    }
    hits = F.filter(
        F.element_at(F.from_json(F.lit(json.dumps(tags)), _TAGS), F.col("metric")),
        lambda t: F.col("ts").between(F.timestamp_micros(t["lo"]), F.timestamp_micros(t["hi"])),
    )
    in_windows = _in_windows((lo, hi) for ts in plain.values() for _, _, lo, hi in ts)
    return (
        metrics.filter(in_windows & F.col("metric").isin(list(plain)))
        .select(F.explode(hits).alias("t"), "metric", "ts", "value")
        .select("t.grp", "t.var", "metric", "ts", "value")
    )


def _series_filter(plans: list) -> Column | None:
    """The metrics rows any of ``plans`` may select: exact paths as a
    pushable ``IN``, globs as one regex. None when a plan reads every
    series (a synthetic series over the frame's span) or names a pattern
    that is no glob ``select_glob`` could read."""
    exact, regexes = set(), set()
    for plan in plans:
        sources = getattr(plan, "sources", None)
        if sources is None:
            return None
        for p in sources:
            if not is_glob(p):
                exact.add(p)
                continue
            try:
                regexes.add(glob_to_regex(p))
            except ValueError:
                return None
    terms = []
    if exact:
        terms.append(F.col("metric").isin(sorted(exact)))
    if regexes:
        terms.append(F.col("metric").rlike("|".join(f"(?:{r})" for r in sorted(regexes))))
    return _balanced(terms, operator.or_) if terms else F.lit(False)


def _render_fetch(metrics: DataFrame, renders: list[tuple]) -> DataFrame:
    """ONE fetch for every render target of the tick: the series their
    plans may read over the OR of their windows (each already widened by
    its ``timeShift`` bounds), lazily checkpointed. Each render branch
    reads its own window of it through a single partition, so the first
    task to reach a block fills it from one metrics scan and the others
    read the stored copy, all inside the evaluation's first stage; the
    filters of a branch cannot be pushed below the checkpoint into a scan
    of their own."""
    fetch = metrics.filter(_in_windows((lo, hi) for _, lo, hi in renders))
    series = _series_filter([plan for plan, _, _ in renders])
    if series is not None:
        fetch = fetch.filter(series)
    return lazy_checkpoint(fetch)


def _balanced(items: list, combine):
    """Fold ``items`` with ``combine`` as a balanced tree: a left-deep
    chain of unions re-analyses a plan that grows with every branch, and
    a left-deep OR nests as deep as it has terms."""
    if len(items) == 1:
        return items[0]
    mid = len(items) // 2
    return combine(_balanced(items[:mid], combine), _balanced(items[mid:], combine))


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
    monitors at once. Only the render targets' shared fetch is kept, a
    lazy checkpoint that the first action fills, so a caller that
    consumes the frame twice evaluates twice from that fetch; the
    scheduler consumes it once, in the job_data write, with the statuses
    observed on that same action. Free the fetch with
    :func:`release_evaluation` once the last action ran.

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

    # Compile every group's targets first: the render targets' plans size
    # the one fetch they all read. key -> (start, end, targets), a target
    # being (var, text, bare path | plan | compile error, lo, hi) and a
    # group's list stopping at its first compile error.
    compiled: dict[str, tuple] = {}
    renders: list[tuple] = []  # (plan, lo, hi) of every render target
    for key, members in groups.items():
        lead = members[0]
        end = scheduled[lead.id]
        start = end - dt.timedelta(minutes=lead.minutes)
        targets = []
        for i, text in enumerate(lead.metrics):
            target = _plain_path(text)
            lo, hi = start, end
            if target is None:
                try:
                    target = compile_target(text)
                except Exception as e:  # noqa: BLE001 — bad target -> error status
                    targets.append((_var_name(i), text, e, lo, hi))
                    break
                # timeShift targets need source data OUTSIDE the render
                # window (Graphite fetches the shifted window): extend the
                # fetch by the plan's reported bounds; the transformed
                # frame is clamped back to [start, end] below.
                lo -= dt.timedelta(seconds=getattr(target, "lookback_s", 0))
                hi += dt.timedelta(seconds=getattr(target, "lookahead_s", 0))
                renders.append((target, lo, hi))
            targets.append((_var_name(i), text, target, lo, hi))
        compiled[key] = (start, end, targets)
    fetch = _render_fetch(metrics, renders) if renders else None
    # (lo, hi) -> that window of the fetch in one partition, built once:
    # one partition satisfies the distribution of every Graphite plan's
    # groupBy(ts) and Window.partitionBy(metric), so a render target plans
    # no exchange and runs inside a task of the evaluation's first stage,
    # not as AQE jobs of its own
    windows: dict[tuple, DataFrame] = {}

    render_frames = []
    # bare path -> [(grp, var, start, end)]: every glob-free path target,
    # answered by one scan in _plain_targets
    plain: dict[str, list[tuple]] = {}
    # key -> (members, target error or None)
    group_info: dict[str, tuple[list[tuple], str | None]] = {}
    for key, (start, end, targets) in compiled.items():
        frames, paths, error = [], [], None
        for var, text, target, lo, hi in targets:
            if isinstance(target, str):
                paths.append((target, (key, var, start, end)))
                continue
            if isinstance(target, Exception):
                error = f"target {text!r}: {target}"
                break
            try:
                if (lo, hi) not in windows:
                    windows[lo, hi] = window_fetch(fetch, lo, hi).coalesce(1)
                df = target(windows[lo, hi])
                if (lo, hi) != (start, end):
                    df = window_fetch(df, start, end)
            except Exception as e:  # noqa: BLE001 — bad target -> error status
                error = f"target {text!r}: {e}"
                break
            frames.append(
                df.select(F.lit(key).alias("grp"), F.lit(var).alias("var"), "metric", "ts", "value")
            )
        if error is None:
            # a group's points join the union only once ALL its targets
            # compiled; a bad later target leaves just its sentinel
            render_frames.extend(frames)
            for path, tag in paths:
                plain.setdefault(path, []).append(tag)
        group_info[key] = (
            [
                (
                    m.id,
                    m.monitor_expr,
                    m.description or m.name,
                    scheduled[m.id].isoformat(),
                )
                for m in groups[key]
            ],
            error,
        )
    # The render branches, dealt into one single-partition bucket per core
    # at most: every task of a stage deserializes the stage's whole task
    # binary, which grows with the branch count (9 MB at 768
    # movingAverage targets), so one task per branch would cost targets
    # squared.
    n_tasks = spark.sparkContext.defaultParallelism
    branches = [
        _balanced(render_frames[i::n_tasks], DataFrame.unionByName).coalesce(1)
        for i in range(min(n_tasks, len(render_frames)))
    ]
    if plain:
        branches.append(_plain_targets(metrics, plain))

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
    union = _balanced([sentinels.coalesce(1), *branches], DataFrame.unionByName)
    results = union.groupBy("grp").applyInPandas(_eval_group, RUN_RESULT)
    results._render_fetch = fetch
    return results


def release_evaluation(results: DataFrame) -> None:
    """Free the render targets' shared fetch behind a frame returned by
    :func:`evaluate_monitors`, once the caller's action on it has run.
    A no-op for an evaluation without render targets."""
    fetch = getattr(results, "_render_fetch", None)
    if fetch is not None:
        release_checkpoint(fetch)
