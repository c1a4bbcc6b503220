"""Graphite render-function semantics as native DataFrame operators.

The reference ships each monitor's target expressions verbatim to Graphite's
``/render`` endpoint and consumes the evaluated series (reference:
db/schema.rb:65,67-68; README.md:6; Gemfile.lock:162-163 — SURVEY.md §2.1).
Our engine owns its storage, so every render function the 0.9.x API exposes
is re-expressed here as a pure ``DataFrame -> DataFrame`` transform over the
canonical tall shape::

    metric: string, ts: timestamp, value: double (nullable)

Null semantics follow Graphite (SURVEY.md §5.2 / §7 hard-parts list):
nulls are *preserved* through per-point transforms (scale of null is null),
aggregating combines *skip* nulls (sum of [1, null] is 1, sum of
[null, null] is null), and point-to-point functions (derivative) null out
across gaps.

Everything here stays JVM-side (whole-stage codegen) except the
order-dependent recurrences (EMA, linear interpolation, Holt-Winters),
which are grouped-map pandas UDFs per metric — the one place Catalyst has
no primitive (SURVEY.md §4.2).

Scale notes:
- Per-series window functions shuffle once on ``metric`` and then stay
  partitioned; chains of window ops over the same (partitionBy, orderBy)
  reuse the exchange — Catalyst collapses adjacent Window nodes.
- Point-wise combines (`groupBy("ts")`) shuffle on ``ts``; at 100 TB the
  metrics table is date-partitioned so the shuffle is bounded per day.
- Percentile thresholds (G18) compute per-series scalars first and
  broadcast-join them back rather than windowing over the full fact table.
"""

from __future__ import annotations

import datetime as dt
import re
from typing import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical column names.
METRIC, TS, VALUE = "metric", "ts", "value"

epoch_micros = T.TimestampType().toInternal  # a datetime as F.lit converts it


def ts_lit(v) -> Column:
    """``v`` as a literal column. A datetime becomes a timestamp built
    from its epoch microseconds, converted as ``F.lit`` converts it:
    ``F.lit(datetime)`` constructs a ``java.sql.Timestamp`` through py4j,
    several round trips (~10 ms a literal against ~1 ms for an integer
    one). Catalyst folds the expression back into a literal, so a scan
    still takes it as a pushed filter. Anything else (a date string, a
    Column) goes through ``F.lit`` unchanged."""
    if isinstance(v, dt.datetime):
        return F.timestamp_micros(F.lit(epoch_micros(v)))
    return F.lit(v)


def _series_win():
    # built lazily: Window column construction needs an active session
    return Window.partitionBy(METRIC).orderBy(TS)


def _value(df: DataFrame, col: Column) -> DataFrame:
    """Replace the value column, preserving canonical column order."""
    return df.withColumn(VALUE, col.cast("double"))


# ---------------------------------------------------------------------------
# G1/G2/G4 — series selection & window fetch
# ---------------------------------------------------------------------------

def select_metric(ts: DataFrame, name: str) -> DataFrame:
    """G1 — exact metric-path scan. Partition-/bucket-prunable filter."""
    return ts.filter(F.col(METRIC) == F.lit(name))


def is_glob(pattern: str) -> bool:
    """Whether a metric path has any Graphite wildcard (else it names
    one series exactly)."""
    return any(ch in pattern for ch in "*?{[")


def glob_to_regex(pattern: str) -> str:
    """Translate a Graphite glob (``stats.*.cpu.{user,sys}``, ``[0-9]``)
    into an anchored Java regex. ``*`` does not cross dots (Graphite
    wildcards match one path node)."""
    out, i = [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out.append("[^.]*")
        elif c == "?":
            out.append("[^.]")
        elif c == "{":
            j = pattern.index("}", i)
            alts = pattern[i + 1 : j].split(",")
            out.append("(" + "|".join(re.escape(a) for a in alts) + ")")
            i = j
        elif c == "[":
            j = pattern.index("]", i)
            out.append(pattern[i : j + 1])
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


MAX_PUSHED_IN_LIST = 10_000


def select_glob(
    ts: DataFrame,
    pattern: str,
    metric_names: DataFrame | None = None,
    max_in_list: int = MAX_PUSHED_IN_LIST,
) -> DataFrame:
    """G2 — glob/wildcard series selection.

    With ``metric_names`` (the metric-name dimension table — thousands to
    millions of rows, a fraction of a fact partition) the glob resolves
    driver-side to an explicit IN-list, which Catalyst pushes to the
    parquet scan as an ``In`` filter — dictionary/bloom row-group skipping
    and, on the bucketed layout (sources/layout.py), bucket pruning. A
    bare ``rlike`` never pushes down, so at 100 TB the dimension-resolved
    path is the difference between scanning every row-group and touching
    only the matched series' buckets (SURVEY.md §4.2 #5).

    When the glob matches MORE than ``max_in_list`` names (a broad glob
    like ``stats.*`` over a 10⁵-series fleet), the IN-list itself becomes
    the problem — a megabyte predicate the driver must collect, serialize
    into every task, and Catalyst must constant-fold. Past the cap the
    driver collect is skipped entirely and the dimension is
    broadcast-semi-joined against the fact instead: same rows, one
    broadcast of the (deduplicated) name set, no giant literal. The
    driver-side count(1) probe on the DIMENSION (config-scale) is what
    decides the route — the fact table is never touched to choose."""
    if not is_glob(pattern):
        return select_metric(ts, pattern)
    rx = glob_to_regex(pattern)
    if metric_names is not None:
        matched = metric_names.filter(F.col(METRIC).rlike(rx)).select(METRIC).distinct()
        n = matched.limit(max_in_list + 1).count()
        if n <= max_in_list:
            names = [r[0] for r in matched.collect()]
            return ts.filter(F.col(METRIC).isin(names))
        return ts.join(F.broadcast(matched), on=METRIC, how="left_semi")
    return ts.filter(F.col(METRIC).rlike(rx))


def window_fetch(ts: DataFrame, lo, hi) -> DataFrame:
    """G4 — restrict to ``[lo, hi]`` (maps jobs.minutes/to_date,
    db/schema.rb:67-68). Pushed down to the parquet scan."""
    return ts.filter(F.col(TS).between(ts_lit(lo), ts_lit(hi)))


# ---------------------------------------------------------------------------
# G5 — point-wise combines across series
# ---------------------------------------------------------------------------

def _combine(ts: DataFrame, agg: Column, name: str) -> DataFrame:
    return (
        ts.groupBy(TS)
        .agg(agg.alias(VALUE))
        .select(F.lit(name).alias(METRIC), F.col(TS), F.col(VALUE).cast("double"))
    )


def sum_series(ts: DataFrame, name: str = "sumSeries") -> DataFrame:
    """G5 — point-wise sum across series; nulls skipped, all-null ts -> null
    (Spark ``sum`` semantics match Graphite safeSum)."""
    return _combine(ts, F.sum(VALUE), name)


def average_series(ts: DataFrame, name: str = "averageSeries") -> DataFrame:
    return _combine(ts, F.avg(VALUE), name)


def min_series(ts: DataFrame, name: str = "minSeries") -> DataFrame:
    return _combine(ts, F.min(VALUE), name)


def max_series(ts: DataFrame, name: str = "maxSeries") -> DataFrame:
    return _combine(ts, F.max(VALUE), name)


def range_of_series(ts: DataFrame, name: str = "rangeOfSeries") -> DataFrame:
    return _combine(ts, F.max(VALUE) - F.min(VALUE), name)


def count_series(ts: DataFrame, name: str = "countSeries") -> DataFrame:
    """G5 — number of series present per ts (Graphite counts series, nulls
    included: it counts the series list length). We count distinct metrics
    carrying a row at that ts."""
    return _combine(ts, F.count(METRIC).cast("double"), name)


def multiply_series(ts: DataFrame, name: str = "multiplySeries") -> DataFrame:
    """G5 — point-wise product. No product aggregate in Spark, so fold an
    ordered collect_list (sorted by metric — Graphite multiplies in
    series order). Null if any input at that ts is null (safeMul: None
    if any None). The first version composed exp(sum(log(abs))), which
    drifts an ULP on large products — visible at sf0.1 magnitudes
    (~1e11) after 4-decimal rounding against an exact-multiply oracle;
    a sorted sequential multiply is bit-reproducible in any engine with
    an ordered product. The collected list is per-ts series values —
    config-scale (one element per input series), not data-scale."""
    has_null = F.max(F.col(VALUE).isNull().cast("int")) == 1
    ordered = F.array_sort(F.collect_list(F.struct(F.col(METRIC), F.col(VALUE))))
    folded = F.aggregate(
        F.transform(ordered, lambda s: s[VALUE]),
        F.lit(1.0),
        lambda acc, v: acc * v,
    )
    prod = F.when(has_null, F.lit(None).cast("double")).otherwise(folded)
    return _combine(ts, prod, name)


def stddev_series(ts: DataFrame, name: str = "stddevSeries") -> DataFrame:
    """G5 long tail — point-wise population standard deviation across
    series (Graphite safeStdDev divides by N, not N-1)."""
    return _combine(ts, F.stddev_pop(VALUE), name)


def weighted_average(avg_ts: DataFrame, weight_ts: DataFrame, node: int,
                     name: str = "weightedAverage") -> DataFrame:
    """weightedAverage(seriesListAvg, seriesListWeight, node) — pair the
    two lists by the metric-name node, multiply point-wise, and emit
    ``sum(avg*weight) / sum(weight)`` as one series (Graphite 0.9.x:
    divideSeries(sumSeries(products), sumSeries(weights))).

    Null semantics follow safeMul/safeSum/safeDiv: a product is null if
    either side is null; sums skip nulls (null only when all inputs
    are); the ratio nulls on zero/null denominator. Pairing is a join on
    (node key, ts) — one shuffle keyed by the pair, then a ts-keyed
    combine; weights with no avg partner still count in the denominator
    (full outer pairing), as in the reference implementation."""
    key = F.element_at(F.split(F.col(METRIC), r"\."), node + 1)
    a = avg_ts.select(key.alias("_k"), F.col(TS), F.col(VALUE).alias("_a"))
    w = weight_ts.select(key.alias("_k"), F.col(TS), F.col(VALUE).alias("_w"))
    paired = a.join(w, ["_k", TS], "full_outer")
    product = F.when(
        F.col("_a").isNotNull() & F.col("_w").isNotNull(), F.col("_a") * F.col("_w")
    )
    per_ts = paired.groupBy(TS).agg(
        F.sum(product).alias("_num"), F.sum("_w").alias("_den")
    )
    val = F.when(
        F.col("_den").isNull() | (F.col("_den") == 0) | F.col("_num").isNull(), None
    ).otherwise(F.col("_num") / F.col("_den"))
    return per_ts.select(
        F.lit(name).alias(METRIC), F.col(TS), val.cast("double").alias(VALUE)
    )


def series_with_wildcards(ts: DataFrame, fn: str = "sum", *positions: int) -> DataFrame:
    """sum/averageSeriesWithWildcards(series, pos...) — drop the given
    name nodes and aggregate series that collapse to the same remaining
    name. Pure narrow map + one hash aggregate keyed on (new name, ts)."""
    parts = F.split(F.col(METRIC), r"\.")
    pos_list = [int(p) for p in positions]
    keep = F.filter(parts, lambda x, i: ~i.isin(pos_list))
    agg = {"sum": F.sum, "avg": F.avg, "average": F.avg}[fn](VALUE)
    return (
        ts.withColumn(METRIC, F.array_join(keep, "."))
        .groupBy(METRIC, TS)
        .agg(agg.alias(VALUE))
        .select(METRIC, TS, F.col(VALUE).cast("double"))
    )


def diff_series(ts: DataFrame, first_metric: str, name: str = "diffSeries") -> DataFrame:
    """G6 — ``first - sum(rest)`` point-wise. Graphite safeDiff: None inputs
    are treated as absent (0) unless *all* are None."""
    role = F.when(F.col(METRIC) == first_metric, F.col(VALUE)).otherwise(None)
    rest = F.when(F.col(METRIC) != first_metric, F.col(VALUE)).otherwise(None)
    agg = F.when(
        F.count(VALUE) == 0, F.lit(None).cast("double")
    ).otherwise(F.coalesce(F.sum(role), F.lit(0.0)) - F.coalesce(F.sum(rest), F.lit(0.0)))
    return _combine(ts, agg, name)


def divide_series(ts: DataFrame, dividend: str, divisor: str, name: str = "divideSeries") -> DataFrame:
    """G7 — point-wise ratio of two named series; null-safe, null on /0
    (Graphite safeDiv)."""
    num = F.max(F.when(F.col(METRIC) == dividend, F.col(VALUE)))
    den = F.max(F.when(F.col(METRIC) == divisor, F.col(VALUE)))
    agg = F.when(den == 0, F.lit(None).cast("double")).otherwise(num / den)
    return _combine(ts, agg, name)


def as_percent(ts: DataFrame) -> DataFrame:
    """G8 — each series as % of the per-ts total. Null when total is 0
    (Graphite safeDiv by zero -> None). Single shuffle on ts via window."""
    total = F.sum(VALUE).over(Window.partitionBy(TS))
    pct = F.when(total == 0, F.lit(None).cast("double")).otherwise(F.col(VALUE) / total * 100.0)
    return _value(ts, pct)


def percentile_of_series(ts: DataFrame, n: float, name: str | None = None) -> DataFrame:
    """G25 — point-wise exact percentile across series (linear
    interpolation, matches DuckDB quantile_cont)."""
    return _combine(
        ts, F.expr(f"percentile(value, {n / 100.0})"), name or f"percentileOfSeries_{n:g}"
    )


# ---------------------------------------------------------------------------
# G9 — scalar math per point (null in -> null out, pure codegen)
# ---------------------------------------------------------------------------

def scale(ts: DataFrame, k: float) -> DataFrame:
    return _value(ts, F.col(VALUE) * F.lit(float(k)))


def offset(ts: DataFrame, k: float) -> DataFrame:
    return _value(ts, F.col(VALUE) + F.lit(float(k)))


def absolute(ts: DataFrame) -> DataFrame:
    return _value(ts, F.abs(F.col(VALUE)))


def invert(ts: DataFrame) -> DataFrame:
    """1/x; null on 0 (Graphite safeDiv)."""
    return _value(ts, F.when(F.col(VALUE) == 0, None).otherwise(1.0 / F.col(VALUE)))


def logarithm(ts: DataFrame, base: float = 10.0) -> DataFrame:
    """log_base(x); Graphite nulls non-positive points."""
    return _value(ts, F.when(F.col(VALUE) > 0, F.log(float(base), F.col(VALUE))).otherwise(None))


def pow_(ts: DataFrame, k: float) -> DataFrame:
    return _value(ts, F.pow(F.col(VALUE), F.lit(float(k))))


def square_root(ts: DataFrame) -> DataFrame:
    return _value(ts, F.when(F.col(VALUE) >= 0, F.sqrt(F.col(VALUE))).otherwise(None))


def scale_to_seconds(ts: DataFrame, seconds: float, step_seconds: int = 60) -> DataFrame:
    """scaleToSeconds(series, N) — normalize a per-step value to a
    per-N-seconds rate (Graphite: value * N / step)."""
    return _value(ts, F.col(VALUE) * F.lit(float(seconds) / float(step_seconds)))


def offset_to_zero(ts: DataFrame) -> DataFrame:
    """offsetToZero — subtract each series' own minimum. The per-series
    min is a tiny aggregate broadcast back (same shape as the percentile
    thresholds in G18)."""
    mins = ts.groupBy(METRIC).agg(F.min(VALUE).alias("_min"))
    joined = ts.join(F.broadcast(mins), METRIC)
    return _value(joined, F.col(VALUE) - F.col("_min")).drop("_min")


def is_non_null(ts: DataFrame) -> DataFrame:
    """isNonNull — 1 where the point has data, 0 where it is null."""
    return _value(ts, F.col(VALUE).isNotNull().cast("double"))


# ---------------------------------------------------------------------------
# G10/G11 — deltas and running totals (per-series ordered windows)
# ---------------------------------------------------------------------------

def derivative(ts: DataFrame) -> DataFrame:
    """G10 — point-to-point delta; null across gaps and at the first point
    (lag of either side null -> null, exactly Graphite)."""
    return _value(ts, F.col(VALUE) - F.lag(VALUE).over(_series_win()))


def per_second(ts: DataFrame, step_seconds: int) -> DataFrame:
    """G10 — derivative divided by the series step."""
    delta = F.col(VALUE) - F.lag(VALUE).over(_series_win())
    return _value(ts, delta / F.lit(float(step_seconds)))


def non_negative_derivative(ts: DataFrame) -> DataFrame:
    """G10 — delta, with counter resets (negative deltas) nulled."""
    delta = F.col(VALUE) - F.lag(VALUE).over(_series_win())
    return _value(ts, F.when(delta >= 0, delta).otherwise(None))


def integral(ts: DataFrame) -> DataFrame:
    """G11 — running cumulative sum per series; null points contribute 0 but
    remain null in the output? Graphite: output keeps running total at
    non-null points and emits None at null points."""
    running = F.sum(VALUE).over(_series_win().rowsBetween(Window.unboundedPreceding, 0))
    return _value(ts, F.when(F.col(VALUE).isNull(), None).otherwise(running))


# ---------------------------------------------------------------------------
# G12/G13 — trailing-window statistics
# ---------------------------------------------------------------------------

def _trailing(n: int):
    return _series_win().rowsBetween(-(n - 1), 0)


def moving_average(ts: DataFrame, n: int) -> DataFrame:
    """G12 — trailing n-point mean, nulls skipped (Graphite safeAvg over
    the window; all-null window -> null)."""
    return _value(ts, F.avg(VALUE).over(_trailing(n)))


def moving_sum(ts: DataFrame, n: int) -> DataFrame:
    return _value(ts, F.sum(VALUE).over(_trailing(n)))


def moving_min(ts: DataFrame, n: int) -> DataFrame:
    return _value(ts, F.min(VALUE).over(_trailing(n)))


def moving_max(ts: DataFrame, n: int) -> DataFrame:
    return _value(ts, F.max(VALUE).over(_trailing(n)))


def moving_median(ts: DataFrame, n: int) -> DataFrame:
    """G12 — trailing exact median (percentile 0.5, linear interpolation)."""
    return _value(ts, F.expr("percentile(value, 0.5)").over(_trailing(n)))


def stdev(ts: DataFrame, n: int) -> DataFrame:
    """G13 — trailing sample stddev (Graphite uses population stddev; it
    computes sqrt(sum_sq/len - mean^2) -> population). Use stddev_pop."""
    return _value(ts, F.stddev_pop(VALUE).over(_trailing(n)))


def exponential_moving_average(ts: DataFrame, n: int) -> DataFrame:
    """G13 — EMA with alpha = 2/(n+1). Order-dependent recurrence: no
    Catalyst primitive, so grouped-map pandas UDF per metric
    (SURVEY.md §4.2 #2). Sorts within group; group size is bounded by the
    monitor window in the parity path."""
    alpha = 2.0 / (n + 1.0)
    schema = "metric string, ts timestamp, value double"

    def ema(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TS)
        pdf[VALUE] = pdf[VALUE].ewm(alpha=alpha, adjust=False).mean()
        return pdf[[METRIC, TS, VALUE]]

    return ts.select(METRIC, TS, VALUE).groupBy(METRIC).applyInPandas(ema, schema)


# ---------------------------------------------------------------------------
# G14/G15/G16 — time shifting and re-aggregation
# ---------------------------------------------------------------------------

def time_shift(ts: DataFrame, interval: str) -> DataFrame:
    """G14 — shift timestamps forward by ``interval`` (e.g. '1 day': the
    series from 1 day ago is presented at current timestamps, Graphite's
    timeShift("-1d"))."""
    return ts.withColumn(TS, F.col(TS) + F.expr(f"INTERVAL {interval}"))


def time_slice(ts: DataFrame, lo, hi) -> DataFrame:
    """G14 — null out points outside [lo, hi] (Graphite keeps the points
    but blanks values)."""
    inside = F.col(TS).between(ts_lit(lo), ts_lit(hi))
    return _value(ts, F.when(inside, F.col(VALUE)).otherwise(None))


_AGG_FNS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "avg": F.avg,
    "average": F.avg,
    "min": F.min,
    "max": F.max,
    "last": lambda c: F.last(c, ignorenulls=True),
    "count": lambda c: F.count(c).cast("double"),
}


def summarize(ts: DataFrame, interval: str, fn: str = "sum") -> DataFrame:
    """G15 — tumbling re-aggregation to a coarser step. The bucket label is
    the window *start* (Graphite buckets align to interval boundaries).

    Map-side partial aggregation applies (hash agg before shuffle), so at
    100 TB this is one bounded shuffle on (metric, bucket)."""
    agg = _AGG_FNS[fn.lower()](VALUE)
    return (
        ts.groupBy(METRIC, F.window(TS, interval).alias("w"))
        .agg(agg.alias(VALUE))
        .select(METRIC, F.col("w.start").alias(TS), F.col(VALUE).cast("double"))
    )


def hitcount(ts: DataFrame, interval: str, step_seconds: int) -> DataFrame:
    """G16 — integral per bucket: sum(value * step) — converts a rate back
    to a count of events per bucket."""
    return (
        ts.groupBy(METRIC, F.window(TS, interval).alias("w"))
        .agg((F.sum(VALUE) * F.lit(float(step_seconds))).alias(VALUE))
        .select(METRIC, F.col("w.start").alias(TS), F.col(VALUE).cast("double"))
    )


def smart_summarize(ts: DataFrame, interval_seconds: int, fn: str = "sum") -> DataFrame:
    """smartSummarize — like G15 summarize, but buckets are aligned to the
    start of the fetched range instead of wall-clock interval boundaries.
    The anchor (global min ts) is a 1-row aggregate broadcast to every
    partition; bucketing is then a pure projection + one hash aggregate —
    no second scan, no driver round trip."""
    anchor = ts.agg(F.min(TS).alias("_t0"))
    agg = {"sum": F.sum, "avg": F.avg, "average": F.avg,
           "max": F.max, "min": F.min, "last": lambda c: F.last(c, ignorenulls=True)}[fn](VALUE)
    idx = F.floor(
        (F.unix_timestamp(F.col(TS)) - F.unix_timestamp(F.col("_t0"))) / interval_seconds
    )
    bucket = F.timestamp_seconds(F.unix_timestamp(F.col("_t0")) + idx * interval_seconds)
    return (
        ts.crossJoin(F.broadcast(anchor))
        .withColumn("_b", bucket)
        .groupBy(METRIC, "_b")
        .agg(agg.alias(VALUE))
        .select(METRIC, F.col("_b").alias(TS), F.col(VALUE).cast("double"))
    )


# ---------------------------------------------------------------------------
# G17 — null handling
# ---------------------------------------------------------------------------

def transform_null(ts: DataFrame, default: float = 0.0) -> DataFrame:
    return _value(ts, F.coalesce(F.col(VALUE), F.lit(float(default))))


def keep_last_value(ts: DataFrame, limit: int | None = None) -> DataFrame:
    """G17 — last-observation-carried-forward per series. ``limit`` bounds
    how many consecutive nulls may be filled (Graphite semantics)."""
    locf = F.last(VALUE, ignorenulls=True).over(
        _series_win().rowsBetween(Window.unboundedPreceding, 0)
    )
    if limit is None:
        return _value(ts, locf)
    # Distance since last non-null: rows since the max row_number that held
    # a value. Null runs longer than `limit` stay null.
    rn = F.row_number().over(_series_win())
    last_valued_rn = F.max(F.when(F.col(VALUE).isNotNull(), rn)).over(
        _series_win().rowsBetween(Window.unboundedPreceding, 0)
    )
    gap = rn - last_valued_rn
    filled = F.when(F.col(VALUE).isNotNull(), F.col(VALUE)).when(gap <= limit, locf)
    return _value(ts, filled)


def interpolate(ts: DataFrame) -> DataFrame:
    """G17 — linear interpolation across interior null gaps (leading and
    trailing nulls stay null). Order-dependent -> pandas UDF per metric."""
    schema = "metric string, ts timestamp, value double"

    def interp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TS)
        pdf[VALUE] = pdf[VALUE].interpolate(method="linear", limit_area="inside")
        return pdf[[METRIC, TS, VALUE]]

    return ts.select(METRIC, TS, VALUE).groupBy(METRIC).applyInPandas(interp, schema)


# ---------------------------------------------------------------------------
# G18 — point filtering / clipping
# ---------------------------------------------------------------------------

def remove_above_value(ts: DataFrame, v: float) -> DataFrame:
    return _value(ts, F.when(F.col(VALUE) <= v, F.col(VALUE)).otherwise(None))


def remove_below_value(ts: DataFrame, v: float) -> DataFrame:
    return _value(ts, F.when(F.col(VALUE) >= v, F.col(VALUE)).otherwise(None))


def clamp(ts: DataFrame, lo: float | None = None, hi: float | None = None) -> DataFrame:
    col = F.col(VALUE)
    if lo is not None:
        col = F.greatest(col, F.lit(float(lo)))
    if hi is not None:
        col = F.least(col, F.lit(float(hi)))
    return _value(ts, col)


def _per_series_percentile(ts: DataFrame, n: float) -> DataFrame:
    return ts.groupBy(METRIC).agg(
        F.expr(f"percentile(value, {n / 100.0})").alias("_thresh")
    )


def remove_above_percentile(ts: DataFrame, n: float) -> DataFrame:
    """G18 — null points above each series' own nth percentile. The
    per-series threshold is a tiny aggregate broadcast back (no windowed
    percentile over the fact table)."""
    th = _per_series_percentile(ts, n)
    joined = ts.join(F.broadcast(th), METRIC)
    return _value(joined, F.when(F.col(VALUE) <= F.col("_thresh"), F.col(VALUE)).otherwise(None)).drop(
        "_thresh"
    )


def remove_below_percentile(ts: DataFrame, n: float) -> DataFrame:
    th = _per_series_percentile(ts, n)
    joined = ts.join(F.broadcast(th), METRIC)
    return _value(joined, F.when(F.col(VALUE) >= F.col("_thresh"), F.col(VALUE)).otherwise(None)).drop(
        "_thresh"
    )


def n_percentile(ts: DataFrame, n: float) -> DataFrame:
    """nPercentile — flatten each series to its own nth-percentile value
    (exact, linear interpolation). Same broadcast-threshold shape as the
    G18 percentile filters."""
    th = _per_series_percentile(ts, n)
    return _value(ts.join(F.broadcast(th), METRIC), F.col("_thresh")).drop("_thresh")


def average_outside_percentile(ts: DataFrame, n: float) -> DataFrame:
    """averageOutsidePercentile — keep series whose average lies outside
    the [n, 100-n] percentile band of all series' averages. The band is a
    1-row aggregate over the (tiny) per-series means, broadcast back."""
    lo_p, hi_p = min(n, 100 - n) / 100.0, max(n, 100 - n) / 100.0
    avgs = ts.groupBy(METRIC).agg(F.avg(VALUE).alias("_avg"))
    band = avgs.agg(
        F.expr(f"percentile(_avg, {lo_p})").alias("_lo"),
        F.expr(f"percentile(_avg, {hi_p})").alias("_hi"),
    )
    keep = (
        avgs.crossJoin(F.broadcast(band))
        .filter((F.col("_avg") < F.col("_lo")) | (F.col("_avg") > F.col("_hi")))
        .select(METRIC)
    )
    return ts.join(F.broadcast(keep), METRIC, "left_semi")


def remove_between_percentile(ts: DataFrame, n: float) -> DataFrame:
    """removeBetweenPercentile — keep series with at least one point
    outside the per-timestamp [n, 100-n] percentile band across series.
    Band per ts is one hash aggregate; the escape test is a semi-join on
    metric — the fact table shuffles once on ts, never sorts globally."""
    lo_p, hi_p = min(n, 100 - n) / 100.0, max(n, 100 - n) / 100.0
    band = ts.groupBy(TS).agg(
        F.expr(f"percentile(value, {lo_p})").alias("_lo"),
        F.expr(f"percentile(value, {hi_p})").alias("_hi"),
    )
    escapes = (
        ts.join(band, TS)
        .filter((F.col(VALUE) < F.col("_lo")) | (F.col(VALUE) > F.col("_hi")))
        .select(METRIC)
        .distinct()
    )
    return ts.join(F.broadcast(escapes), METRIC, "left_semi")


def most_deviant(ts: DataFrame, n: int) -> DataFrame:
    """mostDeviant — keep the n series with the largest population
    variance (Graphite's "square of the standard deviation", nulls
    ignored). Top-k on the tiny per-series aggregate, broadcast semi-join
    back — the fact table is never sorted."""
    stats = ts.groupBy(METRIC).agg(F.var_pop(VALUE).alias("_stat"))
    top = stats.orderBy(F.col("_stat").desc_nulls_last(), METRIC).limit(n)
    return ts.join(F.broadcast(top.select(METRIC)), METRIC, "left_semi")


# ---------------------------------------------------------------------------
# G19/G20/G21 — series-level filtering and top-k
# ---------------------------------------------------------------------------

_SERIES_STATS: dict[str, Callable[[str], Column]] = {
    "average": F.avg,
    "max": F.max,
    "min": F.min,
    "sum": F.sum,
    "current": lambda c: F.last(c, ignorenulls=True),
    "total": F.sum,
}


def _series_stat(ts: DataFrame, stat: str) -> DataFrame:
    """Per-series scalar. 'current' needs order -> max_by(ts); others are
    plain aggregates with map-side combine."""
    if stat == "current":
        agg = F.expr("max_by(value, ts) FILTER (WHERE value IS NOT NULL)")
    else:
        agg = _SERIES_STATS[stat](VALUE)
    return ts.groupBy(METRIC).agg(agg.alias("_stat"))


def highest(ts: DataFrame, n: int, stat: str = "average") -> DataFrame:
    """G19 — keep the n series with the highest per-series ``stat``.
    Top-k on the (small) per-series aggregate, then broadcast semi-join
    back to the points — the fact table is never globally sorted."""
    stats = _series_stat(ts, stat)
    top = stats.orderBy(F.col("_stat").desc_nulls_last(), METRIC).limit(n)
    return ts.join(F.broadcast(top.select(METRIC)), METRIC, "left_semi")


def lowest(ts: DataFrame, n: int, stat: str = "average") -> DataFrame:
    stats = _series_stat(ts, stat)
    bottom = stats.orderBy(F.col("_stat").asc_nulls_last(), METRIC).limit(n)
    return ts.join(F.broadcast(bottom.select(METRIC)), METRIC, "left_semi")


def filter_series(ts: DataFrame, stat: str, op: str, threshold: float) -> DataFrame:
    """G20 — averageAbove/maximumBelow/currentAbove/... family: keep series
    whose per-series ``stat`` passes ``op threshold``."""
    stats = _series_stat(ts, stat)
    ops = {">": "_stat > {0}", ">=": "_stat >= {0}", "<": "_stat < {0}", "<=": "_stat <= {0}"}
    keep = stats.filter(ops[op].format(float(threshold)))
    return ts.join(F.broadcast(keep.select(METRIC)), METRIC, "left_semi")


def limit_series(ts: DataFrame, n: int) -> DataFrame:
    """G21 — first n series by name."""
    names = ts.select(METRIC).distinct().orderBy(METRIC).limit(n)
    return ts.join(F.broadcast(names), METRIC, "left_semi")


def sort_by(ts: DataFrame, stat: str = "total", descending: bool = True) -> DataFrame:
    """G22 — order series for display by a per-series aggregate (display
    concern; returns points ordered by (stat, metric, ts))."""
    stats = _series_stat(ts, stat)
    joined = ts.join(F.broadcast(stats), METRIC)
    order = F.col("_stat").desc_nulls_last() if descending else F.col("_stat").asc_nulls_last()
    return joined.orderBy(order, METRIC, TS).drop("_stat")


# ---------------------------------------------------------------------------
# G23/G24 — name-based filtering and renaming
# ---------------------------------------------------------------------------

def exclude(ts: DataFrame, pattern: str) -> DataFrame:
    return ts.filter(~F.col(METRIC).rlike(pattern))


def grep(ts: DataFrame, pattern: str) -> DataFrame:
    return ts.filter(F.col(METRIC).rlike(pattern))


def alias_series(ts: DataFrame, name: str) -> DataFrame:
    return ts.withColumn(METRIC, F.lit(name))


def alias_by_node(ts: DataFrame, *nodes: int) -> DataFrame:
    """G24 — rename each series to the dot-path node(s) at the given
    0-based indexes."""
    parts = F.split(F.col(METRIC), r"\.")
    pieces = [F.element_at(parts, i + 1) for i in nodes]
    return ts.withColumn(METRIC, F.concat_ws(".", *pieces))


def alias_sub(ts: DataFrame, pattern: str, replacement: str) -> DataFrame:
    return ts.withColumn(METRIC, F.regexp_replace(METRIC, pattern, replacement))


# ---------------------------------------------------------------------------
# G27/G28 — synthetic series, grouping by path node
# ---------------------------------------------------------------------------

def alias_by_metric(ts: DataFrame) -> DataFrame:
    """aliasByMetric — rename each series to its last name node."""
    return ts.withColumn(METRIC, F.element_at(F.split(F.col(METRIC), r"\."), -1))


def substr_series(ts: DataFrame, start: int = 0, stop: int = 0) -> DataFrame:
    """substr(series, start, stop) — slice the dotted name to nodes
    [start, stop) (0-based; stop=0 means through the end), Graphite's
    name-trimming primitive. Pure projection."""
    parts = F.split(F.col(METRIC), r"\.")
    if stop == 0:
        sliced = F.slice(parts, start + 1, F.size(parts) - start)
    else:
        sliced = F.slice(parts, start + 1, F.lit(stop - start))
    return ts.withColumn(METRIC, F.array_join(sliced, "."))


def constant_line(spark, v: float, lo, hi, step_seconds: int, name: str | None = None) -> DataFrame:
    """G27 — synthetic constant series over [lo, hi) at a fixed step."""
    name = name or f"constantLine({v:g})"
    return (
        spark.range(0, 1)
        .select(
            F.explode(
                F.sequence(
                    ts_lit(lo).cast("timestamp"),
                    ts_lit(hi).cast("timestamp"),
                    F.expr(f"INTERVAL {step_seconds} SECONDS"),
                )
            ).alias(TS)
        )
        .select(F.lit(name).alias(METRIC), TS, F.lit(float(v)).alias(VALUE))
    )


def time_function(spark, lo, hi, step_seconds: int, name: str = "timeFunction") -> DataFrame:
    """G27 — series whose value is the epoch timestamp of each point."""
    base = constant_line(spark, 0.0, lo, hi, step_seconds, name)
    return _value(base, F.unix_timestamp(TS).cast("double"))


def constant_line_over(ts: DataFrame, v: float, step_seconds: int = 60, name: str | None = None) -> DataFrame:
    """G27 — constantLine for the target compiler, where the render window
    is implicit: spans the input frame's [min(ts), max(ts)] at a fixed
    step. Bounds stay a 1-row DataFrame (no driver collect); the grid is
    generated executor-side with sequence+explode."""
    name = name or f"constantLine({v:g})"
    bounds = ts.agg(F.min(TS).alias("_lo"), F.max(TS).alias("_hi"))
    return (
        bounds.filter(F.col("_lo").isNotNull())
        .select(
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {step_seconds} SECONDS"))
            ).alias(TS)
        )
        .select(F.lit(name).alias(METRIC), TS, F.lit(float(v)).alias(VALUE))
    )


def time_function_over(ts: DataFrame, step_seconds: int = 60, name: str = "timeFunction") -> DataFrame:
    """G27 — timeFunction over the input frame's implicit window."""
    base = constant_line_over(ts, 0.0, step_seconds, name)
    return _value(base, F.unix_timestamp(TS).cast("double"))


def _sin_values(base: DataFrame, amplitude: float) -> DataFrame:
    """``amplitude * sin(epoch_seconds)`` over a synthetic grid frame —
    shared by the explicit-window and window-implicit (_over) forms so
    the two can never diverge."""
    return _value(base, F.lit(float(amplitude)) * F.sin(F.unix_timestamp(TS).cast("double")))


def _random_walk_values(base: DataFrame, name: str, seed: str) -> DataFrame:
    """Deterministic random-walk values over a synthetic grid frame:
    step at time t = md5(name:seed:t) mapped to [-0.5, 0.5), cumulative
    window sum per series (the ``integral`` prefix-scan discipline,
    G11; a display source renders at most a few thousand points).
    Shared by both forms — the hash keying IS the determinism contract,
    so it must exist exactly once."""
    step_hash = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(name), F.lit(seed), F.unix_timestamp(TS).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    step = step_hash / F.lit(float(1 << 60)) - F.lit(0.5)
    w = Window.partitionBy(METRIC).orderBy(TS).rowsBetween(Window.unboundedPreceding, 0)
    return _value(base.withColumn("_step", step), F.sum("_step").over(w)).drop("_step")


def sin_function(
    spark, lo, hi, step_seconds: int, amplitude: float = 1.0, name: str = "sinFunction"
) -> DataFrame:
    """G27 family — Graphite 0.9.x ``sinFunction(name, amplitude)`` test
    source: ``amplitude * sin(epoch_seconds)`` on the render grid.
    Synthetic display source for dashboard smoke tests, same contract as
    :func:`time_function`."""
    return _sin_values(constant_line(spark, 0.0, lo, hi, step_seconds, name), amplitude)


def random_walk_function(
    spark, lo, hi, step_seconds: int, name: str = "randomWalkFunction", seed: str = ""
) -> DataFrame:
    """G27 family — Graphite 0.9.x ``randomWalkFunction(name)`` test
    source: a walk whose steps are uniform in [-0.5, 0.5). Deliberate
    deviation from the reference: Graphite draws ``random.random()`` per
    point (different data every render); here the step at time t is
    derived from md5(name:seed:t), so a given (name, seed, window) renders
    the SAME walk on every call and on every executor — reruns, retries,
    and test assertions agree. Pass a new ``seed`` for a fresh walk."""
    return _random_walk_values(
        constant_line(spark, 0.0, lo, hi, step_seconds, name), name, seed
    )


def sin_function_over(
    ts: DataFrame, amplitude: float = 1.0, step_seconds: int = 60, name: str = "sinFunction"
) -> DataFrame:
    """:func:`sin_function` over the input frame's implicit window (the
    target-compiler form, like :func:`constant_line_over`)."""
    return _sin_values(constant_line_over(ts, 0.0, step_seconds, name), amplitude)


def random_walk_function_over(
    ts: DataFrame, step_seconds: int = 60, name: str = "randomWalkFunction", seed: str = ""
) -> DataFrame:
    """:func:`random_walk_function` over the input frame's implicit window."""
    return _random_walk_values(
        constant_line_over(ts, 0.0, step_seconds, name), name, seed
    )


def group(*series: DataFrame) -> DataFrame:
    """G28 — merge target lists (plain union; no dedup, Graphite keeps all)."""
    out = series[0]
    for s in series[1:]:
        out = out.unionByName(s)
    return out


def group_by_node(ts: DataFrame, node: int, fn: str = "sum") -> DataFrame:
    """G28 — aggregate series grouped by one dot-path node."""
    key = F.element_at(F.split(F.col(METRIC), r"\."), node + 1)
    agg = _AGG_FNS[fn.lower()](VALUE)
    return (
        ts.groupBy(key.alias(METRIC), F.col(TS))
        .agg(agg.alias(VALUE))
        .select(METRIC, TS, F.col(VALUE).cast("double"))
    )


# ---------------------------------------------------------------------------
# G26 — Holt-Winters (order-dependent seasonal recurrence -> pandas UDF)
# ---------------------------------------------------------------------------

def holt_winters_forecast(
    ts: DataFrame,
    season_points: int,
    alpha: float = 0.1,
    beta: float = 0.0035,
    gamma: float = 0.1,
) -> DataFrame:
    """G26 — additive triple-exponential-smoothing forecast, the same
    recurrence Graphite 0.9 implements (functions.py holtWintersAnalysis,
    public source). Emitted per point: the one-step-ahead forecast.

    Pure-pandas recurrence per series inside applyInPandas; bounded by the
    monitor window in the parity path. Flagged 'hard' in SURVEY.md §7."""
    schema = "metric string, ts timestamp, value double"

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TS).reset_index(drop=True)
        vals = pdf[VALUE].astype(float).tolist()
        m = season_points
        n = len(vals)
        forecasts = [None] * n
        if n >= 2:
            level = vals[0] if vals[0] is not None and vals[0] == vals[0] else 0.0
            trend = 0.0
            seasonal = [0.0] * m
            for i in range(n):
                x = vals[i]
                forecasts[i] = level + trend + seasonal[i % m]
                if x is None or x != x:  # null: carry state forward
                    continue
                last_level = level
                level = alpha * (x - seasonal[i % m]) + (1 - alpha) * (level + trend)
                trend = beta * (level - last_level) + (1 - beta) * trend
                seasonal[i % m] = gamma * (x - level) + (1 - gamma) * seasonal[i % m]
        pdf[VALUE] = pd.Series(forecasts, dtype="float64")
        return pdf[[METRIC, TS, VALUE]]

    return ts.select(METRIC, TS, VALUE).groupBy(METRIC).applyInPandas(hw, schema)


def holt_winters_confidence_bands(
    ts: DataFrame, season_points: int, delta: float = 3.0
) -> DataFrame:
    """G26 — upper/lower confidence band series around the Holt-Winters
    forecast: forecast ± delta * running stddev of residuals (the same
    band the aberration operator measures against). Emits two series per
    input metric, named holtWintersConfidenceUpper(m) / ...Lower(m) —
    Graphite 0.9's output shape for this function."""
    fc = holt_winters_forecast(ts, season_points).withColumnRenamed(VALUE, "_fc")
    joined = ts.join(fc, [METRIC, TS])
    resid = F.col(VALUE) - F.col("_fc")
    band = F.stddev_pop(resid).over(_series_win().rowsBetween(Window.unboundedPreceding, 0)) * delta
    with_band = joined.select(METRIC, TS, F.col("_fc"), band.alias("_band"))
    upper = with_band.select(
        F.concat(F.lit("holtWintersConfidenceUpper("), METRIC, F.lit(")")).alias(METRIC),
        TS,
        (F.col("_fc") + F.col("_band")).alias(VALUE),
    )
    lower = with_band.select(
        F.concat(F.lit("holtWintersConfidenceLower("), METRIC, F.lit(")")).alias(METRIC),
        TS,
        (F.col("_fc") - F.col("_band")).alias(VALUE),
    )
    return upper.unionByName(lower)


def holt_winters_aberration(ts: DataFrame, season_points: int, delta: float = 3.0) -> DataFrame:
    """G26 — deviation of the observed value outside the confidence band
    around the Holt-Winters forecast (simplified constant-width band =
    delta * running stddev of residuals)."""
    fc = holt_winters_forecast(ts, season_points).withColumnRenamed(VALUE, "_fc")
    joined = ts.join(fc, [METRIC, TS])
    resid = F.col(VALUE) - F.col("_fc")
    band = F.stddev_pop(resid).over(_series_win().rowsBetween(Window.unboundedPreceding, 0)) * delta
    ab = (
        F.when(resid > band, resid - band)
        .when(resid < -band, resid + band)
        .otherwise(F.lit(0.0))
    )
    return _value(joined, ab).drop("_fc")


# ---------------------------------------------------------------------------
# Resample/align (SURVEY.md §4.2 #3) — raw events -> fixed-step series
# ---------------------------------------------------------------------------

def resample(
    ts: DataFrame,
    step: str,
    fn: str = "avg",
    fill: float | None = None,
    densify: bool = False,
) -> DataFrame:
    """Regularize an irregular series to a fixed step: tumbling-window
    aggregate + optional constant fill for empty buckets. Composition of
    summarize (G15) + transformNull (G17).

    ``densify=True`` reproduces Graphite's fixed-step alignment exactly:
    buckets with no points appear as explicit (null or ``fill``) rows.
    The per-metric grid is built from each series' own [min, max] bucket
    range with ``sequence``+``explode`` (rows generated executor-side,
    ~8 bytes/point — no driver materialization), then right-joined back.
    The grid side is tiny relative to the fact scan, and both sides share
    the (metric) partitioning, so at 100 TB this adds one map-side
    explode + one shuffle-free-able join per metric partition."""
    out = summarize(ts, step, fn)
    if densify:
        bounds = out.groupBy(METRIC).agg(
            F.min(TS).alias("_lo"), F.max(TS).alias("_hi")
        )
        grid = bounds.select(
            METRIC,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {step}"))
            ).alias(TS),
        )
        out = grid.join(out, [METRIC, TS], "left")
    if fill is not None:
        out = transform_null(out, fill)
    return out


# ---------------------------------------------------------------------------
# LTTB downsampling (dashboard decimation)
# ---------------------------------------------------------------------------

def lttb_downsample(ts: DataFrame, threshold: int) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) to
    at most ``threshold`` points per series — the standard dashboard
    decimation: a 2M-point series renders as ~1k points that keep every
    visually significant spike, where naive bucketing (summarize/avg)
    flattens them. This is the engine-side answer to Graphite's
    ``maxDataPoints`` render parameter.

    Algorithm per series (nulls dropped first — LTTB selects drawable
    points): first and last points are always kept; the middle n-2
    points split into threshold-2 equal buckets via integer arithmetic
    (bucket j = indices [1 + j*(n-2)//(t-2), 1 + (j+1)*(n-2)//(t-2)));
    from each bucket, select the point forming the largest triangle with
    the PREVIOUSLY selected point and the NEXT bucket's average point.
    The selection chain is inherently sequential, so it runs as one
    grouped-pandas pass per series (EMA/CUSUM discipline: parallel
    across series, linear within one). Deterministic: integer bucket
    bounds, double triangle areas, ties -> leftmost point (argmax first
    occurrence).

    Series with <= threshold points (or threshold < 3) pass through
    unchanged.

    The x coordinate is the point RANK, not wall-clock time: for the
    regular (resampled) series this operator consumes, rank is an affine
    map of time and triangle areas scale uniformly, so the selection is
    identical — and rank-x makes the geometry engine-exact (integer
    coordinates; bucket means of integers are bit-identical across
    numpy/SQL), which is what lets a DuckDB oracle replay the selection
    bit-for-bit when the y values are integer-valued too."""
    import numpy as np
    import pandas as pd

    def _lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        # (ts, value) sort: same-timestamp rows would otherwise arrive in
        # shuffle order and perturb the bucket geometry run-to-run
        pdf = (
            pdf.dropna(subset=[VALUE])
            .sort_values([TS, VALUE])
            .reset_index(drop=True)
        )
        n = len(pdf)
        t = threshold
        if t < 3 or n <= t:
            return pdf[[METRIC, TS, VALUE]]
        x = np.arange(n, dtype="float64")
        y = pdf[VALUE].to_numpy(dtype="float64")
        keep = [0]
        a = 0
        nb = t - 2
        for j in range(nb):
            lo = 1 + (j * (n - 2)) // nb
            hi = 1 + ((j + 1) * (n - 2)) // nb
            nxt_lo, nxt_hi = hi, (1 + ((j + 2) * (n - 2)) // nb if j + 1 < nb else n)
            cx = x[nxt_lo:nxt_hi].mean()
            cy = y[nxt_lo:nxt_hi].mean()
            ax, ay = x[a], y[a]
            px, py = x[lo:hi], y[lo:hi]
            area = np.abs((ax - cx) * (py - ay) - (ax - px) * (ay - cy))
            a = lo + int(np.argmax(area))
            keep.append(a)
        keep.append(n - 1)
        return pdf.iloc[keep][[METRIC, TS, VALUE]]

    schema = "metric string, ts timestamp, value double"
    return ts.select(METRIC, TS, VALUE).groupBy(METRIC).applyInPandas(_lttb, schema)


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (additive): value = trend + seasonal + resid
# ---------------------------------------------------------------------------

def seasonal_decompose(
    ts: DataFrame,
    period: int = 24,
    phase: Column | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition of a regular series
    (the moving-average method of Persons 1919, the `decompose()` of
    every stats package): ``value = trend + seasonal + residual``.
    Graphite never had this; it rounds out the G-layer's anomaly
    toolkit (MAD, CUSUM, Holt-Winters) with the standard exploratory
    decomposition.

    * ``trend`` — centered moving average. Even ``period`` m uses the
      textbook 2xm form (half-weight endpoints over m+1 rows); odd m a
      plain m-row centered mean. Null until a full window exists — no
      partial-window fabrication at series edges.
    * ``seasonal`` — per-(metric, phase) mean of the DETRENDED series,
      centered by subtracting the per-metric overall detrended mean
      (weighted form, so the identity below holds on ragged edges too).
      ``phase`` defaults to hour-of-day (the natural phase for
      period=24 over hourly buckets); pass any deterministic Column
      for other periods.
    * ``residual`` — ``value - trend - seasonal``; null where trend is.

    Cross-engine determinism: trend is REPORTED AND CONSUMED at 4dp
    fixed-point — the raw sliding-window sum carries engine-specific
    accumulation drift well beyond ulp noise (Spark accumulates the
    sliding frame incrementally; DuckDB recomputes — measured flips at
    the 1e-4 grid on real data), so value and trend are both quantized
    to the 4dp grid FIRST and the detrended units ``(v4 - t4) * 1e4``
    are then exact int64s (the plans/_exact.py int_sum discipline,
    inlined — operators don't import plans). The seasonal index is
    therefore bit-identical across engines given equal 4dp inputs,
    which is precisely what the gate's value hash checks.

    Scale shape: one window pass (narrow, per-metric ordering the
    metrics layout already buckets), one phase-sized aggregate, one
    per-metric aggregate, two small joins — the seasonal-index tables
    are (n_metrics x period) rows, broadcastable at any corpus size.
    """
    ph = phase if phase is not None else F.hour(F.col(TS))
    h = period // 2
    ws = Window.partitionBy(METRIC).orderBy(TS)
    wr = ws.rowsBetween(-h, h)
    cnt = F.count(VALUE).over(wr)
    if period % 2 == 0:
        tot = F.sum(VALUE).over(wr)
        ends = F.lag(VALUE, h).over(ws) + F.lead(VALUE, h).over(ws)
        trend = F.when(cnt == period + 1, (tot - 0.5 * ends) / period)
    else:
        trend = F.when(cnt == period, F.avg(VALUE).over(wr))
    base = ts.select(
        METRIC,
        TS,
        VALUE,
        F.round(trend + F.lit(5e-8), 4).alias("trend"),
        ph.alias("_phase"),
    )
    v4 = F.round(F.col(VALUE) + F.lit(5e-8), 4)
    detr_units = F.round((v4 - F.col("trend")) * 1e4).cast("long")
    stats = (
        base.filter(F.col("trend").isNotNull())
        .groupBy(METRIC, "_phase")
        .agg(F.sum(detr_units).alias("_si"), F.count("*").alias("_ni"))
    )
    overall = stats.groupBy(METRIC).agg(
        F.sum("_si").alias("_s"), F.sum("_ni").alias("_n")
    )
    seas = stats.join(overall, METRIC).select(
        METRIC,
        "_phase",
        (
            F.col("_si") / (F.lit(1e4) * F.col("_ni"))
            - F.col("_s") / (F.lit(1e4) * F.col("_n"))
        ).alias("_seasonal"),
    )
    return base.join(seas, [METRIC, "_phase"], "left").select(
        METRIC,
        TS,
        F.col(VALUE),
        F.col("trend"),
        F.col("_seasonal").alias("seasonal"),
        (F.col(VALUE) - F.col("trend") - F.col("_seasonal")).alias("residual"),
    )


def ohlc_bars(ts: DataFrame, step: str = "6 hours") -> DataFrame:
    """Open/high/low/close bars per (metric, time bucket) — the
    candlestick aggregation every market/metrics dashboard wants and
    Graphite approximates with four separate summarize() calls; here
    it is ONE hash aggregate (map-side partial) over the series.

    Determinism with duplicate timestamps: open/close are taken via
    min/max over ``struct(ts, value)`` (lexicographic), so a bucket
    with two points at the same instant still resolves identically on
    every engine and retry — the oracle mirrors with
    ``ORDER BY ts, value`` array heads. Plan shape: ONE exchange with
    map-side partial aggregation (struct min/max makes Spark pick
    SortAggregate over HashAggregate — a per-partition sort on the
    group key, NOT a window or per-bucket shuffle; partials still
    shrink the shuffle to bucket cardinality)."""
    bucket = F.window(F.col(TS), step).getField("start").alias(TS)
    pair = F.struct(F.col(TS), F.col(VALUE))
    return (
        ts.groupBy(F.col(METRIC), bucket)
        .agg(
            F.min(pair).getField(VALUE).alias("open"),
            F.max(VALUE).alias("high"),
            F.min(VALUE).alias("low"),
            F.max(pair).getField(VALUE).alias("close"),
            F.count(VALUE).alias("n_points"),
        )
    )


def linear_trend(ts: DataFrame, y_scale: int = 10000) -> DataFrame:
    """Per-metric ordinary-least-squares trend line: ``slope`` (value
    units per hour) and ``intercept`` (value at the series' first
    hour) from the closed-form normal equations — the "is this metric
    drifting" primitive under every capacity-planning dashboard, and
    the regression counterpart to the G26 Holt-Winters smoother.

    Integer-exact cross-engine (the plans/_exact.py discipline, taken
    all the way): x is WHOLE HOURS SINCE THE SERIES' FIRST POINT
    (int64), y is quantized to ``1/y_scale`` units (int64), so n, Sx,
    Sy, Sxx, Sxy are all exact integer sums — immune to aggregation
    order — and slope/intercept are double divisions of identical
    integers on both engines. Overflow headroom: |Sxy| <=
    n * x_max * y_max * y_scale; at 10^4 scale that holds to ~10^5
    points x ~10^5-hour spans x ~10^4 magnitudes (fits int64 with two
    orders to spare at gate scale; lower ``y_scale`` for larger spans).

    Output: ``(metric, n_points, slope, intercept)`` unrounded —
    callers round. Series with one point (or zero x-variance) get null
    slope/intercept rather than a fabricated line."""
    # floor, not cast-truncation: they differ for pre-1970 timestamps
    # (epoch -1800 / 3600 truncates to 0 but floors to -1) and the
    # oracle mirrors floor()
    hours = F.floor(F.unix_timestamp(F.col(TS)) / F.lit(3600)).cast("long")
    yq = F.round(F.col(VALUE) * F.lit(float(y_scale))).cast("long")
    base = ts.filter(F.col(VALUE).isNotNull()).select(
        F.col(METRIC), hours.alias("_h"), yq.alias("_y")
    )
    x0 = Window.partitionBy(METRIC)
    xs = base.withColumn("_x", F.col("_h") - F.min("_h").over(x0))
    agg = xs.groupBy(METRIC).agg(
        F.count("*").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        det * F.lit(float(y_scale))
    )
    intercept = (F.col("sxx") * F.col("sy") - F.col("sx") * F.col("sxy")) / (
        det * F.lit(float(y_scale))
    )
    guard = det > 0
    return agg.select(
        METRIC,
        F.col("n").alias("n_points"),
        F.when(guard, slope).alias("slope"),
        F.when(guard, intercept).alias("intercept"),
    )


def autocorrelation(
    ts: DataFrame, lags: tuple[int, ...] = (1, 24), y_scale: int = 100
) -> DataFrame:
    """Per-metric autocorrelation at hour ``lags`` — Pearson r between
    the series and itself shifted k hours, the seasonality-detection
    primitive (a strong acf at lag 24 says "daily cycle"; the number a
    monitor would use to pick its Holt-Winters period G26 or rollup
    grain).

    Lag alignment is a TIME join, not a row offset: partner rows pair
    on ``hour + k`` per metric, so grid gaps pair nothing instead of
    silently pairing across a hole the way ``lead(value, k)`` over row
    order would. Same integer-exact discipline as :func:`linear_trend`:
    y quantized to ``1/y_scale`` units (int64), all six sufficient
    statistics (n, Sa, Sb, Saa, Sbb, Sab) exact integer sums immune to
    aggregation order, and the final r one double expression over
    identical integers on both engines — sqrt applied to each variance
    determinant SEPARATELY so nothing multiplies past int64 (overflow
    headroom: n * Saa <= n^2 * (y_scale*|y|max)^2 must fit int64 —
    ~100x over gate scale at y_scale=100; lower y_scale or move the
    stats to decimal(38,0) for larger spans, same plan shape).

    Shuffle shape: one (metric, hour) equi-join (the lagged copies ride
    the same hash partitioning) + one (metric, lag) hash aggregate with
    map-side partials; no windows, no global sort. Series with zero
    variance on either leg get null acf (guard > 0), not NaN."""
    hours = F.floor(F.unix_timestamp(F.col(TS)) / F.lit(3600)).cast("long")
    yq = F.round(F.col(VALUE) * F.lit(float(y_scale))).cast("long")
    base = ts.filter(F.col(VALUE).isNotNull()).select(
        F.col(METRIC), hours.alias("_h"), yq.alias("_y")
    )
    lag_arr = F.array(*[F.lit(int(k)) for k in lags])
    lagged = base.select(
        F.col(METRIC),
        F.explode(lag_arr).alias("lag"),
        F.col("_h").alias("_hb"),
        F.col("_y").alias("_yb"),
    ).withColumn("_h", F.col("_hb") - F.col("lag"))
    pairs = base.join(lagged.drop("_hb"), [METRIC, "_h"]).select(
        F.col(METRIC), "lag", F.col("_y").alias("_ya"), "_yb"
    )
    agg = pairs.groupBy(METRIC, "lag").agg(
        F.count("*").alias("n"),
        F.sum("_ya").alias("sa"),
        F.sum("_yb").alias("sb"),
        F.sum(F.col("_ya") * F.col("_ya")).alias("saa"),
        F.sum(F.col("_yb") * F.col("_yb")).alias("sbb"),
        F.sum(F.col("_ya") * F.col("_yb")).alias("sab"),
    )
    deta = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    detb = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    acf = num / (F.sqrt(deta.cast("double")) * F.sqrt(detb.cast("double")))
    return agg.select(
        METRIC,
        "lag",
        F.col("n").alias("n_pairs"),
        F.when((deta > 0) & (detb > 0), acf).alias("acf"),
    )


def cross_correlation(
    ts: DataFrame,
    metric_x: str,
    metric_y: str,
    lags: tuple[int, ...] = (-24, -1, 0, 1, 24),
    y_scale: int = 100,
) -> DataFrame:
    """Cross-correlation between two metrics at hour ``lags`` — Pearson
    r between series X at hour h and series Y at hour h+k, the
    "does X lead Y" diagnostic (clicks leading purchases shows up as a
    positive-lag peak). Negative lags test Y leading X.

    Same construction as :func:`autocorrelation` — time-join alignment
    (grid gaps pair nothing), 1/``y_scale``-quantized int64 sufficient
    statistics immune to aggregation order, per-determinant sqrt so
    nothing leaves int64 — with the self-join replaced by an X x Y
    join on (hour + lag). Returns ``(lag, n_pairs, ccf)``; zero
    variance on either leg gives null ccf. ccf(k) here equals
    corr(x_h, y_{h+k}) exactly, so ccf at lag 0 between a series and
    itself is 1."""
    hours = F.floor(F.unix_timestamp(F.col(TS)) / F.lit(3600)).cast("long")
    yq = F.round(F.col(VALUE) * F.lit(float(y_scale))).cast("long")
    base = ts.filter(F.col(VALUE).isNotNull()).select(
        F.col(METRIC), hours.alias("_h"), yq.alias("_y")
    )
    xs = base.filter(F.col(METRIC) == metric_x).select("_h", F.col("_y").alias("_ya"))
    lag_arr = F.array(*[F.lit(int(k)) for k in lags])
    ys = (
        base.filter(F.col(METRIC) == metric_y)
        .select(F.explode(lag_arr).alias("lag"), "_h", F.col("_y").alias("_yb"))
        .withColumn("_h", F.col("_h") - F.col("lag"))
    )
    pairs = xs.join(ys, "_h").select("lag", "_ya", "_yb")
    agg = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("_ya").alias("sa"),
        F.sum("_yb").alias("sb"),
        F.sum(F.col("_ya") * F.col("_ya")).alias("saa"),
        F.sum(F.col("_yb") * F.col("_yb")).alias("sbb"),
        F.sum(F.col("_ya") * F.col("_yb")).alias("sab"),
    )
    deta = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    detb = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    ccf = num / (F.sqrt(deta.cast("double")) * F.sqrt(detb.cast("double")))
    return agg.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.when((deta > 0) & (detb > 0), ccf).alias("ccf"),
    )


def m4_downsample(ts: DataFrame, step: str = "6 hours") -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    (series, time bucket) keep exactly the four value-preserving points
    a pixel column needs — first, last, min, max — then dedup the roles
    a single point fills. The error-free companion to
    :func:`lttb_downsample`: min/max spikes are preserved exactly where
    LTTB's triangle heuristic may drop them.

    Scale shape: ONE map-side-partial aggregation keyed on (metric,
    bucket) — the four selections are struct min/max, so the shuffle
    carries ≤ 4 candidate points per key, never the series. Role dedup
    happens INSIDE the aggregated row (``array_distinct`` before the
    explode) — a point belongs to exactly one bucket, so no global
    distinct (and no second shuffle) is needed. Determinism: timestamps
    are unique within a series, and value ties break earliest-ts for
    min (struct ordering ``(value, ts)`` ascending) / latest-ts for max
    (descending) — mirrored verbatim in the gate oracle."""
    agg = ts.groupBy(METRIC, F.window(TS, step).alias("_w")).agg(
        F.min(F.struct(TS, VALUE)).alias("_first"),
        F.max(F.struct(TS, VALUE)).alias("_last"),
        F.min(F.struct(VALUE, TS)).alias("_minv"),
        F.max(F.struct(VALUE, TS)).alias("_maxv"),
    )
    pt = lambda t, v: F.struct(t.alias(TS), v.alias(VALUE))  # noqa: E731
    return agg.select(
        METRIC,
        F.explode(
            F.array_distinct(
                F.array(
                    pt(F.col("_first." + TS), F.col("_first." + VALUE)),
                    pt(F.col("_last." + TS), F.col("_last." + VALUE)),
                    pt(F.col("_minv." + TS), F.col("_minv." + VALUE)),
                    pt(F.col("_maxv." + TS), F.col("_maxv." + VALUE)),
                )
            )
        ).alias("_p"),
    ).select(METRIC, F.col("_p." + TS).alias(TS), F.col("_p." + VALUE).alias(VALUE))


def theil_sen_trend(df: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Theil–Sen robust trend per series: the MEDIAN of all pairwise
    slopes (and the paired median intercept) — the estimator that
    shrugs off the outliers OLS (:func:`linear_trend`) chases, standard
    for monitoring data with spikes.

    Input: ``(metric, t long, v long)`` — integer time index and
    integer-quantized values (the caller picks the grids). All math is
    INTEGER, bit-identical across engines: slopes are fixed-point
    ``floor(Δv·scale / Δt)`` where floor-division is built portably as
    ``(a - pmod(a, b)) div b`` (pmod makes the numerator exactly
    divisible, so truncating and flooring division agree — Spark's
    ``div`` and DuckDB's ``//`` differ on negative operands otherwise);
    the median is the LOWER median (rank ``(n+1) div 2``), so even
    counts never average two values into a float. ``t`` is re-indexed
    to each series' start before pairing, bounding ``slope·t`` far
    inside int64.

    Scale shape: the pairwise self-join is metric-keyed (one shuffle)
    and quadratic ONLY in points-per-series — Theil–Sen is a
    render/report-window estimator (n in the tens to hundreds), not a
    raw-corpus scan; feed it a summarized series. The median windows
    are partitioned by metric, never global. Output: ``(metric,
    n_points, n_pairs, slope_units, intercept_units)`` with units =
    value-grid / t-grid · scale."""

    def fdiv(a: Column, b: Column) -> Column:
        return F.call_function("div", a - F.pmod(a, b), b)

    def lower_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(METRIC).orderBy(col)
        wn = Window.partitionBy(METRIC)
        return (
            frame.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(wn))
            .filter(F.col("_rn") == F.call_function("div", F.col("_n") + 1, F.lit(2)))
            .select(METRIC, F.col(col).alias(out), F.col("_n"))
        )

    t0 = df.groupBy(METRIC).agg(F.min("t").alias("_t0"), F.count("*").alias("_np"))
    z = df.join(t0, METRIC).select(
        METRIC, (F.col("t") - F.col("_t0")).alias("t"), "v", "_np"
    )
    a = z.select(METRIC, F.col("t").alias("_t1"), F.col("v").alias("_v1"), "_np")
    b = z.select(METRIC, F.col("t").alias("_t2"), F.col("v").alias("_v2"))
    pairs = a.join(b, METRIC).filter(F.col("_t2") > F.col("_t1"))
    slopes = pairs.select(
        METRIC,
        "_np",
        fdiv(
            (F.col("_v2") - F.col("_v1")) * F.lit(scale),
            F.col("_t2") - F.col("_t1"),
        ).alias("_su"),
    )
    slope = lower_median(slopes.select(METRIC, "_su"), "_su", "slope_units").select(
        METRIC, "slope_units", F.col("_n").alias("n_pairs")
    )
    resid = z.join(slope, METRIC).select(
        METRIC,
        "_np",
        (F.col("v") * F.lit(scale) - F.col("slope_units") * F.col("t")).alias("_iu"),
    )
    icept = lower_median(resid.select(METRIC, "_iu"), "_iu", "intercept_units").select(
        METRIC, "intercept_units"
    )
    return (
        slope.join(icept, METRIC)
        .join(t0.select(METRIC, F.col("_np").alias("n_points")), METRIC)
        .select(METRIC, "n_points", "n_pairs", "slope_units", "intercept_units")
    )


def ema_crossover(
    ts: DataFrame,
    fast_n: int = 3,
    slow_n: int = 10,
    decimals: int = 4,
) -> DataFrame:
    """Moving-average crossover signals — the classic trend-change
    alert rule (a "golden cross" when the fast EMA rises through the
    slow one, a "death cross" when it falls through): the stock
    monitor expression the reference's users write over two smoothed
    copies of the same series, packaged as one operator.

    Both EMAs are ROUNDED (nudged, ``decimals`` places — the repo's
    cross-engine float edge) BEFORE the sign comparison: the flag is
    then a comparison of identical bit patterns in any engine, and
    sub-1e-4 wiggles around equality don't flap alerts (rounding is
    part of the operator's semantics here, not just presentation).
    A cross requires an actual SIDE CHANGE: the comparison is against
    the last NON-ZERO diff, so a touch of equality followed by a
    return to the same side never signals (prev <= 0 would re-fire
    'golden' on every 0 -> positive wiggle of a series that never went
    below — phantom alerts with no intervening death), and a series'
    first departure from equality has no prior side, so it does not
    signal either.

    Scale shape: two grouped-pandas EMA passes (the G13 recurrence —
    parallel across metrics, linear within one), one (metric, ts)
    equi-join sharing the metric partitioning, one metric-partitioned
    lag window. Returns ONLY crossover rows:
    ``(metric, ts, fast, slow, cross)`` with cross in
    {'golden', 'death'}.
    """
    if not (
        isinstance(fast_n, int)
        and isinstance(slow_n, int)
        and 1 <= fast_n < slow_n
    ):
        raise ValueError(
            "ema_crossover: need integer 1 <= fast_n < slow_n "
            f"(got {fast_n!r}, {slow_n!r})"
        )
    nudge = 0.5 * 10 ** -(decimals + 3)

    def _r(c):
        return F.round(c + F.lit(nudge), decimals)

    fast = exponential_moving_average(ts, fast_n).select(
        METRIC, TS, _r(F.col(VALUE)).alias("fast")
    )
    slow = exponential_moving_average(ts, slow_n).select(
        METRIC, TS, _r(F.col(VALUE)).alias("slow")
    )
    j = fast.join(slow, [METRIC, TS])
    w = (
        Window.partitionBy(METRIC)
        .orderBy(TS)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    diff = F.col("fast") - F.col("slow")
    prev_nz = F.last(F.when(diff != 0, diff), ignorenulls=True).over(w)
    cross = (
        F.when((prev_nz < 0) & (diff > 0), F.lit("golden"))
        .when((prev_nz > 0) & (diff < 0), F.lit("death"))
    )
    return (
        j.withColumn("cross", cross)
        .filter(F.col("cross").isNotNull())
        .select(METRIC, TS, "fast", "slow", "cross")
        .orderBy(METRIC, TS)
    )


def spark_half_up_round(arr, decimals: int, nudge: float = 0.0):
    """Vectorized Spark-``Round`` semantics over a float64 array:
    HALF_UP on each double's shortest-decimal repr (what Spark's
    ``Round`` computes via ``BigDecimal.valueOf``), NOT numpy's binary
    half-even — a raw value within ~1 ulp of a boundary would
    otherwise round differently across the Python/JVM paths and (in
    the EMA-crossover recurrence) flip a diff sign (ADVICE r14).

    Vectorized with a boundary-band fallback (ADVICE r15 low): plain
    ``np.round`` (rint(v*10^d)/10^d, each step correctly rounded)
    equals the Decimal result whenever the scaled value sits clear of
    a half-integer tie, so the interpreter-speed per-element Decimal
    loop runs ONLY for values within 1e-3 scaled units of a boundary.
    Band arithmetic: for |scaled| < 2^40 the combined error between
    the computed ``v * 10^d`` and the shortest-repr decimal's scaled
    value is under 2 * ulp(2^40)/2 = 2^-12 ~ 2.4e-4 < 1e-3, so
    outside the band both paths land on the same grid point (and
    ``scaled - floor(scaled)`` is exact by Sterbenz, so the band test
    itself is reliable); |v| >= 1e20 doubles are integers (>= 2^52),
    already ON the 10^-d grid — identity (the previous all-Decimal
    loop would in fact have raised InvalidOperation past ~28 digits
    there); everything else — the tie band plus the 2^40..1e20
    magnitude gap — takes the exact Decimal path. Non-finite values
    pass through unchanged, as Spark's Round does (np.round already
    propagates inf/nan).

    ``nudge`` is added BEFORE rounding (the caller's published-float
    nudge contract); the equivalence test drives this helper against
    the pure-Decimal reference over adversarial boundary values
    (tests/test_streaming.py::test_spark_half_up_round_matches_decimal).
    """
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal(1).scaleb(-decimals)
    v = np.asarray(arr, dtype="float64") + nudge
    out = np.round(v, decimals)
    finite = np.isfinite(v)
    scaled = v * (10.0 ** decimals)
    with np.errstate(invalid="ignore"):
        frac = scaled - np.floor(scaled)
    huge = finite & (np.abs(v) >= 1e20)
    fast = finite & (np.abs(scaled) < 2.0**40) & (np.abs(frac - 0.5) > 1e-3)
    out[huge] = v[huge]
    for i in np.nonzero(finite & ~fast & ~huge)[0]:
        out[i] = float(
            Decimal(repr(float(v[i]))).quantize(
                quantum, rounding=ROUND_HALF_UP
            )
        )
    return out


def ema_crossover_foreach_batch(
    spark,
    state_dir: str,
    fast_n: int = 3,
    slow_n: int = 10,
    decimals: int = 4,
):
    """:func:`ema_crossover` as a ``foreachBatch`` recurrence — the
    standing-query form a crossover ALERT inherently is (VERDICT_r13
    next-round #5): per metric the carried state is the pair of raw
    (unrounded) EMA values plus the last non-zero rounded diff, so each
    micro-batch continues both recurrences exactly where the previous
    one stopped and the emitted crossover rows are identical to one
    batch pass over the union (the stream_psi_drift batch-equality
    discipline — micro-batching is a delivery choice).

    Unlike the count-merge recurrences (CM/HLL/PSI/KS) this state is
    SEQUENTIAL, not addition-mergeable, so the contract requires
    micro-batches to be TIME-ORDERED slices per metric (every row in
    batch *k* at or after every batch *k−1* row of the same metric) —
    exactly what an event-time-ordered source with watermarking
    delivers; out-of-order delivery needs an upstream buffer stage.
    Exactness: the continued EMA is bit-identical to the
    uninterrupted pandas ``ewm(adjust=False)`` recurrence because the
    carried float64 seed re-enters the identical op sequence (seeding
    is done by PREPENDING the carried value as the synthetic first
    observation, which the recurrence then treats exactly as its own
    previous step); rounding + crossover detection mirror the batch
    operator op-for-op on the rounded domain. Rounding here is
    ``Decimal(repr(x)) HALF_UP`` — the same semantics as Spark's
    ``Round`` (HALF_UP on ``BigDecimal.valueOf``'s shortest-decimal
    repr of the double), NOT numpy's binary half-even: a raw EMA
    value within ~1 ulp of a 4dp boundary would otherwise round
    differently in the two paths and flip a diff sign (ADVICE r14).

    State/retry contract: per batch the state rows live under
    ``<state_dir>/state/batch=<id>`` and the emitted crossovers under
    ``<state_dir>/out/batch=<id>``; a batch reads its PREDECESSOR's
    state and overwrites its own dirs, so a retried batch recomputes
    from the same seed and never double-emits (the sketch-store
    batch-dir convention). Metrics absent from a batch carry their
    state forward untouched (the cogroup sees either-side keys).

    Scale shape: one cogrouped-pandas pass per batch — parallel across
    metrics, linear within one metric's batch slice (the G13 EMA
    shape); state is metric-domain sized (4 scalars per metric).
    Batch frames must carry ``(metric, ts, value)``.
    """
    if not (
        isinstance(fast_n, int)
        and isinstance(slow_n, int)
        and 1 <= fast_n < slow_n
    ):
        raise ValueError(
            "ema_crossover_foreach_batch: need integer 1 <= fast_n < slow_n "
            f"(got {fast_n!r}, {slow_n!r})"
        )
    import numpy as np

    from rearview_spark.operators.sketch import _latest_batch_dir

    alpha_f = 2.0 / (fast_n + 1.0)
    alpha_s = 2.0 / (slow_n + 1.0)
    nudge = 0.5 * 10 ** -(decimals + 3)

    def _round_like_spark(arr):
        return spark_half_up_round(arr, decimals, nudge=nudge)
    state_schema = (
        "metric string, ema_fast double, ema_slow double, prev_nz double"
    )
    # one unified cogroup output, split by `kind` afterwards ('out' rows
    # are crossovers, 'state' rows the per-metric carry)
    uni_schema = (
        "metric string, kind string, ts timestamp, fast double, "
        "slow double, cross string, prev_nz double"
    )

    def _continue_ewm(values, alpha, seed):
        s = pd.Series(
            values if seed is None else np.concatenate(([seed], values))
        )
        out = s.ewm(alpha=alpha, adjust=False).mean().to_numpy()
        return out if seed is None else out[1:]

    def _step(batch_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        metric = (
            batch_pdf[METRIC].iloc[0]
            if len(batch_pdf)
            else state_pdf["metric"].iloc[0]
        )
        seed_f = seed_s = prev_nz = None
        if len(state_pdf):
            seed_f = float(state_pdf["ema_fast"].iloc[0])
            seed_s = float(state_pdf["ema_slow"].iloc[0])
            pn = state_pdf["prev_nz"].iloc[0]
            prev_nz = None if pd.isna(pn) else float(pn)
        if not len(batch_pdf):
            # metric silent this batch: carry state forward untouched
            return pd.DataFrame(
                {
                    "metric": [metric],
                    "kind": ["state"],
                    "ts": [pd.NaT],
                    "fast": [seed_f],
                    "slow": [seed_s],
                    "cross": [None],
                    "prev_nz": [prev_nz],
                }
            )
        b = batch_pdf.sort_values(TS)
        vals = b[VALUE].to_numpy(dtype="float64")
        raw_f = _continue_ewm(vals, alpha_f, seed_f)
        raw_s = _continue_ewm(vals, alpha_s, seed_s)
        fast_r = _round_like_spark(raw_f)
        slow_r = _round_like_spark(raw_s)
        diff = fast_r - slow_r
        rows = {
            "metric": [],
            "kind": [],
            "ts": [],
            "fast": [],
            "slow": [],
            "cross": [],
            "prev_nz": [],
        }
        prev = prev_nz
        for ts_val, f_v, s_v, d_v in zip(b[TS], fast_r, slow_r, diff):
            cross = None
            if prev is not None and prev < 0 and d_v > 0:
                cross = "golden"
            elif prev is not None and prev > 0 and d_v < 0:
                cross = "death"
            if cross is not None:
                rows["metric"].append(metric)
                rows["kind"].append("out")
                rows["ts"].append(ts_val)
                rows["fast"].append(f_v)
                rows["slow"].append(s_v)
                rows["cross"].append(cross)
                rows["prev_nz"].append(None)
            if d_v != 0:
                prev = float(d_v)
        rows["metric"].append(metric)
        rows["kind"].append("state")
        rows["ts"].append(pd.NaT)
        rows["fast"].append(float(raw_f[-1]))
        rows["slow"].append(float(raw_s[-1]))
        rows["cross"].append(None)
        rows["prev_nz"].append(prev)
        return pd.DataFrame(rows)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        root = state_dir.rstrip("/")
        prev = _latest_batch_dir(spark, f"{root}/state", below=batch_id)
        if prev is not None:
            st = spark.read.parquet(prev)
        else:
            st = spark.createDataFrame([], state_schema)
        uni = (
            batch_df.select(METRIC, TS, VALUE)
            .groupBy(METRIC)
            .cogroup(st.groupBy("metric"))
            .applyInPandas(_step, uni_schema)
            .localCheckpoint(eager=True)
        )
        uni.filter(F.col("kind") == "state").select(
            METRIC,
            F.col("fast").alias("ema_fast"),
            F.col("slow").alias("ema_slow"),
            "prev_nz",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/state/batch={batch_id}"
        )
        uni.filter(F.col("kind") == "out").select(
            METRIC, TS, "fast", "slow", "cross"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/out/batch={batch_id}"
        )

    return _process


def forecast_accuracy(
    actual: DataFrame,
    predicted: DataFrame,
    err_scale: int = 10**4,
) -> DataFrame:
    """Forecast-accuracy scorer — MAE / RMSE / bias per metric for any
    (metric, ts, value) prediction frame against the actuals frame
    (Hyndman & Koehler 2006's point-forecast basics): the evaluation
    half of the G26 Holt-Winters family, usable against HW output, the
    seasonal-naive baseline (``time_shift`` by one season), or any
    external model's scores written back as a table.

    Exactness (the classifier-evaluation discipline applied to
    regression): inputs are expected on the repo's 4dp rounded-value
    contract, each per-point error quantizes to 1/``err_scale`` int64
    units (``round(err * err_scale)`` — exact for 4dp operands at the
    default), and MAE/bias are ONE division of the exact unit sums;
    RMSE is ``sqrt`` of one division of the exact squared-unit sum
    (fixed double tree, mirrored op-for-op). Aggregation order cannot
    perturb any of it.

    Only (metric, ts) pairs present in BOTH frames score (inner join —
    a model is not penalized for points it never claimed); n carries
    the matched count so a dashboard can spot sparse coverage. Scale
    shape: one equi-join on (metric, ts) sharing the metric hash
    partitioning, one metric-domain aggregate. Returns
    ``(metric, n, mae, rmse, bias)`` ordered by metric.
    """
    if not isinstance(err_scale, int) or err_scale < 1:
        raise ValueError(
            f"forecast_accuracy: err_scale must be a positive int (got {err_scale!r})"
        )
    a = actual.select(METRIC, TS, F.col(VALUE).alias("_a"))
    p = predicted.select(METRIC, TS, F.col(VALUE).alias("_p"))
    j = a.join(p, [METRIC, TS])
    err_u = F.round(
        (F.col("_p") - F.col("_a")) * F.lit(float(err_scale))
    ).cast("long")
    return (
        j.select(METRIC, err_u.alias("_e"))
        .groupBy(METRIC)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.abs(F.col("_e"))).alias("_sae"),
            F.sum(F.col("_e") * F.col("_e")).alias("_sse"),
            F.sum("_e").alias("_se"),
        )
        .select(
            METRIC,
            "n",
            (
                F.col("_sae").cast("double")
                / (F.col("n").cast("double") * F.lit(float(err_scale)))
            ).alias("mae"),
            (
                F.sqrt(F.col("_sse").cast("double") / F.col("n").cast("double"))
                / F.lit(float(err_scale))
            ).alias("rmse"),
            (
                F.col("_se").cast("double")
                / (F.col("n").cast("double") * F.lit(float(err_scale)))
            ).alias("bias"),
        )
        .orderBy(METRIC)
    )


def series_gap_audit(
    ts: DataFrame,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Missing-data audit per metric — the collection-health read run
    before any rolling/seasonal operator is trusted: against the
    metric's own closed ``[first, last]`` bucket range, how many
    buckets are missing and how long the worst outage ran.

    Exactness: buckets are integer ``div`` arithmetic (negative-epoch
    guard — the slo_burn rule), expected count is the closed form
    ``hi - lo + 1`` (never materialized), observed is an exact
    distinct count, and the longest gap is ``max(next - cur - 1)``
    over consecutive OBSERVED buckets via a metric-partitioned lead —
    the window walks the observed-bucket domain (grid-bounded), never
    raw rows. Returns ``(metric, n_expected, n_observed, n_missing,
    longest_gap, coverage)`` ordered by metric; coverage is ONE
    division; longest_gap is 0 for gap-free series.
    """
    if not isinstance(bucket_seconds, int) or bucket_seconds < 1:
        raise ValueError(
            "series_gap_audit: bucket_seconds must be a positive int "
            f"(got {bucket_seconds!r})"
        )
    t_raw = F.col(TS).cast("long")
    t_checked = F.when(t_raw >= 0, t_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit("series_gap_audit: negative epoch timestamp "),
                F.coalesce(t_raw.cast("string"), F.lit("NULL")),
            )
        ).cast("long")
    )
    ob = (
        ts.select(F.col(METRIC), t_checked.alias("_t"))
        .select(METRIC, F.expr(f"_t div {bucket_seconds}").alias("b"))
        .distinct()
    )
    w = Window.partitionBy(METRIC).orderBy("b")
    gaps = ob.withColumn("_next", F.lead("b").over(w)).withColumn(
        "_gap",
        F.when(
            F.col("_next").isNotNull(), F.col("_next") - F.col("b") - F.lit(1)
        ).otherwise(F.lit(0)),
    )
    return (
        gaps.groupBy(METRIC)
        .agg(
            (F.max("b") - F.min("b") + F.lit(1)).cast("long").alias("n_expected"),
            F.count(F.lit(1)).cast("long").alias("n_observed"),
            F.max("_gap").cast("long").alias("longest_gap"),
        )
        .select(
            METRIC,
            "n_expected",
            "n_observed",
            (F.col("n_expected") - F.col("n_observed")).alias("n_missing"),
            "longest_gap",
            (
                F.col("n_observed").cast("double")
                / F.col("n_expected").cast("double")
            ).alias("coverage"),
        )
        .orderBy(METRIC)
    )


def metric_staleness(
    ts: DataFrame,
    bucket_seconds: int = 3600,
    threshold_buckets: int = 3,
) -> DataFrame:
    """Staleness monitor — the collection-side sibling of
    :func:`series_gap_audit` (that one audits history; this one asks
    "which series have STOPPED reporting right now"): per metric, the
    last-seen bucket, its lag behind the frame's global newest bucket
    (the stream's event-time "now" — no wall clock, so the operator is
    replayable and oracle-checkable), and a stale flag when the lag
    exceeds ``threshold_buckets``.

    Exactness: buckets are integer ``div`` arithmetic with the
    negative-epoch guard; last-seen and the global max are exact
    comparisons; lag is integer subtraction, the flag one integer
    comparison. Scale shape: one hash collapse to the metric domain
    (map-side max partials), one broadcast one-row max join. Returns
    ``(metric, last_seen_bucket, lag_buckets, stale)`` ordered by
    metric.
    """
    if not isinstance(bucket_seconds, int) or bucket_seconds < 1:
        raise ValueError(
            "metric_staleness: bucket_seconds must be a positive int "
            f"(got {bucket_seconds!r})"
        )
    if not isinstance(threshold_buckets, int) or threshold_buckets < 0:
        raise ValueError(
            "metric_staleness: threshold_buckets must be >= 0 "
            f"(got {threshold_buckets!r})"
        )
    t_raw = F.col(TS).cast("long")
    t_checked = F.when(t_raw >= 0, t_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit("metric_staleness: negative epoch timestamp "),
                F.coalesce(t_raw.cast("string"), F.lit("NULL")),
            )
        ).cast("long")
    )
    last = (
        ts.select(F.col(METRIC), t_checked.alias("_t"))
        .select(METRIC, F.expr(f"_t div {bucket_seconds}").alias("b"))
        .groupBy(METRIC)
        .agg(F.max("b").alias("last_seen_bucket"))
    )
    return staleness_from_last_seen(last, threshold_buckets)


def staleness_from_last_seen(
    last: DataFrame, threshold_buckets: int = 3
) -> DataFrame:
    """Staleness flags from a ``(metric, last_seen_bucket)`` frame —
    identical arithmetic whether the frame came from one
    :func:`metric_staleness` pass or a streamed max-merge (duplicate
    metrics re-collapse by MAX first, so merging is a pure union —
    the mix_from_user_buckets discipline with max in place of set
    union)."""
    last = last.groupBy(METRIC).agg(
        F.max("last_seen_bucket").alias("last_seen_bucket")
    )
    now = last.agg(F.max("last_seen_bucket").alias("_now"))
    return (
        last.crossJoin(F.broadcast(now))
        .select(
            METRIC,
            F.col("last_seen_bucket").cast("long").alias("last_seen_bucket"),
            (F.col("_now") - F.col("last_seen_bucket"))
            .cast("long")
            .alias("lag_buckets"),
            (
                (F.col("_now") - F.col("last_seen_bucket"))
                > F.lit(threshold_buckets)
            ).alias("stale"),
        )
        .orderBy(METRIC)
    )


def staleness_foreach_batch(spark, state_dir: str):
    """Per-metric last-seen bucket as a ``foreachBatch`` recurrence —
    the MAX-merge member of the streaming state family (counts ADD,
    activity sets UNION, last-seen takes MAX — all three commutative;
    max is idempotent too, so a retried batch is doubly harmless like
    the set union). Each micro-batch's per-metric max merges into the
    previous persisted state under a ``batch=<id>`` subdir; the
    staleness read off the final state through
    :func:`staleness_from_last_seen` is bit-identical to one batch
    pass, sharing the batch gate's FULL value oracle.

    State size = the metric domain (one bigint per metric) — the
    smallest state in the family. Batch frames must carry
    ``(metric, b)``."""
    from rearview_spark.operators.sketch import _latest_batch_dir

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cur = batch_df.groupBy(METRIC).agg(
            F.max("b").alias("last_seen_bucket")
        )
        prev = _latest_batch_dir(spark, state_dir, below=batch_id)
        if prev is not None:
            cur = (
                cur.unionByName(spark.read.parquet(prev))
                .groupBy(METRIC)
                .agg(F.max("last_seen_bucket").alias("last_seen_bucket"))
            )
        cur.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir.rstrip('/')}/batch={batch_id}"
        )

    return _process
