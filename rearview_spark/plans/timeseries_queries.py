"""G-layer (Graphite render semantics, SURVEY.md §2.1) exercised over the
driver's `events` table, each paired with a DuckDB oracle.

`events(event_id, ts, user_id, event_type, value, props)` maps onto the
canonical tall timeseries as metric=event_type (loader.events_as_timeseries).
Raw events are irregular, so most queries first regularize with
``resample``/``summarize`` (G15) to hourly buckets — exactly the shape the
reference consumed from Graphite (fixed-step series, README.md:6) — then
apply the operator under test. Rounding to 4 decimals happens once, at the
end, on both sides.

Non-SQL-expressible ops (pandas-UDF recurrences) still get value-level
oracles: a closed form where one exists (EMA: the unrolled recurrence as
a window sum), a positional oracle (interpolate), and a recursive CTE
that replays the recurrence step-for-step (Holt-Winters) — so even the
"hard" operators are hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rearview_spark.operators import timeseries as G
from rearview_spark.plans._exact import exact_avg, r4
from rearview_spark.sources.loader import Tables, events_as_timeseries

R = 4

# Shared CTE prefix: hourly sum per event_type — the regularized series.
HOURLY_CTE = """
WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts, sum(value) AS value
  FROM events GROUP BY 1, 2
)
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = events_as_timeseries(Tables(spark, sf_dir).events)
    return G.summarize(series, "1 hour", "sum")


def _rounded(df: DataFrame) -> DataFrame:
    return df.select("metric", "ts", r4(F.col("value")).alias("value"))


# --- G15 summarize -----------------------------------------------------------

# ts_hourly_summarize was retired to unit-only coverage mid-r16 (the
# HOURLY_CTE identity every hourly-input gate re-executes as stage 1),
# but it was also a BENCH line since round 1, and the optimization-round
# bench contract forbids removing or renaming bench queries — so it is
# RESTORED verbatim (code identical to its r15 driver-green state);
# ts_daily_stats stays on the bench as an ADDED line, which the contract
# allows.


def ts_hourly_summarize(spark, sf_dir):
    return _rounded(_hourly(spark, sf_dir))


TS_HOURLY_SQL = HOURLY_CTE + "SELECT metric, ts, round(value + 0.00000005, 4) AS value FROM hourly"


def ts_daily_stats(spark, sf_dir):
    """G15 with multiple agg fns at a coarser step (1 day, avg/max/min/count)."""
    series = events_as_timeseries(Tables(spark, sf_dir).events)
    return (
        series.groupBy("metric", F.window("ts", "1 day").alias("w"))
        .agg(
            r4(exact_avg(F.col("value"), 100)).alias("avg_value"),
            r4(F.max("value")).alias("max_value"),
            r4(F.min("value")).alias("min_value"),
            F.count("value").alias("n_points"),
        )
        .select("metric", F.col("w.start").alias("ts"), "avg_value", "max_value", "min_value", "n_points")
    )


TS_DAILY_SQL = """
SELECT event_type AS metric, date_trunc('day', ts) AS ts,
       round(sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 / count(value) + 0.00000005, 4) AS avg_value,
       round(max(value) + 0.00000005, 4) AS max_value,
       round(min(value) + 0.00000005, 4) AS min_value,
       count(value) AS n_points
FROM events GROUP BY 1, 2
"""


# --- G5 point-wise combines --------------------------------------------------

def ts_combine_series(spark, sf_dir):
    """G5 — sum/avg/min/max/range/count across series per ts, one pass."""
    hourly = _hourly(spark, sf_dir)
    return (
        hourly.groupBy("ts")
        .agg(
            r4(F.sum("value")).alias("sum_value"),
            r4(F.avg("value")).alias("avg_value"),
            r4(F.min("value")).alias("min_value"),
            r4(F.max("value")).alias("max_value"),
            r4(F.max("value") - F.min("value")).alias("range_value"),
            F.count("metric").alias("n_series"),
        )
    )


TS_COMBINE_SQL = HOURLY_CTE + """
SELECT ts,
       round(sum(value) + 0.00000005, 4) AS sum_value,
       round(avg(value) + 0.00000005, 4) AS avg_value,
       round(min(value) + 0.00000005, 4) AS min_value,
       round(max(value) + 0.00000005, 4) AS max_value,
       round(max(value) - min(value) + 0.00000005, 4) AS range_value,
       count(metric) AS n_series
FROM hourly GROUP BY ts
"""


def ts_multiply_series(spark, sf_dir):
    """G5 multiplySeries — ordered collect-and-fold product (operator);
    oracle uses DuckDB's ordered product(). The hourly inputs are
    QUANTIZED to 4 decimals at the stage boundary before multiplying
    (the engines' hourly sums agree only to an ULP — parallel partial
    sums add in different orders — and a multi-way product amplifies
    that past the output rounding), and pre-scaled to O(1) magnitude:
    above ~1e9 the 4th decimal sits BELOW the double ULP, where two
    engines' round() land on different neighboring doubles no matter
    how exact the product is. Quantized O(1) inputs -> bit-identical
    ordered folds -> representable rounding (_exact.py's rule)."""
    scaled = _rounded(G.scale(_hourly(spark, sf_dir), 0.01))
    return _rounded(G.multiply_series(scaled).withColumn("metric", F.lit("multiplySeries")))


TS_MULTIPLY_SQL = HOURLY_CTE + """
SELECT 'multiplySeries' AS metric, ts,
       round(product(round(value * 0.01 + 0.00000005, 4) ORDER BY metric) + 0.00000005, 4) AS value
FROM hourly GROUP BY ts
"""


def ts_percentile_of_series(spark, sf_dir):
    """G25 — point-wise exact p75 across series."""
    return _rounded(G.percentile_of_series(_hourly(spark, sf_dir), 75.0, name="p75"))


TS_PCTL_SQL = HOURLY_CTE + """
SELECT 'p75' AS metric, ts, round(quantile_cont(value, 0.75) + 0.00000005, 4) AS value
FROM hourly GROUP BY ts
"""


# --- G6/G7/G8 — diff, ratio, percent-of-total -------------------------------

def ts_diff_series(spark, sf_dir):
    return _rounded(G.diff_series(_hourly(spark, sf_dir), "click", name="diffSeries"))


TS_DIFF_SQL = HOURLY_CTE + """
SELECT 'diffSeries' AS metric, ts,
       round(coalesce(sum(CASE WHEN metric = 'click' THEN value END), 0)
           - coalesce(sum(CASE WHEN metric <> 'click' THEN value END), 0) + 0.00000005, 4) AS value
FROM hourly GROUP BY ts
"""


def ts_divide_series(spark, sf_dir):
    return _rounded(G.divide_series(_hourly(spark, sf_dir), "error", "click", name="error_per_click"))


TS_DIVIDE_SQL = HOURLY_CTE + """
SELECT 'error_per_click' AS metric, ts,
       round(CASE WHEN max(CASE WHEN metric = 'click' THEN value END) = 0 THEN NULL
             ELSE max(CASE WHEN metric = 'error' THEN value END)
                  / max(CASE WHEN metric = 'click' THEN value END) END + 0.00000005, 4) AS value
FROM hourly GROUP BY ts
"""


def ts_as_percent(spark, sf_dir):
    return _rounded(G.as_percent(_hourly(spark, sf_dir)))


TS_ASPCT_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(CASE WHEN sum(value) OVER (PARTITION BY ts) = 0 THEN NULL
             ELSE value / sum(value) OVER (PARTITION BY ts) * 100.0 END + 0.00000005, 4) AS value
FROM hourly
"""


# --- G9 scalar math ----------------------------------------------------------

def ts_scalar_math(spark, sf_dir):
    """G9 chain: sqrt(abs(value * 2 - 5)) — scale → offset → absolute →
    squareRoot composed; stays in one codegen stage."""
    out = G.square_root(G.absolute(G.offset(G.scale(_hourly(spark, sf_dir), 2.0), -5.0)))
    return _rounded(out)


TS_SCALAR_SQL = HOURLY_CTE + """
SELECT metric, ts, round(sqrt(abs(value * 2.0 - 5.0)) + 0.00000005, 4) AS value FROM hourly
"""


# --- G10/G11 — deltas, integral ---------------------------------------------

def ts_derivative(spark, sf_dir):
    return _rounded(G.derivative(_hourly(spark, sf_dir)))


TS_DERIV_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(value - lag(value) OVER (PARTITION BY metric ORDER BY ts) + 0.00000005, 4) AS value
FROM hourly
"""


# RETIRED GATE (r16, VERDICT_r15 next-round #5): ts_nonneg_derivative —
# the same lag-window machinery as the still-gated ts_derivative with a
# sign filter on top (the ts_per_second retirement's twin). Coverage
# inherits to tests/test_timeseries_ops.py::test_derivative_family
# (hand-computed non_negative_derivative values); the operator stays
# exported for the Graphite compiler.


def ts_integral(spark, sf_dir):
    return _rounded(G.integral(_hourly(spark, sf_dir)))


TS_INTEGRAL_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(sum(value) OVER (PARTITION BY metric ORDER BY ts ROWS UNBOUNDED PRECEDING) + 0.00000005, 4) AS value
FROM hourly
"""


# --- G12/G13 — trailing windows ---------------------------------------------

def ts_moving_average(spark, sf_dir):
    return _rounded(G.moving_average(_hourly(spark, sf_dir), 4))


TS_MOVAVG_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(avg(value) OVER (PARTITION BY metric ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) + 0.00000005, 4) AS value
FROM hourly
"""


def ts_moving_median(spark, sf_dir):
    return _rounded(G.moving_median(_hourly(spark, sf_dir), 5))


TS_MOVMED_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(quantile_cont(value, 0.5) OVER (PARTITION BY metric ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 0.00000005, 4) AS value
FROM hourly
"""


def ts_stdev(spark, sf_dir):
    return _rounded(G.stdev(_hourly(spark, sf_dir), 6))


TS_STDEV_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(stddev_pop(value) OVER (PARTITION BY metric ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) + 0.00000005, 4) AS value
FROM hourly
"""


def ts_ema(spark, sf_dir):
    """G13 EMA (pandas-UDF recurrence) over one day of hourly buckets;
    oracle = the recurrence unrolled to a closed-form window sum:
    y_t = (1-a)^t * [ x_1 (1-a)^-1 + a * sum_{i=2..t} x_i (1-a)^-i ]."""
    hourly = _hourly(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-05")) & (F.col("ts") < F.lit("2024-01-06"))
    )
    return _rounded(G.exponential_moving_average(hourly, 5))


TS_EMA_SQL = HOURLY_CTE + """
, day AS (
  SELECT * FROM hourly
  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY metric ORDER BY ts) AS DOUBLE) AS rn FROM day
)
SELECT metric, ts,
       round(pow(2.0/3.0, rn) * sum(value * pow(2.0/3.0, -rn) * CASE WHEN rn = 1 THEN 1.0 ELSE 1.0/3.0 END)
             OVER (PARTITION BY metric ORDER BY rn ROWS UNBOUNDED PRECEDING) + 0.00000005, 4) AS value
FROM r
"""


# --- G14 — timeShift ---------------------------------------------------------

# RETIRED GATE (r16, VERDICT_r15 next-round #5): ts_day_over_day — a
# timestamp-interval add (G.time_shift) plus the same hourly-CTE
# equi-join shape the still-gated ts_time_slice / ts_diff_series /
# ts_divide_series family already drives; the shift arithmetic itself
# is pure interval addition with no float surface. Coverage inherits
# to tests/test_graphite_parser.py::test_time_shift_semantics (both
# shift directions, hand-computed) and tests/test_monitors.py's
# canonical divideSeries(m, timeShift(m, "-1d")) monitor, which
# exercises the compiler path end-to-end. Retiring shortens the
# driver recheck cycle.


# --- G16 — hitcount ----------------------------------------------------------

def ts_hitcount(spark, sf_dir):
    series = events_as_timeseries(Tables(spark, sf_dir).events)
    return _rounded(G.hitcount(series, "6 hours", 60))


TS_HITCOUNT_SQL = """
SELECT event_type AS metric,
       CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS ts,
       round(sum(value) * 60.0 + 0.00000005, 4) AS value
FROM events GROUP BY 1, 2
"""


# --- G17 — null handling (nulls synthesized by thresholding) ----------------

def _gappy(spark, sf_dir):
    """Hourly series with synthetic gaps: value nulled where > 40."""
    hourly = _hourly(spark, sf_dir)
    return hourly.withColumn("value", F.when(F.col("value") <= 40, F.col("value")))


GAPPY_CTE = HOURLY_CTE + """
, gappy AS (
  SELECT metric, ts, CASE WHEN value <= 40 THEN value END AS value FROM hourly
)
"""


def ts_transform_null(spark, sf_dir):
    return _rounded(G.transform_null(_gappy(spark, sf_dir), -1.0))


TS_TNULL_SQL = GAPPY_CTE + "SELECT metric, ts, round(coalesce(value, -1.0) + 0.00000005, 4) AS value FROM gappy"


def ts_keep_last_value(spark, sf_dir):
    return _rounded(G.keep_last_value(_gappy(spark, sf_dir)))


TS_LOCF_SQL = GAPPY_CTE + """
SELECT metric, ts,
       round(last_value(value IGNORE NULLS) OVER (PARTITION BY metric ORDER BY ts ROWS UNBOUNDED PRECEDING) + 0.00000005, 4) AS value
FROM gappy
"""


def ts_interpolate(spark, sf_dir):
    """G17 linear interpolation (pandas-UDF); oracle interpolates
    positionally between bracketing non-null rows."""
    return _rounded(G.interpolate(_gappy(spark, sf_dir)))


TS_INTERP_SQL = GAPPY_CTE + """
, r AS (SELECT *, row_number() OVER (PARTITION BY metric ORDER BY ts) AS rn FROM gappy),
f AS (
  SELECT *,
    last_value(value IGNORE NULLS) OVER (PARTITION BY metric ORDER BY rn ROWS UNBOUNDED PRECEDING) AS prev_v,
    last_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS)
      OVER (PARTITION BY metric ORDER BY rn ROWS UNBOUNDED PRECEDING) AS prev_rn,
    first_value(value IGNORE NULLS)
      OVER (PARTITION BY metric ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS)
      OVER (PARTITION BY metric ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rn
  FROM r)
SELECT metric, ts,
       round(CASE WHEN value IS NOT NULL THEN value
             WHEN prev_rn IS NOT NULL AND next_rn IS NOT NULL
               THEN prev_v + (next_v - prev_v) * (rn - prev_rn) / (next_rn - prev_rn)
             END + 0.00000005, 4) AS value
FROM f
"""


# --- G18 — point filtering ---------------------------------------------------

def ts_remove_outliers(spark, sf_dir):
    """G18 removeAbovePercentile(90): per-series threshold computed once and
    broadcast back (no windowed percentile over the fact table)."""
    return _rounded(G.remove_above_percentile(_hourly(spark, sf_dir), 90.0))


TS_RM_PCTL_SQL = HOURLY_CTE + """
, th AS (SELECT metric, quantile_cont(value, 0.90) AS thresh FROM hourly GROUP BY metric)
SELECT h.metric, h.ts, round(CASE WHEN h.value <= th.thresh THEN h.value END + 0.00000005, 4) AS value
FROM hourly h JOIN th ON h.metric = th.metric
"""


def ts_clamp(spark, sf_dir):
    return _rounded(G.clamp(_hourly(spark, sf_dir), lo=10.0, hi=60.0))


TS_CLAMP_SQL = HOURLY_CTE + """
SELECT metric, ts, round(least(greatest(value, 10.0), 60.0) + 0.00000005, 4) AS value FROM hourly
"""


# --- G19/G20/G21 — series-level selection -----------------------------------

def ts_highest_average(spark, sf_dir):
    """G19 highestAverage(2): top-k on the per-series aggregate, semi-join
    back to points."""
    return _rounded(G.highest(_hourly(spark, sf_dir), 2, "average"))


TS_HIGHEST_SQL = HOURLY_CTE + """
, top AS (SELECT metric FROM hourly GROUP BY metric ORDER BY avg(value) DESC, metric LIMIT 2)
SELECT h.metric, h.ts, round(h.value + 0.00000005, 4) AS value
FROM hourly h SEMI JOIN top ON h.metric = top.metric
"""


def ts_average_above(spark, sf_dir):
    """G20 averageAbove: keep series whose mean exceeds the threshold."""
    return _rounded(G.filter_series(_hourly(spark, sf_dir), "average", ">", 25.0))


TS_AVGABOVE_SQL = HOURLY_CTE + """
, keep AS (SELECT metric FROM hourly GROUP BY metric HAVING avg(value) > 25.0)
SELECT h.metric, h.ts, round(h.value + 0.00000005, 4) AS value
FROM hourly h SEMI JOIN keep ON h.metric = keep.metric
"""


def ts_limit_series(spark, sf_dir):
    """G21 limit(3): first 3 series by name."""
    return _rounded(G.limit_series(_hourly(spark, sf_dir), 3))


TS_LIMIT_SQL = HOURLY_CTE + """
, names AS (SELECT DISTINCT metric FROM hourly ORDER BY metric LIMIT 3)
SELECT h.metric, h.ts, round(h.value + 0.00000005, 4) AS value
FROM hourly h SEMI JOIN names ON h.metric = names.metric
"""


def ts_current_values(spark, sf_dir):
    """G19 'current' stat surface: latest non-null value per series
    (max_by), the R8 latest-per-group shape on timeseries."""
    hourly = _hourly(spark, sf_dir)
    return (
        hourly.groupBy("metric")
        .agg(r4(F.expr("max_by(value, ts) FILTER (WHERE value IS NOT NULL)")).alias("current"))
        .orderBy("metric")
    )


TS_CURRENT_SQL = HOURLY_CTE + """
SELECT metric, round(arg_max(value, ts) + 0.00000005, 4) AS current FROM hourly GROUP BY metric ORDER BY metric
"""


# --- G23/G24 — name filtering & rewriting -----------------------------------

def _prefixed(spark, sf_dir):
    """Series keyed by a 2-node dot path: u<user_id%3>.<event_type>."""
    ev = Tables(spark, sf_dir).events
    series = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 3).cast("string"), F.lit("."), F.col("event_type")).alias("metric"),
        "ts",
        F.col("value").cast("double").alias("value"),
    )
    return G.summarize(series, "1 hour", "sum")


PREFIXED_CTE = """
WITH hourly AS (
  SELECT 'u' || CAST(user_id % 3 AS VARCHAR) || '.' || event_type AS metric,
         date_trunc('hour', ts) AS ts, sum(value) AS value
  FROM events GROUP BY 1, 2
)
"""


def ts_grep_exclude(spark, sf_dir):
    """G23 grep + exclude chained: keep u0.* and u1.* then drop errors."""
    kept = G.exclude(G.grep(_prefixed(spark, sf_dir), "^u[01]\\."), "\\.error$")
    return _rounded(kept)


TS_GREP_SQL = PREFIXED_CTE + r"""
SELECT metric, ts, round(value + 0.00000005, 4) AS value FROM hourly
WHERE regexp_matches(metric, '^u[01]\.') AND NOT regexp_matches(metric, '\.error$')
"""


def ts_alias_by_node(spark, sf_dir):
    """G24 aliasByNode(1): rename each series to its event-type node."""
    return _rounded(G.alias_by_node(_prefixed(spark, sf_dir), 1))


TS_ALIAS_SQL = PREFIXED_CTE + """
SELECT split_part(metric, '.', 2) AS metric, ts, round(value + 0.00000005, 4) AS value FROM hourly
"""


def ts_group_by_node(spark, sf_dir):
    """G28 groupByNode(1, sum): collapse the user dimension."""
    return _rounded(G.group_by_node(_prefixed(spark, sf_dir), 1, "sum"))


TS_GROUPNODE_SQL = PREFIXED_CTE + """
SELECT split_part(metric, '.', 2) AS metric, ts, round(sum(value) + 0.00000005, 4) AS value
FROM hourly GROUP BY 1, 2
"""


QUERIES: dict[str, dict] = {
    "ts_hourly_summarize": {"fn": ts_hourly_summarize, "oracle": TS_HOURLY_SQL},
    "ts_daily_stats": {"fn": ts_daily_stats, "oracle": TS_DAILY_SQL},
    "ts_combine_series": {"fn": ts_combine_series, "oracle": TS_COMBINE_SQL},
    "ts_multiply_series": {"fn": ts_multiply_series, "oracle": TS_MULTIPLY_SQL},
    "ts_percentile_of_series": {"fn": ts_percentile_of_series, "oracle": TS_PCTL_SQL},
    "ts_diff_series": {"fn": ts_diff_series, "oracle": TS_DIFF_SQL},
    "ts_divide_series": {"fn": ts_divide_series, "oracle": TS_DIVIDE_SQL},
    "ts_as_percent": {"fn": ts_as_percent, "oracle": TS_ASPCT_SQL},
    "ts_scalar_math": {"fn": ts_scalar_math, "oracle": TS_SCALAR_SQL},
    "ts_derivative": {"fn": ts_derivative, "oracle": TS_DERIV_SQL},
    "ts_integral": {"fn": ts_integral, "oracle": TS_INTEGRAL_SQL},
    "ts_moving_average": {"fn": ts_moving_average, "oracle": TS_MOVAVG_SQL},
    "ts_moving_median": {"fn": ts_moving_median, "oracle": TS_MOVMED_SQL},
    "ts_stdev": {"fn": ts_stdev, "oracle": TS_STDEV_SQL},
    "ts_ema": {"fn": ts_ema, "oracle": TS_EMA_SQL},
    "ts_hitcount": {"fn": ts_hitcount, "oracle": TS_HITCOUNT_SQL},
    "ts_transform_null": {"fn": ts_transform_null, "oracle": TS_TNULL_SQL},
    "ts_keep_last_value": {"fn": ts_keep_last_value, "oracle": TS_LOCF_SQL},
    "ts_interpolate": {"fn": ts_interpolate, "oracle": TS_INTERP_SQL},
    "ts_remove_outliers": {"fn": ts_remove_outliers, "oracle": TS_RM_PCTL_SQL},
    "ts_clamp": {"fn": ts_clamp, "oracle": TS_CLAMP_SQL},
    "ts_highest_average": {"fn": ts_highest_average, "oracle": TS_HIGHEST_SQL},
    "ts_average_above": {"fn": ts_average_above, "oracle": TS_AVGABOVE_SQL},
    "ts_limit_series": {"fn": ts_limit_series, "oracle": TS_LIMIT_SQL},
    "ts_current_values": {"fn": ts_current_values, "oracle": TS_CURRENT_SQL},
    "ts_grep_exclude": {"fn": ts_grep_exclude, "oracle": TS_GREP_SQL},
    "ts_alias_by_node": {"fn": ts_alias_by_node, "oracle": TS_ALIAS_SQL},
    "ts_group_by_node": {"fn": ts_group_by_node, "oracle": TS_GROUPNODE_SQL},
}


# --- additions: G10 perSecond, G14 timeSlice, G26 Holt-Winters, parser path --

# RETIRED GATE (r15, VERDICT_r14 next-round #3): ts_per_second — the
# same lag-window machinery as the still-gated ts_derivative with one
# scalar division on top; coverage inherits to
# tests/test_timeseries_ops.py::test_derivative_family (hand-computed
# per_second values) and the operator stays exported for the Graphite
# compiler. Retiring shortens the driver recheck cycle (only
# retirement shrinks it — the growth budget merely bounds it).


def ts_time_slice(spark, sf_dir):
    """G14 timeSlice: blank values outside [Jan 10, Jan 20], keep points."""
    return _rounded(G.time_slice(_hourly(spark, sf_dir), "2024-01-10", "2024-01-20"))


TS_TIMESLICE_SQL = HOURLY_CTE + """
SELECT metric, ts,
       round(CASE WHEN ts BETWEEN TIMESTAMP '2024-01-10' AND TIMESTAMP '2024-01-20'
             THEN value END + 0.00000005, 4) AS value
FROM hourly
"""


def ts_holt_winters(spark, sf_dir):
    """G26 Holt-Winters forecast over hourly sums (season = 24 h). The
    oracle replays the triple-smoothing recurrence as a recursive CTE
    (TS_HW_SQL below) — sequential IEEE math, so DuckDB reproduces the
    pandas-UDF output bit-for-bit before rounding."""
    return _rounded(G.holt_winters_forecast(_hourly(spark, sf_dir), season_points=24))


def ts_parsed_target(spark, sf_dir):
    """The Graphite front-end inside the gate: a nested render-target
    string compiled to a Catalyst plan (parser -> sumSeries -> movingAverage)."""
    from rearview_spark.functions.graphite import evaluate_target

    series = _prefixed(spark, sf_dir)
    out = evaluate_target("movingAverage(sumSeries(u0.click, u1.click, u2.click), 4)", series)
    return _rounded(out)


TS_PARSED_SQL = PREFIXED_CTE + """
, combined AS (
  SELECT 'sumSeries' AS metric, ts, sum(value) AS value
  FROM hourly WHERE metric IN ('u0.click', 'u1.click', 'u2.click')
  GROUP BY ts
)
SELECT metric, ts,
       round(avg(value) OVER (PARTITION BY metric ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) + 0.00000005, 4) AS value
FROM combined
"""


QUERIES.update(
    {
        "ts_time_slice": {"fn": ts_time_slice, "oracle": TS_TIMESLICE_SQL},
        "ts_holt_winters": {"fn": ts_holt_winters, "oracle": None},
        "ts_parsed_target": {"fn": ts_parsed_target, "oracle": TS_PARSED_SQL},
    }
)


# --- additions 2: movingSum/Min/Max, sortBy, aliasSub, constantLine,
# --- glob select, Holt-Winters aberration, densified resample ---------------

# RETIRED GATES (r15, VERDICT_r14 next-round #3): ts_moving_sum and
# ts_moving_min_max — the identical trailing-rows Window-frame
# machinery the still-gated ts_moving_average exercises (ts_moving_
# median keeps the pandas/percentile variant gated); coverage inherits
# to tests/test_timeseries_ops.py::test_moving_average_leading_nulls
# (hand-computed moving_sum / moving_min / moving_max over leading
# nulls). Operators stay exported for the Graphite compiler.


def ts_sort_by_total(spark, sf_dir):
    """G22 sortByTotal: points ordered by per-series total. The hash
    compare is order-insensitive, so the series total rides along as a
    verifiable column (the ordering key itself)."""
    hourly = _hourly(spark, sf_dir)
    totals = hourly.groupBy("metric").agg(F.sum("value").alias("_stat"))
    out = G.sort_by(hourly, "total", descending=True).join(
        F.broadcast(totals), "metric"
    )
    return out.select(
        "metric", "ts", r4(F.col("value")).alias("value"),
        r4(F.col("_stat")).alias("series_total"),
    )


TS_SORTBY_SQL = HOURLY_CTE + """
SELECT metric, ts, round(value + 0.00000005, 4) AS value,
       round(sum(value) OVER (PARTITION BY metric) + 0.00000005, 4) AS series_total
FROM hourly
"""


def ts_alias_sub(spark, sf_dir):
    """G24 aliasSub: regex rewrite of series names (u<N>. -> user-<N>.)."""
    return _rounded(G.alias_sub(_prefixed(spark, sf_dir), "^u([0-9]+)\\.", "user-$1."))


TS_ALIASSUB_SQL = PREFIXED_CTE + r"""
SELECT regexp_replace(metric, '^u([0-9]+)\.', 'user-\1.') AS metric, ts,
       round(value + 0.00000005, 4) AS value
FROM hourly
"""


def ts_constant_line(spark, sf_dir):
    """G27 constantLine + timeFunction: synthetic series generated
    executor-side (sequence/explode — no driver loop), unioned (G28
    group)."""
    lo, hi, step = "2024-01-01", "2024-01-03", 21600
    const = G.constant_line(spark, 42.5, lo, hi, step)
    tfn = G.time_function(spark, lo, hi, step, name="timeFunction")
    return _rounded(G.group(const, tfn))


TS_CONSTLINE_SQL = """
WITH grid AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03', INTERVAL 6 HOUR)) AS ts
)
SELECT 'constantLine(42.5)' AS metric, ts, 42.5 AS value FROM grid
UNION ALL
SELECT 'timeFunction', ts, round(epoch(ts) + 0.00000005, 4) FROM grid
"""


def ts_glob_select(spark, sf_dir):
    """G2 glob select through the metric-name dimension: the glob resolves
    driver-side against the (tiny) distinct-names frame to an explicit
    IN-list the scan can push down — the 100 TB path (see
    operators/timeseries.select_glob; the rlike fallback never pushes)."""
    from rearview_spark.sources.layout import metric_names_dimension

    series = _prefixed(spark, sf_dir)
    return _rounded(
        G.select_glob(series, "u{0,2}.*", metric_names=metric_names_dimension(series))
    )


TS_GLOB_SQL = PREFIXED_CTE + r"""
SELECT metric, ts, round(value + 0.00000005, 4) AS value FROM hourly
WHERE regexp_matches(metric, '^(u0|u2)\.[^.]*$')
"""


def ts_parsed_target_pruned(spark, sf_dir):
    """SURVEY §4.2 #5 closed WITHOUT the explicit select_glob API: a glob
    inside a compiled render-target string resolves through the
    metric-names dimension to a pushable IN-list at plan time
    (functions/graphite.compile_target(metric_names=...) threads the
    dimension to every glob via a contextvar). The emitted plan filters
    metric IN (resolved names) — no rlike anywhere — which at 100 TB is
    bucket/row-group pruning on the bucketed layout instead of a
    full-scan regex. test_graphite_parser pins the plan shape; this row
    pins the values."""
    from rearview_spark.functions.graphite import evaluate_target
    from rearview_spark.sources.layout import metric_names_dimension

    series = _prefixed(spark, sf_dir)
    out = evaluate_target(
        "sumSeries(u{0,2}.*)", series, metric_names=metric_names_dimension(series)
    )
    return _rounded(out)


TS_PARSED_PRUNED_SQL = PREFIXED_CTE + r"""
SELECT 'sumSeries' AS metric, ts, round(sum(value) + 0.00000005, 4) AS value
FROM hourly
WHERE regexp_matches(metric, '^(u0|u2)\.[^.]*$')
GROUP BY ts
"""


def ts_hw_aberration(spark, sf_dir):
    """G26 holtWintersAberration: residual outside the delta*sigma band
    around the HW forecast. Oracle = the recursive-CTE forecast plus an
    expanding-window stddev band (TS_HW_AB_SQL)."""
    return _rounded(G.holt_winters_aberration(_hourly(spark, sf_dir), season_points=24))


def ts_resample_fill(spark, sf_dir):
    """Resample/align (SURVEY.md §4.2 #3): purchase events to a dense
    15-minute grid — empty buckets materialized and zero-filled (Graphite
    fixed-step alignment; the shape the sandbox consumed)."""
    ev = Tables(spark, sf_dir).events
    series = events_as_timeseries(ev.filter(F.col("event_type") == "purchase"))
    return _rounded(G.resample(series, "15 minutes", "sum", fill=0.0, densify=True))


TS_RESAMPLE_SQL = """
WITH pts AS (
  SELECT event_type AS metric, CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS ts, sum(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), grid AS (
  SELECT metric, unnest(generate_series(min(ts), max(ts), INTERVAL 15 MINUTE)) AS ts
  FROM pts GROUP BY metric
)
SELECT g.metric, g.ts, round(coalesce(p.value, 0.0) + 0.00000005, 4) AS value
FROM grid g LEFT JOIN pts p ON g.metric = p.metric AND g.ts = p.ts
"""


QUERIES.update(
    {
        "ts_sort_by_total": {"fn": ts_sort_by_total, "oracle": TS_SORTBY_SQL},
        "ts_alias_sub": {"fn": ts_alias_sub, "oracle": TS_ALIASSUB_SQL},
        "ts_constant_line": {"fn": ts_constant_line, "oracle": TS_CONSTLINE_SQL},
        "ts_glob_select": {"fn": ts_glob_select, "oracle": TS_GLOB_SQL},
        "ts_parsed_target_pruned": {"fn": ts_parsed_target_pruned, "oracle": TS_PARSED_PRUNED_SQL},
        "ts_hw_aberration": {"fn": ts_hw_aberration, "oracle": None},
        "ts_resample_fill": {"fn": ts_resample_fill, "oracle": TS_RESAMPLE_SQL},
    }
)


# RETIRED GATE (r16, VERDICT_r15 next-round #5): ts_lowest_current —
# a composition of per-series-stat prunes each gated on its own:
# the _series_stat semi-join via ts_highest_average and
# ts_current_values, the threshold prune via ts_average_above.
# Coverage inherits to tests/test_timeseries_ops.py::
# test_highest_lowest_filter (lowest + filter_series, incl. the
# current-stat "<" compose added at retirement) and
# test_current_stat_ignores_trailing_null.


def ts_rollup_cascade(spark, sf_dir):
    """Hypertable-style continuous aggregate (sources/rollup.py): hourly
    partial-state rollup -> cascaded to daily (sums of sums, no raw
    rescan) -> exact avg finalized as sum/count. The oracle computes
    daily averages directly from raw events, proving the mergeable-state
    cascade is value-identical to a raw scan."""
    from rearview_spark.sources import rollup as RU

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly = RU.rollup_from_raw(series, "1 hour")
    daily = RU.resolved_summarize(hourly, "1 day", "avg")
    return daily.select("metric", "ts", r4(F.col("value")).alias("value")).orderBy(
        "metric", "ts"
    )


TS_ROLLUP_SQL = """
SELECT event_type AS metric, date_trunc('day', ts) AS ts,
       round(sum(value) / count(value) + 0.00000005, 4) AS value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


QUERIES.update(
    {
        "ts_rollup_cascade": {"fn": ts_rollup_cascade, "oracle": TS_ROLLUP_SQL},
    }
)


def ts_rollup_router(spark, sf_dir):
    """Resolution router (sources/rollup.py pick_resolution): three
    requested steps routed to the coarsest materialized tier that divides
    them — 2h -> hourly tier, 2d -> daily tier, 45min -> raw fallback
    (no tier divides 2700s). Output carries the chosen tier so the
    oracle asserts BOTH the routing decision and that the routed value
    (partial-state merge) equals a direct raw-scan aggregate. At 100 TB
    the 2h/2d requests read the ~fan-in-smaller rollup, never raw."""
    from rearview_spark.sources import rollup as RU

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    tiers = dict(RU.DEFAULT_TIERS)  # {"1 hour": 3600, "1 day": 86400}
    hourly = RU.rollup_from_raw(series, "1 hour")
    materialized = {"1 hour": hourly, "1 day": RU.rollup_cascade(hourly, "1 day")}

    parts = []
    for step_name, secs in (("2 hours", 7200), ("2 days", 172800), ("45 minutes", 2700)):
        tier = RU.pick_resolution(secs, tiers)
        if tier is not None:
            routed = RU.resolved_summarize(materialized[tier], step_name, "avg")
        else:
            raw = RU.rollup_from_raw(series, step_name)
            routed = raw.select(
                "metric", "ts", (F.col("sum_value") / F.col("n_points")).alias("value")
            )
        parts.append(
            routed.select(
                F.lit(step_name).alias("req_step"),
                F.lit(tier or "raw").alias("tier"),
                "metric",
                "ts",
                r4(F.col("value")).alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("req_step", "metric", "ts")


TS_ROLLUP_ROUTER_SQL = """
SELECT * FROM (
  SELECT '2 hours' AS req_step, '1 hour' AS tier, event_type AS metric,
         CAST(to_timestamp(floor(epoch(ts) / 7200) * 7200) AS TIMESTAMP) AS ts,
         round(sum(value) / count(value) + 0.00000005, 4) AS value
  FROM events GROUP BY 3, 4
  UNION ALL
  SELECT '2 days', '1 day', event_type,
         CAST(to_timestamp(floor(epoch(ts) / 172800) * 172800) AS TIMESTAMP),
         round(sum(value) / count(value) + 0.00000005, 4)
  FROM events GROUP BY 3, 4
  UNION ALL
  SELECT '45 minutes', 'raw', event_type,
         CAST(to_timestamp(floor(epoch(ts) / 2700) * 2700) AS TIMESTAMP),
         round(sum(value) / count(value) + 0.00000005, 4)
  FROM events GROUP BY 3, 4
) ORDER BY req_step, metric, ts
"""


QUERIES.update(
    {
        "ts_rollup_router": {"fn": ts_rollup_router, "oracle": TS_ROLLUP_ROUTER_SQL},
    }
)


# --- G26 Holt-Winters: recursive-CTE oracles ---------------------------------
# The triple-smoothing recurrence is sequential IEEE-double math — one fixed
# evaluation order, no accumulation ambiguity — so a recursive CTE that
# mirrors the Python recurrence EXPRESSION-FOR-EXPRESSION produces
# bit-identical doubles. Two care points: smoothing complements are written
# (1 - 0.1), never 0.9 (different doubles!), and the seasonal state rides
# along as a 24-element list updated by slice-concat.

_HW_ZEROS = "[" + ", ".join(["0.0"] * 24) + "]"

HW_FORECAST_CTE = HOURLY_CTE.replace("WITH hourly", "WITH RECURSIVE hourly", 1) + f"""
, pts AS (
  SELECT metric, ts, value,
         CAST(row_number() OVER (PARTITION BY metric ORDER BY ts) AS BIGINT) AS i,
         count(*) OVER (PARTITION BY metric) AS n
  FROM hourly
),
rec AS NOT MATERIALIZED (
  SELECT metric, CAST(0 AS BIGINT) AS i, CAST(NULL AS DOUBLE) AS forecast,
         COALESCE(value, 0.0) AS level, CAST(0.0 AS DOUBLE) AS trend,
         CAST({_HW_ZEROS} AS DOUBLE[]) AS seasonal
  FROM pts WHERE i = 1 AND n >= 2
  UNION ALL
  SELECT p.metric, p.i,
         r.level + r.trend + r.seasonal[CAST(r.i % 24 AS INT) + 1] AS forecast,
         CASE WHEN p.value IS NULL THEN r.level
              ELSE 0.1 * (p.value - r.seasonal[CAST(r.i % 24 AS INT) + 1])
                   + (1 - 0.1) * (r.level + r.trend) END AS level,
         CASE WHEN p.value IS NULL THEN r.trend
              ELSE 0.0035 * ((0.1 * (p.value - r.seasonal[CAST(r.i % 24 AS INT) + 1])
                              + (1 - 0.1) * (r.level + r.trend)) - r.level)
                   + (1 - 0.0035) * r.trend END AS trend,
         CASE WHEN p.value IS NULL THEN r.seasonal
              ELSE list_slice(r.seasonal, 1, CAST(r.i % 24 AS INT))
                   || [0.1 * (p.value - (0.1 * (p.value - r.seasonal[CAST(r.i % 24 AS INT) + 1])
                                         + (1 - 0.1) * (r.level + r.trend)))
                       + (1 - 0.1) * r.seasonal[CAST(r.i % 24 AS INT) + 1]]
                   || list_slice(r.seasonal, CAST(r.i % 24 AS INT) + 2, 24) END AS seasonal
  FROM rec r JOIN pts p ON p.metric = r.metric AND p.i = r.i + 1
),
fc AS (
  SELECT p.metric, p.ts, r.forecast
  FROM pts p LEFT JOIN rec r ON r.metric = p.metric AND r.i = p.i
)
"""

TS_HW_SQL = (
    HW_FORECAST_CTE
    + "SELECT metric, ts, round(forecast + 0.00000005, 4) AS value FROM fc"
)

TS_HW_AB_SQL = HW_FORECAST_CTE + """
, resid AS (
  SELECT h.metric, h.ts, h.value - f.forecast AS r
  FROM hourly h JOIN fc f ON f.metric = h.metric AND f.ts = h.ts
),
banded AS (
  SELECT metric, ts, r,
         stddev_pop(r) OVER (PARTITION BY metric ORDER BY ts ROWS UNBOUNDED PRECEDING) * 3.0 AS band
  FROM resid
)
SELECT metric, ts,
       round(CASE WHEN r > band THEN r - band
                  WHEN r < -band THEN r + band
                  ELSE 0.0 END + 0.00000005, 4) AS value
FROM banded
"""


# RETIRED GATE (r16, VERDICT_r15 next-round #5): ts_hw_confidence_bands
# — by its own statement "same recursive-CTE forecast replay as
# ts_holt_winters; the band arithmetic mirrors ts_hw_aberration", and
# both of those stay gated (aberration's band machinery is the bands'
# ± 3σ expanding residual stddev with the flag on top). Coverage
# inherits to tests/test_timeseries_ops.py::
# test_holt_winters_confidence_bands (Upper/Lower pair on a constant
# series); the operator stays exported for the Graphite compiler.

QUERIES["ts_holt_winters"] = {"fn": ts_holt_winters, "oracle": TS_HW_SQL}
QUERIES["ts_hw_aberration"] = {"fn": ts_hw_aberration, "oracle": TS_HW_AB_SQL}


# --- Graphite long tail: weightedAverage / wildcards / deviance / extras -----

def ts_weighted_average(spark, sf_dir):
    """weightedAverage(u0.*, u1.*, 1): pair the two user slices by
    event-type node, sum(avg*weight)/sum(weight) point-wise."""
    series = _prefixed(spark, sf_dir)
    a = G.grep(series, r"^u0\.")
    w = G.grep(series, r"^u1\.")
    return _rounded(G.weighted_average(a, w, 1))


TS_WEIGHTED_AVG_SQL = PREFIXED_CTE + """
, a AS (SELECT split_part(metric, '.', 2) AS k, ts, value AS av
        FROM hourly WHERE metric LIKE 'u0.%'),
w AS (SELECT split_part(metric, '.', 2) AS k, ts, value AS wv
      FROM hourly WHERE metric LIKE 'u1.%'),
paired AS (
  SELECT coalesce(a.ts, w.ts) AS ts, wv,
         CASE WHEN av IS NOT NULL AND wv IS NOT NULL THEN av * wv END AS prod
  FROM a FULL JOIN w ON a.k = w.k AND a.ts = w.ts
),
per_ts AS (SELECT ts, sum(prod) AS num, sum(wv) AS den FROM paired GROUP BY ts)
SELECT 'weightedAverage' AS metric, ts,
       round(CASE WHEN den IS NULL OR den = 0 OR num IS NULL THEN NULL
             ELSE num / den END + 0.00000005, 4) AS value
FROM per_ts
"""


def ts_wildcard_rollup(spark, sf_dir):
    """averageSeriesWithWildcards(u*.<type>, 0): drop the user node and
    average series that collapse to the same remaining name."""
    return _rounded(G.series_with_wildcards(_prefixed(spark, sf_dir), "avg", 0))


TS_WILDCARD_SQL = PREFIXED_CTE + """
SELECT split_part(metric, '.', 2) AS metric, ts,
       round(avg(value) + 0.00000005, 4) AS value
FROM hourly GROUP BY 1, 2
"""


def ts_most_deviant_band(spark, sf_dir):
    """nPercentile(mostDeviant(series, 3), 90): the 3 most variable
    series flattened to their own 90th percentile."""
    return _rounded(G.n_percentile(G.most_deviant(_prefixed(spark, sf_dir), 3), 90.0))


TS_DEVIANT_SQL = PREFIXED_CTE + """
, dev AS (
  SELECT metric FROM (
    SELECT metric, var_pop(value) AS v FROM hourly GROUP BY metric
  ) ORDER BY v DESC, metric LIMIT 3
),
kept AS (SELECT h.* FROM hourly h JOIN dev USING (metric)),
th AS (SELECT metric, quantile_cont(value, 0.9) AS t FROM kept GROUP BY metric)
SELECT metric, ts, round(t + 0.00000005, 4) AS value
FROM kept JOIN th USING (metric)
"""


def ts_pointwise_extras(spark, sf_dir):
    """isNonNull / offsetToZero / scaleToSeconds over a frame with real
    nulls (removeAbovePercentile(80) nulls the top quintile)."""
    base = G.remove_above_percentile(_prefixed(spark, sf_dir), 80.0)
    nn = G.is_non_null(base).select("metric", "ts", F.col("value").alias("non_null"))
    z = G.offset_to_zero(base).select("metric", "ts", r4(F.col("value")).alias("zeroed"))
    s = G.scale_to_seconds(base, 1).select("metric", "ts", r4(F.col("value")).alias("per_sec"))
    return nn.join(z, ["metric", "ts"]).join(s, ["metric", "ts"])


TS_EXTRAS_SQL = PREFIXED_CTE + """
, th AS (SELECT metric, quantile_cont(value, 0.8) AS t FROM hourly GROUP BY metric),
filt AS (
  SELECT h.metric, h.ts, CASE WHEN h.value <= t THEN h.value END AS value
  FROM hourly h JOIN th USING (metric)
),
mins AS (SELECT metric, min(value) AS mn FROM filt GROUP BY metric)
SELECT f.metric, f.ts,
       CASE WHEN f.value IS NULL THEN 0.0 ELSE 1.0 END AS non_null,
       round(f.value - mn + 0.00000005, 4) AS zeroed,
       round(f.value / 60.0 + 0.00000005, 4) AS per_sec
FROM filt f JOIN mins USING (metric)
"""


def ts_smart_summarize(spark, sf_dir):
    """smartSummarize('90min', sum): buckets anchored to the fetch start
    (global min ts), not wall-clock boundaries."""
    series = events_as_timeseries(Tables(spark, sf_dir).events)
    return _rounded(G.smart_summarize(series, 5400, "sum"))


TS_SMART_SUMMARIZE_SQL = """
WITH t0 AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS e0 FROM events),
b AS (
  SELECT event_type AS metric,
         CAST(to_timestamp(e0 + CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) - e0) / 5400.0) AS BIGINT) * 5400)
              AS TIMESTAMP) AS ts,
         value
  FROM events, t0
)
SELECT metric, ts, round(sum(value) + 0.00000005, 4) AS value FROM b GROUP BY 1, 2
"""


# --- robust anomaly detection (median/MAD modified z-score) ------------------

def ts_anomaly_mad(spark, sf_dir):
    """Median/MAD outlier flags over the hourly series — the robust
    alerting rule (operators/anomaly.py docstring: rank-explicit exact
    median, so every double is bit-identical cross-engine and the gate
    hashes the UNROUNDED comparison's survivors). Input values are
    exact-cents hourly sums; robust_z itself is rounded only at the
    output edge."""
    from rearview_spark.operators.anomaly import mad_anomalies
    from rearview_spark.plans._exact import exact_sum

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly = (
        series.groupBy("metric", F.window("ts", "1 hour").alias("w"))
        .agg(exact_sum(F.col("value"), 100).alias("value"))
        .select("metric", F.col("w.start").alias("ts"), "value")
    )
    out = mad_anomalies(hourly, threshold=3.5)
    return out.select(
        "metric", "ts", "value", r4(F.col("robust_z")).alias("robust_z")
    ).orderBy("metric", "ts")


TS_ANOMALY_MAD_SQL = """
WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
         sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS value
  FROM events GROUP BY 1, 2
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY metric ORDER BY value, ts) AS r,
         count(*) OVER (PARTITION BY metric) AS n
  FROM hourly
),
med AS (
  SELECT metric, sum(value) / count(value) AS med FROM r1
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY metric
),
d AS (
  SELECT r1.metric, r1.ts, r1.value, abs(r1.value - med.med) AS dev, med.med
  FROM r1 JOIN med USING (metric)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY metric ORDER BY dev, ts) AS r,
         count(*) OVER (PARTITION BY metric) AS n
  FROM d
),
mad AS (
  SELECT metric, sum(dev) / count(dev) AS mad FROM r2
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY metric
)
SELECT d.metric, d.ts, d.value,
       round(0.6745 * (d.value - d.med) / mad.mad + 0.00000005, 4) AS robust_z
FROM d JOIN mad USING (metric)
WHERE mad.mad > 0 AND abs(0.6745 * (d.value - d.med)) > 3.5 * mad.mad
ORDER BY d.metric, d.ts
"""

QUERIES["ts_anomaly_mad"] = {"fn": ts_anomaly_mad, "oracle": TS_ANOMALY_MAD_SQL}


def ts_cusum_drift(spark, sf_dir):
    """Two-sided CUSUM on the robust z over the hourly series
    (operators/anomaly.py: cusum_drift — spike detection's slow-drift
    complement). The gate hashes the FULL statistic trajectory: the
    oracle replays the max(0, S + z - k) recurrence step-for-step as a
    recursive CTE on bit-identical z inputs, so every cusum value and
    drift flag is value-checked, not just the alarm set."""
    from rearview_spark.operators.anomaly import cusum_drift
    from rearview_spark.plans._exact import exact_sum

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly = (
        series.groupBy("metric", F.window("ts", "1 hour").alias("w"))
        .agg(exact_sum(F.col("value"), 100).alias("value"))
        .select("metric", F.col("w.start").alias("ts"), "value")
    )
    out = cusum_drift(hourly, k=0.5, h=5.0)
    return out.select(
        "metric",
        "ts",
        "value",
        r4(F.col("z")).alias("z"),
        r4(F.col("cusum_pos")).alias("cusum_pos"),
        r4(F.col("cusum_neg")).alias("cusum_neg"),
        "drift",
    ).orderBy("metric", "ts")


TS_CUSUM_SQL = """
WITH RECURSIVE hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
         sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS value
  FROM events GROUP BY 1, 2
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY metric ORDER BY value, ts) AS r,
         count(*) OVER (PARTITION BY metric) AS n
  FROM hourly
),
med AS (
  SELECT metric, sum(value) / count(value) AS med FROM r1
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY metric
),
d AS (
  SELECT r1.metric, r1.ts, r1.value, abs(r1.value - med.med) AS dev, med.med
  FROM r1 JOIN med USING (metric)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY metric ORDER BY dev, ts) AS r,
         count(*) OVER (PARTITION BY metric) AS n
  FROM d
),
mad AS (
  SELECT metric, sum(dev) / count(dev) AS mad FROM r2
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY metric
),
pts AS (
  SELECT d.metric, d.ts, d.value,
         0.6745 * (d.value - d.med) / mad.mad AS z,
         CAST(row_number() OVER (PARTITION BY d.metric
              ORDER BY d.ts, 0.6745 * (d.value - d.med) / mad.mad) AS BIGINT) AS i
  FROM d JOIN mad USING (metric)
  WHERE mad.mad > 0
),
rec AS NOT MATERIALIZED (
  SELECT metric, i, ts, value, z,
         greatest(0.0 + z - 0.5, 0.0) AS sp,
         greatest(0.0 - z - 0.5, 0.0) AS sn
  FROM pts WHERE i = 1
  UNION ALL
  SELECT p.metric, p.i, p.ts, p.value, p.z,
         greatest(r.sp + p.z - 0.5, 0.0),
         greatest(r.sn - p.z - 0.5, 0.0)
  FROM rec r JOIN pts p ON p.metric = r.metric AND p.i = r.i + 1
)
SELECT metric, ts, value,
       round(z + 0.00000005, 4) AS z,
       round(sp + 0.00000005, 4) AS cusum_pos,
       round(sn + 0.00000005, 4) AS cusum_neg,
       (sp > 5.0 OR sn > 5.0) AS drift
FROM rec ORDER BY metric, ts
"""

QUERIES["ts_cusum_drift"] = {"fn": ts_cusum_drift, "oracle": TS_CUSUM_SQL}


# --- LTTB downsampling (staged r06, registered r07) --------------------------
# The r06 driver window closed at exactly 50 rows, so this gate was staged
# in PENDING_QUERIES for one round (verified by tests/test_pending_gates.py
# through the same compare path as tools/oracle_check.py) and registered
# into QUERIES in round 7.

LTTB_T = 20
_LTTB_NB = LTTB_T - 2


def ts_lttb_downsample(spark, sf_dir):
    """LTTB decimation of the hourly series to 20 points per series
    (operators/timeseries.py: lttb_downsample). The series is fed as
    integer cents so every bucket mean is a mean of integers —
    bit-identical across numpy and SQL (operator docstring); the output
    rescales to currency at the edge."""
    from rearview_spark.operators.timeseries import lttb_downsample
    from rearview_spark.plans._exact import int_sum

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly_cents = (
        series.groupBy("metric", F.window("ts", "1 hour").alias("w"))
        .agg(int_sum(F.col("value"), 100).cast("double").alias("value"))
        .select("metric", F.col("w.start").alias("ts"), "value")
    )
    out = lttb_downsample(hourly_cents, LTTB_T)
    return out.select(
        "metric", "ts", (F.col("value") / F.lit(100.0)).alias("value")
    ).orderBy("metric", "ts")


TS_LTTB_SQL = f"""
WITH RECURSIVE hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
         CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT metric, ts, y,
         CAST(row_number() OVER (PARTITION BY metric ORDER BY ts) AS BIGINT) AS i,
         count(*) OVER (PARTITION BY metric) AS n
  FROM hourly
),
small AS (SELECT metric, ts, y FROM pts WHERE n <= {LTTB_T}),
big AS (SELECT DISTINCT metric, n FROM pts WHERE n > {LTTB_T}),
nxt AS (
  -- average point of bucket j's NEXT range (the c vertex of the triangle)
  SELECT b.metric, r.j,
         avg(CAST(p.i - 1 AS DOUBLE)) AS cx, avg(p.y) AS cy
  FROM big b
  CROSS JOIN (SELECT unnest(generate_series(0, {_LTTB_NB} - 1)) AS j) r
  JOIN pts p ON p.metric = b.metric
     AND p.i - 1 >= 1 + ((r.j + 1) * (b.n - 2)) // {_LTTB_NB}
     AND p.i - 1 <  CASE WHEN r.j + 1 < {_LTTB_NB}
                         THEN 1 + ((r.j + 2) * (b.n - 2)) // {_LTTB_NB}
                         ELSE b.n END
  GROUP BY 1, 2
),
sel AS NOT MATERIALIZED (
  SELECT b.metric, b.n, CAST(-1 AS BIGINT) AS j, p.i AS sel_i,
         CAST(p.i - 1 AS DOUBLE) AS ax, p.y AS ay
  FROM big b JOIN pts p ON p.metric = b.metric AND p.i = 1
  UNION ALL
  SELECT s.metric, s.n, s.j + 1, nx.i,
         CAST(nx.i - 1 AS DOUBLE), nx.y
  FROM sel s
  JOIN nxt x ON x.metric = s.metric AND x.j = s.j + 1,
  LATERAL (
    SELECT p.i, p.y
    FROM pts p
    WHERE p.metric = s.metric
      AND p.i - 1 >= 1 + ((s.j + 1) * (s.n - 2)) // {_LTTB_NB}
      AND p.i - 1 <  1 + ((s.j + 2) * (s.n - 2)) // {_LTTB_NB}
    ORDER BY abs((s.ax - x.cx) * (p.y - s.ay)
                 - (s.ax - CAST(p.i - 1 AS DOUBLE)) * (s.ay - x.cy)) DESC,
             p.i
    LIMIT 1
  ) nx
  WHERE s.j + 1 < {_LTTB_NB}
),
picked AS (
  SELECT metric, sel_i AS i FROM sel
  UNION ALL
  SELECT metric, n AS i FROM big
)
SELECT metric, ts, value FROM (
  SELECT p.metric, p.ts, p.y / 100.0 AS value
  FROM picked k JOIN pts p ON p.metric = k.metric AND p.i = k.i
  UNION ALL
  SELECT metric, ts, y / 100.0 AS value FROM small
) ORDER BY metric, ts
"""

QUERIES["ts_lttb_downsample"] = {"fn": ts_lttb_downsample, "oracle": TS_LTTB_SQL}

# --- incremental rollup refresh (staged r10, register r11) -------------------
# r10's driver window closed at exactly 50 rows (27 new + 20 r06 + 3 r07
# rotations), so this gate is staged for one round — already oracle-green
# via tests/test_pending_gates.py, registration in r11 is one line.

def ts_rollup_refresh(spark, sf_dir):
    """Invalidation-based continuous-aggregate maintenance, end to end
    (sources/rollup.refresh_rollups): materialize the tiers WITHOUT the
    final day of events, refresh only that dirty day from the full
    series, and return the hourly tier — which must equal the hourly
    partial state of the FULL raw series (the oracle), proving the
    dirty-partition recompute reconstructs exactly what a full rebuild
    would."""
    import shutil
    import tempfile

    from rearview_spark.sources.rollup import (
        read_rollup,
        refresh_rollups,
        write_rollups,
    )

    work = tempfile.mkdtemp(prefix="rollup_refresh_")
    try:
        full = events_as_timeseries(Tables(spark, sf_dir).events)
        last_day = full.agg(F.max(F.to_date("ts"))).collect()[0][0]
        write_rollups(full.filter(F.to_date("ts") < F.lit(last_day)), work)
        refresh_rollups(spark, full, work, [last_day])
        return (
            read_rollup(spark, work, "1 hour")
            .select(
                "metric",
                "ts",
                r4(F.col("sum_value")).alias("sum_value"),
                F.col("n_points").cast("long").alias("n_points"),
                r4(F.col("min_value")).alias("min_value"),
                r4(F.col("max_value")).alias("max_value"),
            )
            .orderBy("metric", "ts")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


TS_ROLLUP_REFRESH_SQL = """
SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
       round(sum(value) + 0.00000005, 4) AS sum_value,
       count(value) AS n_points,
       round(min(value) + 0.00000005, 4) AS min_value,
       round(max(value) + 0.00000005, 4) AS max_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# Registered r11 (was staged r10 while the window sat at its 50-row
# ceiling; oracle-green via tests/test_pending_gates.py throughout).
QUERIES["ts_rollup_refresh"] = {"fn": ts_rollup_refresh, "oracle": TS_ROLLUP_REFRESH_SQL}

def ts_autocorrelation(spark, sf_dir):
    """Per-metric autocorrelation at lags 1h and 24h over the hourly
    series (operators/timeseries.autocorrelation): time-join lag
    alignment, integer-exact sufficient statistics, one double r at the
    edge. The synthetic events carry a daily cycle, so lag 24 reads
    high — the seasonality-detection use the operator exists for."""
    out = G.autocorrelation(_hourly(spark, sf_dir), lags=(1, 24), y_scale=100)
    return out.select(
        "metric",
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("acf") + F.lit(5e-10), 6).alias("acf"),
    ).orderBy("metric", "lag")


TS_ACF_SQL = HOURLY_CTE + """
, q AS (
  SELECT metric,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(round(value * 100.0) AS BIGINT) AS y
  FROM hourly WHERE value IS NOT NULL
),
l AS (SELECT unnest([1, 24]) AS lag),
p AS (
  SELECT a.metric, l.lag, a.y AS ya, b.y AS yb
  FROM q a CROSS JOIN l
  JOIN q b ON b.metric = a.metric AND b.h = a.h + l.lag
),
s AS (
  SELECT metric, lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yb) AS BIGINT) AS sb,
         CAST(sum(ya * ya) AS BIGINT) AS saa,
         CAST(sum(yb * yb) AS BIGINT) AS sbb,
         CAST(sum(ya * yb) AS BIGINT) AS sab
  FROM p GROUP BY 1, 2
)
SELECT metric, CAST(lag AS INTEGER) AS lag, n AS n_pairs,
       CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
            THEN round(CAST(n * sab - sa * sb AS DOUBLE)
                       / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                          * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
                       + 0.0000000005, 6)
       END AS acf
FROM s ORDER BY metric, lag
"""


# Staged for round-13 registration (the r12 window arithmetic:
# 8 never-checked gates + 42 of the 46 stale-r08 rows fill all 50 slots;
# oracle-green via tests/test_pending_gates.py meanwhile).
PENDING_QUERIES: dict[str, dict] = {
    "ts_autocorrelation": {"fn": ts_autocorrelation, "oracle": TS_ACF_SQL},
}


QUERIES["ts_weighted_average"] = {"fn": ts_weighted_average, "oracle": TS_WEIGHTED_AVG_SQL}
QUERIES["ts_wildcard_rollup"] = {"fn": ts_wildcard_rollup, "oracle": TS_WILDCARD_SQL}
QUERIES["ts_most_deviant_band"] = {"fn": ts_most_deviant_band, "oracle": TS_DEVIANT_SQL}
QUERIES["ts_pointwise_extras"] = {"fn": ts_pointwise_extras, "oracle": TS_EXTRAS_SQL}
QUERIES["ts_smart_summarize"] = {"fn": ts_smart_summarize, "oracle": TS_SMART_SUMMARIZE_SQL}


def ts_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition over the hourly series: 2x24
    centered-MA trend, fixed-point per-hour-of-day seasonal index,
    residual. The oracle replays the window, the int64 quantized
    seasonal estimation, and both joins."""
    out = G.seasonal_decompose(_hourly(spark, sf_dir), period=24)
    # residual is reported from the ROUNDED components (not a rounding
    # of the raw residual): the additive identity value = trend +
    # seasonal + residual then holds exactly at 4dp, and the column is
    # bit-deterministic cross-engine (raw trend carries engine-specific
    # sliding-window accumulation drift that straddles 4dp boundaries).
    rounded = out.select(
        "metric", "ts",
        r4(F.col("value")).alias("value"),
        r4(F.col("trend")).alias("trend"),
        r4(F.col("seasonal")).alias("seasonal"),
    )
    return rounded.withColumn(
        "residual",
        F.round(F.col("value") - F.col("trend") - F.col("seasonal") + F.lit(5e-8), 4),
    )


TS_SEASONAL_SQL = HOURLY_CTE + """
, t AS (
  SELECT metric, ts, value,
         round(CASE WHEN count(value) OVER w = 25
              THEN (sum(value) OVER w
                    - 0.5 * (lag(value, 12) OVER wo + lead(value, 12) OVER wo)) / 24
         END + 0.00000005, 4) AS trend,
         date_part('hour', ts) AS phase
  FROM hourly
  WINDOW wo AS (PARTITION BY metric ORDER BY ts),
         w  AS (PARTITION BY metric ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
st AS (
  SELECT metric, phase,
         sum(CAST(round((round(value + 0.00000005, 4) - trend) * 10000.0) AS BIGINT)) AS si,
         count(*) AS ni
  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2
),
ov AS (SELECT metric, sum(si) AS s, sum(ni) AS n FROM st GROUP BY 1),
se AS (
  SELECT st.metric, st.phase,
         st.si / (10000.0 * st.ni) - ov.s / (10000.0 * ov.n) AS seasonal
  FROM st JOIN ov USING (metric)
)
SELECT metric, ts, value, trend, seasonal,
       round(value - trend - seasonal + 0.00000005, 4) AS residual
FROM (
  SELECT t.metric, t.ts,
         round(t.value + 0.00000005, 4) AS value,
         round(t.trend + 0.00000005, 4) AS trend,
         round(se.seasonal + 0.00000005, 4) AS seasonal
  FROM t LEFT JOIN se ON t.metric = se.metric AND t.phase = se.phase
)
"""

QUERIES["ts_seasonal_decompose"] = {"fn": ts_seasonal_decompose, "oracle": TS_SEASONAL_SQL}


def ts_ohlc_bars(spark, sf_dir):
    """OHLC candlestick bars over the hourly series at 6-hour buckets —
    one hash aggregate; open/close tie-broken by (ts, value) struct
    order, mirrored in the oracle's ordered array heads."""
    out = G.ohlc_bars(_hourly(spark, sf_dir), step="6 hours")
    return out.select(
        "metric", "ts",
        r4(F.col("open")).alias("open"),
        r4(F.col("high")).alias("high"),
        r4(F.col("low")).alias("low"),
        r4(F.col("close")).alias("close"),
        F.col("n_points").cast("long").alias("n_points"),
    )


TS_OHLC_SQL = HOURLY_CTE + """
SELECT metric,
       CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS ts,
       round((array_agg(value ORDER BY ts, value))[1] + 0.00000005, 4) AS open,
       round(max(value) + 0.00000005, 4) AS high,
       round(min(value) + 0.00000005, 4) AS low,
       round((array_agg(value ORDER BY ts DESC, value DESC))[1] + 0.00000005, 4) AS close,
       count(value) AS n_points
FROM hourly
GROUP BY 1, 2
"""

QUERIES["ts_ohlc_bars"] = {"fn": ts_ohlc_bars, "oracle": TS_OHLC_SQL}


def ts_linear_trend(spark, sf_dir):
    """Per-metric OLS trend over the hourly series — integer-exact
    normal equations (hours-since-first x, 1e-4-quantized y), so the
    oracle's sums are bit-identical regardless of aggregation order."""
    out = G.linear_trend(_hourly(spark, sf_dir))
    return out.select(
        "metric",
        F.col("n_points").cast("long").alias("n_points"),
        F.round(F.col("slope") + F.lit(5e-8), 4).alias("slope"),
        F.round(F.col("intercept") + F.lit(5e-8), 4).alias("intercept"),
    ).orderBy("metric")


TS_TREND_SQL = HOURLY_CTE + """
, q AS (
  SELECT metric,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(round(value * 10000.0) AS BIGINT) AS y
  FROM hourly WHERE value IS NOT NULL
),
x AS (
  SELECT metric, h - min(h) OVER (PARTITION BY metric) AS x, y FROM q
),
s AS (
  SELECT metric, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM x GROUP BY metric
)
SELECT metric, CAST(n AS BIGINT) AS n_points,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round((n * sxy - sx * sy) * 1.0 / ((n * sxx - sx * sx) * 10000.0) + 0.00000005, 4)
       END AS slope,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round((sxx * sy - sx * sxy) * 1.0 / ((n * sxx - sx * sx) * 10000.0) + 0.00000005, 4)
       END AS intercept
FROM s ORDER BY metric
"""

QUERIES["ts_linear_trend"] = {"fn": ts_linear_trend, "oracle": TS_TREND_SQL}


def ts_m4_downsample(spark, sf_dir):
    """M4 visualization downsampling (operators/timeseries.py
    m4_downsample): first/last/min/max per (series, 6-hour bucket) over
    the hourly series, fed as integer cents so every comparison is
    exact (the LTTB discipline) and rescaled at the edge. The oracle
    replays the role selection with explicit rank windows whose tie
    rules mirror the struct orderings (min: value asc, ts asc; max:
    value desc, ts desc)."""
    from rearview_spark.operators.timeseries import m4_downsample
    from rearview_spark.plans._exact import int_sum

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly_cents = (
        series.groupBy("metric", F.window("ts", "1 hour").alias("w"))
        .agg(int_sum(F.col("value"), 100).alias("value"))
        .select("metric", F.col("w.start").alias("ts"), "value")
    )
    out = m4_downsample(hourly_cents, step="6 hours")
    return out.select(
        "metric", "ts", r4(F.col("value") / F.lit(100.0)).alias("value")
    ).orderBy("metric", "ts")


TS_M4_SQL = """
WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
         sum(CAST(round(value * 100.0) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
), b AS (
  SELECT metric, ts, c, CAST(epoch(ts) AS BIGINT) // 21600 AS bk FROM hourly
), sel AS (
  SELECT metric, ts, c,
         row_number() OVER (PARTITION BY metric, bk ORDER BY ts) AS rf,
         row_number() OVER (PARTITION BY metric, bk ORDER BY ts DESC) AS rl,
         row_number() OVER (PARTITION BY metric, bk ORDER BY c, ts) AS rmin,
         row_number() OVER (PARTITION BY metric, bk ORDER BY c DESC, ts DESC) AS rmax
  FROM b
)
SELECT DISTINCT metric, ts, round(c / 100.0 + 0.00000005, 4) AS value
FROM sel WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1
ORDER BY metric, ts
"""

QUERIES["ts_m4_downsample"] = {"fn": ts_m4_downsample, "oracle": TS_M4_SQL}


def ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend over the daily series
    (operators/timeseries.py theil_sen_trend): lower-median of pairwise
    integer fixed-point slopes, plus the paired median intercept —
    all-integer math (portable floor-division via pmod, lower median
    instead of averaged median), so the oracle replays it term for
    term. Complements ts_linear_trend the way MAD complements stdev:
    the spiky fixture metrics pull OLS, not Theil–Sen."""
    from rearview_spark.operators.timeseries import theil_sen_trend
    from rearview_spark.plans._exact import int_sum, r6

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    daily = (
        series.groupBy("metric", F.window("ts", "1 day").alias("w"))
        .agg(int_sum(F.col("value"), 100).alias("v"))
        .select(
            "metric",
            F.call_function(
                "div", F.unix_timestamp(F.col("w.start")), F.lit(86400).cast("long")
            ).alias("t"),
            "v",
        )
    )
    out = theil_sen_trend(daily, scale=1_000_000)
    return out.select(
        "metric",
        "n_points",
        "n_pairs",
        r6(F.col("slope_units") / F.lit(1_000_000.0)).alias("slope"),
        r6(F.col("intercept_units") / F.lit(1_000_000.0)).alias("intercept"),
    ).orderBy("metric")


TS_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT event_type AS metric,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS t,
         sum(CAST(round(value * 100.0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
), z AS (
  SELECT metric, t - min(t) OVER (PARTITION BY metric) AS t, v FROM daily
), pairs AS (
  SELECT a.metric, (b.v - a.v) * 1000000 AS num, b.t - a.t AS den
  FROM z a JOIN z b ON a.metric = b.metric AND b.t > a.t
), slopes AS (
  SELECT metric, (num - (((num % den) + den) % den)) // den AS su FROM pairs
), med AS (
  SELECT metric, su, row_number() OVER (PARTITION BY metric ORDER BY su) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM slopes
), slope AS (
  SELECT metric, su AS slope_units, n AS n_pairs FROM med WHERE rn = (n + 1) // 2
), resid AS (
  SELECT z.metric, z.v * 1000000 - s.slope_units * z.t AS iu
  FROM z JOIN slope s ON z.metric = s.metric
), imed AS (
  SELECT metric, iu, row_number() OVER (PARTITION BY metric ORDER BY iu) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM resid
), icept AS (
  SELECT metric, iu AS intercept_units FROM imed WHERE rn = (n + 1) // 2
), np AS (
  SELECT metric, count(*) AS n_points FROM daily GROUP BY 1
)
SELECT s.metric, CAST(np.n_points AS BIGINT) AS n_points,
       CAST(s.n_pairs AS BIGINT) AS n_pairs,
       round(s.slope_units / 1000000.0 + 0.0000000005, 6) AS slope,
       round(i.intercept_units / 1000000.0 + 0.0000000005, 6) AS intercept
FROM slope s JOIN icept i USING (metric) JOIN np USING (metric)
ORDER BY metric
"""

QUERIES["ts_theil_sen"] = {"fn": ts_theil_sen, "oracle": TS_THEIL_SEN_SQL}


def ts_changepoint(spark, sf_dir):
    """Mean-shift changepoint sweep over the hourly series
    (operators/anomaly.mean_shift_changepoints): two-sample sliding
    z-score with 12-point windows either side of each grid point,
    |z| above the threshold flagging level shifts. One
    metric-partitioned WindowExec (both frames share the ordering
    spec), everything downstream a fixed expression tree under the
    nudged-rounding contract. The gate threshold is 1.0 — the fixture
    series are stationary by construction (max |z| ~1.5 at sf0.01), so
    the production default of 2.0 would leave the flag column
    all-false and untested; 1.0 exercises both branches at every
    fixture scale."""
    from rearview_spark.operators.anomaly import mean_shift_changepoints

    out = mean_shift_changepoints(_hourly(spark, sf_dir), window=12, z=1.0)
    return out.select(
        "metric",
        "ts",
        r4(F.col("pre_avg")).alias("pre_avg"),
        r4(F.col("post_avg")).alias("post_avg"),
        r4(F.col("shift_z")).alias("shift_z"),
        "is_shift",
    ).orderBy("metric", "ts")


TS_CHANGEPOINT_SQL = HOURLY_CTE + """
, s AS (
  SELECT metric, ts,
         count(value) OVER wpre AS pre_n,
         count(value) OVER wpost AS post_n,
         avg(value) OVER wpre AS pre_avg,
         avg(value) OVER wpost AS post_avg,
         var_pop(value) OVER wpre AS pre_var,
         var_pop(value) OVER wpost AS post_var
  FROM hourly
  WINDOW wpre  AS (PARTITION BY metric ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING),
         wpost AS (PARTITION BY metric ORDER BY ts ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING)
), z AS (
  SELECT metric, ts, pre_avg, post_avg,
         (post_avg - pre_avg) / nullif(sqrt((pre_var + post_var) / 2.0), 0.0) AS zs
  FROM s WHERE pre_n = 12 AND post_n = 12
)
SELECT metric, ts,
       round(pre_avg + 0.00000005, 4) AS pre_avg,
       round(post_avg + 0.00000005, 4) AS post_avg,
       round(zs + 0.00000005, 4) AS shift_z,
       coalesce(abs(zs) > 1.0, FALSE) AS is_shift
FROM z
ORDER BY metric, ts
"""

PENDING_QUERIES["ts_changepoint"] = {
    "fn": ts_changepoint,
    "oracle": TS_CHANGEPOINT_SQL,
}

# r13 registration (VERDICT_r12 next-round #1): the staged backlog flips
# live in one move. Never-driver-checked names front-load automatically via
# group (c) in plans/all_queries(), so each gets a first driver row this
# round; the window's remaining slots rotate the stalest green cohort.
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}


def ts_cross_correlation(spark, sf_dir):
    """Cross-correlation clicks -> purchases at hour lags -24..24
    (operators/timeseries.cross_correlation — the last implemented
    operator with no oracle path, VERDICT_r12 next-round #8): Pearson r
    between click volume at hour h and purchase volume at hour h+k via
    time-join alignment and integer-exact sufficient statistics. Both
    metrics ride the same daily cycle, so the +-24 lags read high —
    the lead/lag diagnostic the operator exists for."""
    out = G.cross_correlation(
        _hourly(spark, sf_dir), "click", "purchase",
        lags=(-24, -1, 0, 1, 24), y_scale=100,
    )
    return out.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("ccf") + F.lit(5e-10), 6).alias("ccf"),
    ).orderBy("lag")


TS_CCF_SQL = HOURLY_CTE + """
, q AS (
  SELECT metric,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(round(value * 100.0) AS BIGINT) AS y
  FROM hourly WHERE value IS NOT NULL
),
l AS (SELECT unnest([-24, -1, 0, 1, 24]) AS lag),
p AS (
  SELECT l.lag, a.y AS ya, b.y AS yb
  FROM (SELECT h, y FROM q WHERE metric = 'click') a
  CROSS JOIN l
  JOIN (SELECT h, y FROM q WHERE metric = 'purchase') b ON b.h = a.h + l.lag
),
s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yb) AS BIGINT) AS sb,
         CAST(sum(ya * ya) AS BIGINT) AS saa,
         CAST(sum(yb * yb) AS BIGINT) AS sbb,
         CAST(sum(ya * yb) AS BIGINT) AS sab
  FROM p GROUP BY 1
)
SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
       CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
            THEN round(CAST(n * sab - sa * sb AS DOUBLE)
                       / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                          * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
                       + 0.0000000005, 6)
       END AS ccf
FROM s ORDER BY lag
"""

QUERIES["ts_cross_correlation"] = {"fn": ts_cross_correlation, "oracle": TS_CCF_SQL}


def ts_ema_crossover(spark, sf_dir):
    """EMA crossover alerts (operators/timeseries.ema_crossover): fast
    (n=3) vs slow (n=10) EMAs over two days of hourly buckets, emitting
    golden/death crossings. Both EMAs round (nudged 4dp — the ts_ema
    edge) BEFORE the sign comparison, so the flag compares identical
    bit patterns cross-engine; the oracle unrolls both recurrences to
    the closed-form window sum like TS_EMA_SQL."""
    hourly = _hourly(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-05")) & (F.col("ts") < F.lit("2024-01-07"))
    )
    return G.ema_crossover(hourly, fast_n=3, slow_n=10)


TS_EMA_CROSS_SQL = HOURLY_CTE + """
, day AS (
  SELECT * FROM hourly
  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-07'
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY metric ORDER BY ts) AS DOUBLE) AS rn FROM day
), f AS (
  SELECT metric, ts,
         round(pow(0.5, rn) * sum(value * pow(0.5, -rn)
               * CASE WHEN rn = 1 THEN 1.0 ELSE 0.5 END)
               OVER (PARTITION BY metric ORDER BY rn ROWS UNBOUNDED PRECEDING)
               + 0.00000005, 4) AS fast,
         round(pow(9.0/11.0, rn) * sum(value * pow(9.0/11.0, -rn)
               * CASE WHEN rn = 1 THEN 1.0 ELSE 2.0/11.0 END)
               OVER (PARTITION BY metric ORDER BY rn ROWS UNBOUNDED PRECEDING)
               + 0.00000005, 4) AS slow
  FROM r
), d AS (
  SELECT metric, ts, fast, slow,
         fast - slow AS diff,
         last_value(CASE WHEN fast - slow <> 0 THEN fast - slow END
                    IGNORE NULLS)
           OVER (PARTITION BY metric ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_nz
  FROM f
)
SELECT metric, ts, fast, slow,
       CASE WHEN prev_nz < 0 AND diff > 0 THEN 'golden'
            WHEN prev_nz > 0 AND diff < 0 THEN 'death' END AS cross
FROM d
WHERE (prev_nz < 0 AND diff > 0) OR (prev_nz > 0 AND diff < 0)
ORDER BY metric, ts
"""

# Staged for r14 (window-full rule) with the rest of the late-r13 wave.
PENDING_QUERIES["ts_ema_crossover"] = {
    "fn": ts_ema_crossover,
    "oracle": TS_EMA_CROSS_SQL,
}

# r14 flip (VERDICT_r13 next-round #1): every staged gate registers —
# the window arithmetic is 16 first-ever checks + 34 stale rotations.
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}


def ts_forecast_accuracy(spark, sf_dir):
    """Forecast-accuracy scorecard (operators/timeseries.
    forecast_accuracy): seasonal-naive predictions (each hour of
    2024-01-05 shifted one day forward) scored against 2024-01-06
    actuals per metric — both sides on the 4dp rounded-value contract,
    per-point errors quantized to int64 units before the MAE/RMSE/bias
    summary."""
    hourly = _hourly(spark, sf_dir)
    actual = _rounded(
        hourly.filter(
            (F.col("ts") >= F.lit("2024-01-06")) & (F.col("ts") < F.lit("2024-01-07"))
        )
    )
    naive = _rounded(
        G.time_shift(
            hourly.filter(
                (F.col("ts") >= F.lit("2024-01-05"))
                & (F.col("ts") < F.lit("2024-01-06"))
            ),
            "1 day",
        )
    )
    return G.forecast_accuracy(actual, naive)


TS_FCAST_ACC_SQL = HOURLY_CTE + """
, a AS (
  SELECT metric, ts, round(value + 0.00000005, 4) AS v FROM hourly
  WHERE ts >= TIMESTAMP '2024-01-06' AND ts < TIMESTAMP '2024-01-07'
), p AS (
  SELECT metric, ts + INTERVAL 1 DAY AS ts,
         round(value + 0.00000005, 4) AS v
  FROM hourly
  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
), e AS (
  SELECT a.metric,
         CAST(round((p.v - a.v) * 10000.0) AS BIGINT) AS eu
  FROM a JOIN p ON a.metric = p.metric AND a.ts = p.ts
)
SELECT metric,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(abs(eu)) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 10000.0) AS mae,
       sqrt(CAST(sum(eu * eu) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         / 10000.0 AS rmse,
       CAST(sum(eu) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 10000.0) AS bias
FROM e GROUP BY metric ORDER BY metric
"""

PENDING_QUERIES["ts_forecast_accuracy"] = {
    "fn": ts_forecast_accuracy,
    "oracle": TS_FCAST_ACC_SQL,
}


def ts_gap_audit(spark, sf_dir):
    """Missing-bucket audit per metric (operators/timeseries.
    series_gap_audit): hourly-bucket coverage and worst outage length
    against each metric's own closed first..last range."""
    series = events_as_timeseries(Tables(spark, sf_dir).events)
    return G.series_gap_audit(series)


TS_GAP_AUDIT_SQL = """
WITH ob AS (
  SELECT DISTINCT event_type AS metric,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b
  FROM events),
g AS (
  SELECT metric, b,
         lead(b) OVER (PARTITION BY metric ORDER BY b) AS nxt
  FROM ob),
s AS (
  SELECT metric,
         max(b) - min(b) + 1 AS n_expected,
         count(*) AS n_observed,
         max(CASE WHEN nxt IS NOT NULL THEN nxt - b - 1 ELSE 0 END)
           AS longest_gap
  FROM g GROUP BY metric)
SELECT metric,
       CAST(n_expected AS BIGINT) AS n_expected,
       CAST(n_observed AS BIGINT) AS n_observed,
       CAST(n_expected - n_observed AS BIGINT) AS n_missing,
       CAST(longest_gap AS BIGINT) AS longest_gap,
       CAST(n_observed AS DOUBLE) / CAST(n_expected AS DOUBLE) AS coverage
FROM s ORDER BY metric
"""

PENDING_QUERIES["ts_gap_audit"] = {
    "fn": ts_gap_audit,
    "oracle": TS_GAP_AUDIT_SQL,
}


# r15 FLIP (VERDICT_r14 next-round #1): the r14-staged wave registers —
# every gate below was pre-verified at sf0.001 + sf0.01 + sf0.1 through
# tests/test_pending_gates.py, so this is the known-green one-line move.
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}

def ts_seasonal_mad(spark, sf_dir):
    """Seasonal (hour-of-day) median/MAD anomalies over the hourly
    series (operators/anomaly.seasonal_mad_anomalies): each point is
    judged against ITS OWN recurring slot's robust baseline, so a
    metric's daily ramp stops being a permanent false positive — the
    stock seasonal-baseline monitor rule. Same rank-explicit exact
    medians and unrounded product comparison as ts_anomaly_mad, with
    the shuffle key widened to (metric, slot)."""
    from rearview_spark.operators.anomaly import seasonal_mad_anomalies
    from rearview_spark.plans._exact import exact_sum

    series = events_as_timeseries(Tables(spark, sf_dir).events)
    hourly = (
        series.groupBy("metric", F.window("ts", "1 hour").alias("w"))
        .agg(exact_sum(F.col("value"), 100).alias("value"))
        .select("metric", F.col("w.start").alias("ts"), "value")
    )
    out = seasonal_mad_anomalies(hourly, threshold=3.5, period=24)
    return out.select(
        "metric", "slot", "ts", "value", r4(F.col("robust_z")).alias("robust_z")
    ).orderBy("metric", "ts")


TS_SEASONAL_MAD_SQL = """
WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS ts,
         sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS value
  FROM events GROUP BY 1, 2
),
sl AS (
  SELECT *, CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT) AS slot
  FROM hourly
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY metric, slot ORDER BY value, ts) AS r,
         count(*) OVER (PARTITION BY metric, slot) AS n
  FROM sl
),
med AS (
  SELECT metric, slot, sum(value) / count(value) AS med FROM r1
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY 1, 2
),
d AS (
  SELECT r1.metric, r1.slot, r1.ts, r1.value, abs(r1.value - med.med) AS dev, med.med
  FROM r1 JOIN med USING (metric, slot)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY metric, slot ORDER BY dev, ts) AS r,
         count(*) OVER (PARTITION BY metric, slot) AS n
  FROM d
),
mad AS (
  SELECT metric, slot, sum(dev) / count(dev) AS mad FROM r2
  WHERE r = (n + 1) // 2 OR r = n // 2 + 1 GROUP BY 1, 2
)
SELECT d.metric, d.slot, d.ts, d.value,
       round(0.6745 * (d.value - d.med) / mad.mad + 0.00000005, 4) AS robust_z
FROM d JOIN mad USING (metric, slot)
WHERE mad.mad > 0 AND abs(0.6745 * (d.value - d.med)) > 3.5 * mad.mad
ORDER BY d.metric, d.ts
"""

# Staged (r15 wave — r16 budget).
PENDING_QUERIES["ts_seasonal_mad"] = {
    "fn": ts_seasonal_mad,
    "oracle": TS_SEASONAL_MAD_SQL,
}

# r16 flip: the r15-staged wave registers (window = 7 flips + 34 r10 +
# 9 r11 rotations, pinned by VERDICT_r15 next-round #3).
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}
