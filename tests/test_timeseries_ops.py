"""Unit tests for the G-layer operator library against hand-computed small
series, with emphasis on Graphite null semantics (SURVEY.md §5.2: nulls
preserved through transforms; combines skip nulls; derivative nulls across
gaps; movingAverage over leading nulls)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from rearview_spark.operators import timeseries as G

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(i: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=i)


def make_series(spark, data: dict[str, list[float | None]]):
    rows = [
        (metric, ts(i), float(v) if v is not None else None)
        for metric, vals in data.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "metric string, ts timestamp, value double")


def values(df, metric: str | None = None) -> list:
    rows = df.orderBy("metric", "ts").collect()
    if metric is not None:
        rows = [r for r in rows if r["metric"] == metric]
    return [r["value"] for r in rows]


def test_select_glob(spark):
    df = make_series(
        spark, {"stats.prod.cpu": [1], "stats.dev.cpu": [2], "stats.prod.mem": [3]}
    )
    got = sorted(r["metric"] for r in G.select_glob(df, "stats.*.cpu").collect())
    assert got == ["stats.dev.cpu", "stats.prod.cpu"]
    # * must not cross dots
    assert G.select_glob(df, "stats.*").count() == 0
    got = sorted(r["metric"] for r in G.select_glob(df, "stats.prod.{cpu,mem}").collect())
    assert got == ["stats.prod.cpu", "stats.prod.mem"]


def test_sum_series_null_semantics(spark):
    df = make_series(spark, {"a": [1, None, None], "b": [2, 3, None]})
    assert values(G.sum_series(df)) == [3.0, 3.0, None]


def test_average_and_count(spark):
    df = make_series(spark, {"a": [1, None], "b": [3, 3]})
    assert values(G.average_series(df)) == [2.0, 3.0]
    # count counts series with a row at that ts (null value still counts a row)
    assert values(G.count_series(df)) == [2.0, 2.0]


def test_multiply_series(spark):
    df = make_series(spark, {"a": [2, -3, 0, None], "b": [4, 5, 6, 7]})
    got = values(G.multiply_series(df))
    # exp-sum-log composition: equal to the true product modulo float noise
    assert got[0] == pytest.approx(8.0) and got[1] == pytest.approx(-15.0)
    assert got[2] == 0.0 and got[3] is None


def test_diff_series(spark):
    # Graphite safeDiff: missing values treated as 0 unless all null
    df = make_series(spark, {"a": [10, None, None], "b": [3, 4, None], "c": [2, None, None]})
    assert values(G.diff_series(df, "a")) == [5.0, -4.0, None]


def test_divide_series(spark):
    df = make_series(spark, {"n": [10, 5, None, 1], "d": [2, 0, 3, None]})
    assert values(G.divide_series(df, "n", "d")) == [5.0, None, None, None]


def test_as_percent(spark):
    df = make_series(spark, {"a": [1, 0], "b": [3, 0]})
    out = G.as_percent(df)
    assert values(out, "a") == [25.0, None]
    assert values(out, "b") == [75.0, None]


def test_scalar_math_null_preserved(spark):
    df = make_series(spark, {"a": [4, None, -9]})
    assert values(G.scale(df, 2)) == [8.0, None, -18.0]
    assert values(G.absolute(df)) == [4.0, None, 9.0]
    assert values(G.invert(make_series(spark, {"a": [2, 0]}))) == [0.5, None]
    assert values(G.square_root(df)) == [2.0, None, None]
    got = values(G.logarithm(make_series(spark, {"a": [100, 0, -1]}), 10))
    assert got[0] == pytest.approx(2.0) and got[1] is None and got[2] is None


def test_derivative_family(spark):
    df = make_series(spark, {"a": [1, 4, None, 10, 3]})
    assert values(G.derivative(df)) == [None, 3.0, None, None, -7.0]
    assert values(G.non_negative_derivative(df)) == [None, 3.0, None, None, None]
    assert values(G.per_second(df, 60)) == [None, 0.05, None, None, pytest.approx(-7 / 60)]


def test_integral(spark):
    df = make_series(spark, {"a": [1, None, 2, 3]})
    assert values(G.integral(df)) == [1.0, None, 3.0, 6.0]


def test_moving_average_leading_nulls(spark):
    df = make_series(spark, {"a": [None, None, 3, 5]})
    # windows over leading nulls: all-null window -> null; else avg of non-null
    assert values(G.moving_average(df, 2)) == [None, None, 3.0, 4.0]
    assert values(G.moving_sum(df, 2)) == [None, None, 3.0, 8.0]
    assert values(G.moving_max(df, 2)) == [None, None, 3.0, 5.0]
    # moving_min completes the retired ts_moving_min_max gate's coverage
    # (r15 retirement — same trailing-rows frame as the gated average)
    assert values(G.moving_min(df, 2)) == [None, None, 3.0, 3.0]


def test_moving_median(spark):
    df = make_series(spark, {"a": [1, 9, 5, 3]})
    assert values(G.moving_median(df, 3)) == [1.0, 5.0, 5.0, 5.0]


def test_stdev_population(spark):
    df = make_series(spark, {"a": [2, 4]})
    # Graphite stddev is population: sqrt(mean((x-mean)^2)) = 1.0 for [2,4]
    assert values(G.stdev(df, 2)) == [0.0, 1.0]


def test_ema(spark):
    df = make_series(spark, {"a": [10, 20, 30]})
    # alpha = 2/(n+1) = 0.5 for n=3: y = [10, 15, 22.5]
    assert values(G.exponential_moving_average(df, 3)) == [10.0, 15.0, 22.5]


def test_time_shift(spark):
    df = make_series(spark, {"a": [1]})
    out = G.time_shift(df, "1 DAY").collect()[0]
    assert out["ts"] == T0 + dt.timedelta(days=1)


def test_summarize_and_hitcount(spark):
    df = make_series(spark, {"a": [1, 2, 3, 4, 5, 6]})  # 1-min step, 6 points
    out = G.summarize(df, "5 minutes", "sum")
    got = {r["ts"]: r["value"] for r in out.collect()}
    assert got[T0] == 15.0 and got[T0 + dt.timedelta(minutes=5)] == 6.0
    hc = G.hitcount(df, "5 minutes", 60)
    got = {r["ts"]: r["value"] for r in hc.collect()}
    assert got[T0] == 15.0 * 60


def test_transform_null_and_locf(spark):
    df = make_series(spark, {"a": [1, None, None, None, 5]})
    assert values(G.transform_null(df, 0)) == [1.0, 0.0, 0.0, 0.0, 5.0]
    assert values(G.keep_last_value(df)) == [1.0, 1.0, 1.0, 1.0, 5.0]
    # limit: fill at most 2 consecutive nulls
    assert values(G.keep_last_value(df, limit=2)) == [1.0, 1.0, 1.0, None, 5.0]


def test_interpolate(spark):
    df = make_series(spark, {"a": [None, 1, None, None, 7, None]})
    # interior gaps linear by position; leading/trailing stay null
    assert values(G.interpolate(df)) == [None, 1.0, 3.0, 5.0, 7.0, None]


def test_remove_and_clamp(spark):
    df = make_series(spark, {"a": [1, 5, 10]})
    assert values(G.remove_above_value(df, 5)) == [1.0, 5.0, None]
    assert values(G.remove_below_value(df, 5)) == [None, 5.0, 10.0]
    assert values(G.clamp(df, lo=2, hi=8)) == [2.0, 5.0, 8.0]


def test_remove_above_percentile(spark):
    df = make_series(spark, {"a": [1, 2, 3, 4, 100]})
    out = values(G.remove_above_percentile(df, 80))
    assert out == [1.0, 2.0, 3.0, 4.0, None]


def test_highest_lowest_filter(spark):
    df = make_series(spark, {"a": [1, 1], "b": [10, 10], "c": [5, 5]})
    assert set(r["metric"] for r in G.highest(df, 2, "average").collect()) == {"b", "c"}
    assert set(r["metric"] for r in G.lowest(df, 1, "max").collect()) == {"a"}
    assert set(r["metric"] for r in G.filter_series(df, "average", ">", 4).collect()) == {"b", "c"}
    assert set(r["metric"] for r in G.limit_series(df, 2).collect()) == {"a", "b"}
    # completes the retired ts_lowest_current gate's coverage (r16):
    # current-stat "<" prune composed with lowest-by-current
    assert set(
        r["metric"]
        for r in G.lowest(G.filter_series(df, "current", "<", 6.0), 2, "current").collect()
    ) == {"a", "c"}


def test_current_stat_ignores_trailing_null(spark):
    df = make_series(spark, {"a": [1, 9, None]})
    out = G.highest(df, 1, "current").collect()
    assert {r["metric"] for r in out} == {"a"}


def test_alias_by_node(spark):
    df = make_series(spark, {"stats.prod.web01.cpu": [1]})
    assert G.alias_by_node(df, 2).collect()[0]["metric"] == "web01"
    assert G.alias_by_node(df, 1, 3).collect()[0]["metric"] == "prod.cpu"
    out = G.alias_sub(df, r"web\d+", "host").collect()[0]["metric"]
    assert out == "stats.prod.host.cpu"


def test_group_by_node(spark):
    df = make_series(
        spark, {"stats.prod.cpu": [1], "stats.dev.cpu": [2], "other.prod.cpu": [4]}
    )
    out = {r["metric"]: r["value"] for r in G.group_by_node(df, 1, "sum").collect()}
    assert out == {"prod": 5.0, "dev": 2.0}


def test_constant_line_and_time_function(spark):
    out = G.constant_line(spark, 7.5, "2024-01-01 00:00:00", "2024-01-01 00:02:00", 60)
    assert values(out) == [7.5, 7.5, 7.5]
    tf = G.time_function(spark, "2024-01-01 00:00:00", "2024-01-01 00:01:00", 60)
    got = values(tf)
    assert got[1] - got[0] == 60.0


def test_holt_winters_forecast_converges(spark):
    # constant series -> forecast converges to the constant
    df = make_series(spark, {"a": [10.0] * 50})
    out = values(G.holt_winters_forecast(df, season_points=5))
    assert out[-1] == pytest.approx(10.0, rel=1e-3)


def test_holt_winters_aberration_flags_spike(spark):
    vals = [10.0] * 30 + [10.0, 200.0, 10.0] + [10.0] * 7
    df = make_series(spark, {"a": vals})
    out = values(G.holt_winters_aberration(df, season_points=5))
    assert out[31] > 0  # the spike deviates above the band
    assert out[5] == 0.0


def test_resample(spark):
    df = make_series(spark, {"a": [1, 2, 3, 4, 5, 6]})
    out = G.resample(df, "5 minutes", "avg")
    got = {r["ts"]: r["value"] for r in out.collect()}
    assert got[T0] == 3.0 and got[T0 + dt.timedelta(minutes=5)] == 6.0


def test_select_glob_dimension_pushdown(spark, tmp_path):
    """Glob resolved against the metric-name dimension becomes an In/EqualTo
    filter in PushedFilters — the rlike path pushes nothing."""
    import io
    from contextlib import redirect_stdout

    path = str(tmp_path / "m")
    spark.createDataFrame(
        [("a.cpu", 1.0), ("b.cpu", 2.0), ("a.mem", 3.0)], "metric string, value double"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    names = df.select("metric").distinct()

    out = G.select_glob(df, "*.cpu", metric_names=names)
    assert {r["metric"] for r in out.collect()} == {"a.cpu", "b.cpu"}

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    pushed = [l for l in buf.getvalue().splitlines() if "PushedFilters" in l]
    assert any(("In(metric" in l) or ("EqualTo(metric" in l) for l in pushed), pushed


def test_datetime_bounds_match_py4j_literals(spark, tmp_path):
    """Datetime bounds are built from epoch microseconds (``ts_lit``), not
    a py4j ``Timestamp`` per ``F.lit``: the scan's pushed filter and the
    rows stay those of the ``F.lit`` form, for naive datetimes (local
    wall time, as ``F.lit`` reads them) and aware ones alike."""
    import io
    from contextlib import redirect_stdout

    path = str(tmp_path / "pts")
    make_series(spark, {"a": [float(i) for i in range(30)]}).write.parquet(path)
    df = spark.read.parquet(path)

    def pushed(frame) -> list[str]:
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain("formatted")
        return [l for l in buf.getvalue().splitlines() if "PushedFilters" in l]

    bounds = [
        (ts(3), ts(17)),
        (ts(3).replace(tzinfo=dt.timezone.utc), ts(17).replace(tzinfo=dt.timezone(dt.timedelta(hours=2)))),
    ]
    for lo, hi in bounds:
        old = df.filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
        new = G.window_fetch(df, lo, hi)
        assert pushed(new) == pushed(old) and pushed(new)
        assert sorted(new.collect()) == sorted(old.collect())
        inside = F.col("ts").between(F.lit(lo), F.lit(hi))
        old_slice = df.withColumn("value", F.when(inside, F.col("value")).otherwise(None))
        assert sorted(G.time_slice(df, lo, hi).collect()) == sorted(old_slice.collect())
    lo, hi = bounds[0]
    got = G.constant_line(spark, 1.0, lo, hi, 300).collect()
    assert [r["ts"] for r in got] == [ts(3), ts(8), ts(13)]


def test_select_glob_semi_join_fallback(spark, tmp_path):
    """Past the IN-list cap the glob routes through a broadcast semi-join
    on the dimension (no driver collect of the name list) with identical
    results to the pushed path (VERDICT r01 #8)."""
    path = str(tmp_path / "m2")
    rows = [(f"stats.host{i}.cpu", float(i)) for i in range(40)] + [("other.mem", -1.0)]
    spark.createDataFrame(rows, "metric string, value double").write.parquet(path)
    df = spark.read.parquet(path)
    names = df.select("metric").distinct()

    pushed = G.select_glob(df, "stats.*.cpu", metric_names=names, max_in_list=10_000)
    joined = G.select_glob(df, "stats.*.cpu", metric_names=names, max_in_list=10)
    want = {f"stats.host{i}.cpu" for i in range(40)}
    assert {r["metric"] for r in pushed.collect()} == want
    assert {r["metric"] for r in joined.collect()} == want
    # the fallback plan is a broadcast join, not a giant In(...) literal
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()


def test_holt_winters_confidence_bands(spark):
    df = make_series(spark, {"a": [10.0] * 30})
    out = G.holt_winters_confidence_bands(df, season_points=5)
    rows = out.collect()
    names = {r["metric"] for r in rows}
    assert names == {
        "holtWintersConfidenceUpper(a)",
        "holtWintersConfidenceLower(a)",
    }
    by = {}
    for r in rows:
        by.setdefault(r["metric"], {})[r["ts"]] = r["value"]
    up = by["holtWintersConfidenceUpper(a)"]
    lo = by["holtWintersConfidenceLower(a)"]
    assert set(up) == set(lo) and len(up) == 30
    assert all(up[t] >= lo[t] for t in up)  # band is symmetric around fc


def test_mad_anomalies_flags_planted_spike(spark):
    from rearview_spark.operators.anomaly import mad_anomalies, mad_scores

    # 20 calm points around 10 + one spike; a second all-constant series
    # (MAD = 0) must yield nothing by the documented degenerate rule.
    calm = [10.0, 10.5, 9.5, 10.2, 9.8] * 4
    df = make_series(spark, {"a": calm + [50.0], "flat": [7.0] * 10 + [99.0]})
    out = mad_anomalies(df).collect()
    assert [(r["metric"], r["value"]) for r in out] == [("a", 50.0)]
    z = out[0]["robust_z"]
    scores = {r["metric"]: (r["med"], r["mad"]) for r in mad_scores(df).collect()}
    med, mad = scores["a"]
    assert med == 10.0
    assert z == 0.6745 * (50.0 - med) / mad and z > 3.5


def test_mad_exact_median_even_and_odd(spark):
    from rearview_spark.operators.anomaly import mad_scores

    df = make_series(spark, {"odd": [3.0, 1.0, 2.0], "even": [4.0, 1.0, 2.0, 3.0]})
    scores = {r["metric"]: r["med"] for r in mad_scores(df).collect()}
    assert scores["odd"] == 2.0
    assert scores["even"] == 2.5


def test_mad_median_ignores_null_samples(spark):
    # NULLS FIRST window sort would rank null rows lowest and inflate n,
    # skewing the median down ([null,1,2,3] -> 1.5); mad_scores must drop
    # nulls so the median of the observed values (2.0) is returned.
    from pyspark.sql import functions as F

    from rearview_spark.operators.anomaly import mad_scores

    df = make_series(spark, {"m": [1.0, 2.0, 3.0, 4.0]}).withColumn(
        "value", F.when(F.col("value") == 4.0, F.lit(None)).otherwise(F.col("value"))
    )
    rows = mad_scores(df).collect()
    assert all(r["med"] == 2.0 for r in rows)
    assert len(rows) == 3  # null sample rows are dropped, not scored


def test_cusum_drift_fires_on_mean_shift_not_before(spark):
    from rearview_spark.operators.anomaly import cusum_drift

    # stationary around 10 (alternating +-0.5), then a sustained +3 shift:
    # no single point is a MAD outlier, but the CUSUM accumulates.
    pre = [10.0 + (0.5 if i % 2 else -0.5) for i in range(30)]
    post = [13.0 + (0.5 if i % 2 else -0.5) for i in range(10)]
    df = make_series(spark, {"a": pre + post})
    rows = cusum_drift(df).orderBy("ts").collect()
    drift_idx = [i for i, r in enumerate(rows) if r["drift"]]
    assert drift_idx and min(drift_idx) >= 30  # only after the shift
    assert rows[-1]["drift"]  # still alarming at the end
    # trajectory is reset-bounded before the shift
    assert all(r["cusum_pos"] <= 5.0 for r in rows[:30])


def test_cusum_no_drift_on_stationary_and_mad_zero_excluded(spark):
    from rearview_spark.operators.anomaly import cusum_drift

    df = make_series(
        spark,
        {"s": [5.0 + (0.5 if i % 2 else -0.5) for i in range(40)],
         "flat": [3.0] * 20},
    )
    rows = cusum_drift(df).collect()
    assert all(not r["drift"] for r in rows)
    assert {r["metric"] for r in rows} == {"s"}  # MAD=0 series excluded


def test_lttb_keeps_endpoints_spike_and_size(spark):
    # 100 smooth points with one big spike mid-series: LTTB to 12 points
    # must keep first, last, and the spike (naive averaging would not).
    vals = [float(i % 5) for i in range(100)]
    vals[57] = 500.0
    df = make_series(spark, {"a": vals})
    out = G.lttb_downsample(df, 12).orderBy("ts").collect()
    assert len(out) == 12
    assert out[0]["ts"] == ts(0) and out[-1]["ts"] == ts(99)
    assert any(r["value"] == 500.0 for r in out)
    # deterministic rerun
    again = G.lttb_downsample(df, 12).orderBy("ts").collect()
    assert [(r["ts"], r["value"]) for r in out] == [
        (r["ts"], r["value"]) for r in again
    ]


def test_lttb_passthrough_and_null_drop(spark):
    df = make_series(spark, {"a": [1.0, None, 3.0, 4.0]})
    # n (after null drop) <= threshold: unchanged, nulls removed
    out = G.lttb_downsample(df, 10).orderBy("ts").collect()
    assert [r["value"] for r in out] == [1.0, 3.0, 4.0]


def test_sin_and_random_walk_synthetic_sources(spark):
    """Graphite 0.9.x test sources (G27 family): sinFunction is exact
    math.sin on the grid; randomWalkFunction is the documented
    DETERMINISTIC deviation — same (name, seed, window) renders the same
    walk, a new seed renders a different one, steps bounded in [-.5, .5)."""
    import math

    from rearview_spark.operators.timeseries import (
        random_walk_function,
        sin_function,
    )
    from rearview_spark.functions.graphite import compile_target

    lo, hi, step = "2024-01-01", "2024-01-01 00:10:00", 60
    sin_rows = sin_function(spark, lo, hi, step, amplitude=2.0).collect()
    assert len(sin_rows) == 11
    for r in sin_rows:
        assert r["value"] == pytest.approx(2.0 * math.sin(r["ts"].timestamp()))

    w1 = random_walk_function(spark, lo, hi, step).collect()
    w2 = random_walk_function(spark, lo, hi, step).collect()
    assert [r["value"] for r in w1] == [r["value"] for r in w2]  # rerun-stable
    w3 = random_walk_function(spark, lo, hi, step, seed="other").collect()
    assert [r["value"] for r in w1] != [r["value"] for r in w3]
    vals = [r["value"] for r in sorted(w1, key=lambda r: r["ts"])]
    steps = [b - a for a, b in zip(vals, vals[1:])]
    assert all(-0.5 <= s < 0.5 for s in steps)

    # compiler forms render over the implicit input window
    base = make_series(spark, {"a": [1.0] * 5})
    out = compile_target("sinFunction('wave', 3)")(base).collect()
    assert {r["metric"] for r in out} == {"wave"}
    out2 = compile_target("randomWalkFunction('walk')")(base).collect()
    assert {r["metric"] for r in out2} == {"walk"} and len(out2) >= 5


def test_seasonal_decompose_hand_series(spark):
    """period=2 over [1,3,1,3,1,3]: every interior 2x2-MA trend is 2,
    seasonal index is +1 on odd hours / -1 on even, interior residuals
    are exactly 0, and edge rows have null trend/residual but a defined
    seasonal value."""
    rows = [
        ("m", dt.datetime(2024, 1, 1, h, 0, 0), float(v))
        for h, v in enumerate([1, 3, 1, 3, 1, 3])
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    out = {
        r["ts"].hour: r
        for r in G.seasonal_decompose(
            df, period=2, phase=F.hour("ts") % 2
        ).collect()
    }
    assert len(out) == 6
    for h in (1, 2, 3, 4):
        assert out[h]["trend"] == pytest.approx(2.0)
        assert out[h]["residual"] == pytest.approx(0.0)
    for h in (0, 5):
        assert out[h]["trend"] is None and out[h]["residual"] is None
    for h in range(6):
        assert out[h]["seasonal"] == pytest.approx(1.0 if h % 2 else -1.0)


def test_seasonal_decompose_odd_period(spark):
    """Odd period uses the plain centered mean: period=3 over a pure
    3-cycle [0,3,6,0,3,6,...] gives trend 3 everywhere interior and the
    seasonal index recovers the cycle offsets (-3, 0, +3 centered)."""
    vals = [0, 3, 6] * 3
    rows = [
        ("m", dt.datetime(2024, 1, 1, h, 0, 0), float(v))
        for h, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    out = {
        r["ts"].hour: r
        for r in G.seasonal_decompose(
            df, period=3, phase=F.hour("ts") % 3
        ).collect()
    }
    for h in range(1, 8):
        assert out[h]["trend"] == pytest.approx(3.0)
        assert out[h]["residual"] == pytest.approx(0.0)
    assert out[0]["trend"] is None and out[8]["trend"] is None
    want = {0: -3.0, 1: 0.0, 2: 3.0}
    for h in range(9):
        assert out[h]["seasonal"] == pytest.approx(want[h % 3])


def test_ohlc_bars_hand_series_and_tie_break(spark):
    """One 6h bucket: open = value at earliest ts, close = at latest;
    duplicate-timestamp ties resolve by (ts, value) struct order —
    min value wins open, max value wins close."""
    rows = [
        ("m", dt.datetime(2024, 1, 1, 0, 0, 0), 5.0),
        ("m", dt.datetime(2024, 1, 1, 0, 0, 0), 3.0),  # tied open ts
        ("m", dt.datetime(2024, 1, 1, 2, 0, 0), 9.0),
        ("m", dt.datetime(2024, 1, 1, 5, 0, 0), 1.0),
        ("m", dt.datetime(2024, 1, 1, 5, 0, 0), 4.0),  # tied close ts
        ("m", dt.datetime(2024, 1, 1, 7, 0, 0), 2.0),  # next bucket
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    out = {r["ts"]: r for r in G.ohlc_bars(df, step="6 hours").collect()}
    b0 = out[dt.datetime(2024, 1, 1, 0, 0, 0)]
    assert (b0["open"], b0["high"], b0["low"], b0["close"], b0["n_points"]) == (
        3.0, 9.0, 1.0, 4.0, 5,
    )
    b1 = out[dt.datetime(2024, 1, 1, 6, 0, 0)]
    assert (b1["open"], b1["close"], b1["n_points"]) == (2.0, 2.0, 1)


def test_linear_trend_exact_line_and_guards(spark):
    """y = 2x + 5 over 4 hourly points recovers slope 2/hour and
    intercept 5 exactly; a single-point series gets null slope (no
    fabricated line)."""
    rows = [
        ("m", dt.datetime(2024, 1, 1, h, 0, 0), 5.0 + 2.0 * h) for h in range(4)
    ] + [("one", dt.datetime(2024, 1, 1, 0, 0, 0), 7.0)]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    out = {r["metric"]: r for r in G.linear_trend(df).collect()}
    assert out["m"]["slope"] == pytest.approx(2.0)
    assert out["m"]["intercept"] == pytest.approx(5.0)
    assert out["m"]["n_points"] == 4
    assert out["one"]["slope"] is None and out["one"]["intercept"] is None


def test_m4_downsample_roles_and_dedup(spark):
    """Per bucket: first/last/min/max survive; a point filling several
    roles appears once; min ties break earliest-ts, max ties latest-ts."""
    import datetime as _dt

    from rearview_spark.operators.timeseries import m4_downsample

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        # bucket 0 (hours 0-5): first=(0,5), max tie 9 at h1 and h3 -> h3,
        # min tie 1 at h2 and h4 -> h2, last=(5,7)
        ("m", t0 + _dt.timedelta(hours=0), 5.0),
        ("m", t0 + _dt.timedelta(hours=1), 9.0),
        ("m", t0 + _dt.timedelta(hours=2), 1.0),
        ("m", t0 + _dt.timedelta(hours=3), 9.0),
        ("m", t0 + _dt.timedelta(hours=4), 1.0),
        ("m", t0 + _dt.timedelta(hours=5), 7.0),
        # bucket 1: a single point fills all four roles -> ONE row
        ("m", t0 + _dt.timedelta(hours=6), 3.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    got = sorted(
        (r["ts"].hour, r["value"]) for r in m4_downsample(df, "6 hours").collect()
    )
    assert got == [(0, 5.0), (2, 1.0), (3, 9.0), (5, 7.0), (6, 3.0)]


def test_theil_sen_trend_integer_exact(spark):
    """Median pairwise slope on a small series, checked against the
    brute-force python computation with the same lower-median and
    floor-division rules — including a negative-slope series (the
    portable pmod floor-division's hard case)."""
    from rearview_spark.operators.timeseries import theil_sen_trend

    series = {
        "up": [(0, 0), (1, 10), (2, 21), (3, 29), (10, 1000)],  # outlier at t=10
        "down": [(0, 100), (1, 93), (2, 85), (3, 80)],
    }
    rows = [(m, t, v) for m, pts in series.items() for t, v in pts]
    df = spark.createDataFrame(rows, "metric string, t long, v long")
    got = {
        r["metric"]: (r["n_points"], r["n_pairs"], r["slope_units"], r["intercept_units"])
        for r in theil_sen_trend(df, scale=1_000_000).collect()
    }
    import math

    for m, pts in series.items():
        slopes = sorted(
            math.floor((v2 - v1) * 1_000_000 / (t2 - t1))
            for i, (t1, v1) in enumerate(pts)
            for t2, v2 in pts[i + 1 :]
        )
        su = slopes[(len(slopes) + 1) // 2 - 1]
        resid = sorted(v * 1_000_000 - su * t for t, v in pts)
        iu = resid[(len(resid) + 1) // 2 - 1]
        assert got[m] == (len(pts), len(slopes), su, iu), m
    # the outlier must NOT drag the robust slope: OLS slope for "up" is
    # ~96 units/t, Theil-Sen stays near the inlier slope of ~10
    assert got["up"][2] < 20_000_000


def test_autocorrelation_hand_series_and_gaps(spark):
    """Alternating series -> acf(lag 1) = -1 exactly; constant series ->
    null (zero variance guard); a grid gap pairs nothing across the
    hole (time join, not row offset)."""
    import datetime as dt

    from rearview_spark.operators.timeseries import autocorrelation

    t0 = dt.datetime(2024, 1, 1)
    alt = [("alt", t0 + dt.timedelta(hours=i), float((-1) ** i)) for i in range(10)]
    const = [("const", t0 + dt.timedelta(hours=i), 5.0) for i in range(10)]
    # gap: hours 0..3 and 6..9 — lag-1 pairs only inside each island
    gap = [
        ("gap", t0 + dt.timedelta(hours=i), float(i)) for i in (0, 1, 2, 3, 6, 7, 8, 9)
    ]
    df = spark.createDataFrame(
        alt + const + gap, "metric string, ts timestamp, value double"
    )
    got = {
        (r.metric, r.lag): (r.n_pairs, r.acf)
        for r in autocorrelation(df, lags=(1,), y_scale=100).collect()
    }
    n, acf = got[("alt", 1)]
    assert n == 9 and abs(acf - (-1.0)) < 1e-12
    n, acf = got[("const", 1)]
    assert n == 9 and acf is None
    n, _ = got[("gap", 1)]
    assert n == 6  # 3 pairs per island, none across the 2-hour hole


def test_cross_correlation_detects_known_lead(spark):
    """Y = X shifted 2 hours -> ccf peaks at exactly lag 2 (r = 1);
    lag 0 between a varying X and its shifted copy is below 1; a
    metric against itself at lag 0 is exactly 1."""
    import datetime as dt

    from rearview_spark.operators.timeseries import cross_correlation

    t0 = dt.datetime(2024, 1, 1)
    xvals = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0, 0.0, 6.0]
    rows = [("x", t0 + dt.timedelta(hours=i), v) for i, v in enumerate(xvals)]
    rows += [("y", t0 + dt.timedelta(hours=i + 2), v) for i, v in enumerate(xvals)]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    got = {
        r.lag: (r.n_pairs, r.ccf)
        for r in cross_correlation(df, "x", "y", lags=(0, 1, 2)).collect()
    }
    n, ccf = got[2]
    assert n == 10 and abs(ccf - 1.0) < 1e-12
    assert got[0][1] is None or got[0][1] < 1.0
    self0 = {
        r.lag: r.ccf for r in cross_correlation(df, "x", "x", lags=(0,)).collect()
    }
    assert abs(self0[0] - 1.0) < 1e-12


def test_ema_crossover_hand_case(spark):
    import datetime as dt

    from rearview_spark.operators.timeseries import ema_crossover

    # step series: flat (diff 0 — a DEPARTURE from equality, not a
    # cross, so no signal), jump high (fast pulls above), drop low
    # (fast falls through: death), jump again (golden). Signals only
    # on true side changes vs the last NON-ZERO diff.
    t0 = dt.datetime(2024, 1, 1)
    vals = [1.0] * 6 + [10.0] * 6 + [1.0] * 8 + [10.0] * 8
    rows = [
        ("m", t0 + dt.timedelta(hours=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    out = ema_crossover(df, fast_n=3, slow_n=10).collect()
    kinds = [r["cross"] for r in out]
    assert kinds.count("golden") >= 1 and kinds.count("death") >= 1
    # the FIRST signal is the death after the drop — the initial rise
    # departs from equality with no prior side, so it must NOT signal
    first = out[0]
    assert first["cross"] == "death" and first["ts"] >= rows[12][1]
    # alternating semantics: no two consecutive signals of one kind
    assert all(a != b for a, b in zip(kinds, kinds[1:]))
    # at every golden row fast > slow; death rows the reverse
    for r in out:
        if r["cross"] == "golden":
            assert r["fast"] > r["slow"]
        else:
            assert r["fast"] < r["slow"]

    import pytest
    with pytest.raises(ValueError):
        ema_crossover(df, fast_n=10, slow_n=3)

def test_seasonal_mad_anomalies_hand_computed(spark):
    """bucket_seconds=1, period=2 -> slot = ts % 2. Even slot holds
    [10, 11, 10, 11, 100]: med 11 (rank-explicit), MAD 1, so only the
    100 flags (z = 0.6745*89 = 60.0305). Odd slot is constant 50 —
    MAD 0 punts even though 50 sits far from the even slot's level
    (exactly the seasonal point: each slot judges itself)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from rearview_spark.operators.anomaly import seasonal_mad_anomalies

    rows = [
        ("m", 0, 10.0), ("m", 2, 11.0), ("m", 4, 10.0),
        ("m", 6, 11.0), ("m", 8, 100.0),
        ("m", 1, 50.0), ("m", 3, 50.0), ("m", 5, 50.0), ("m", 7, 50.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = seasonal_mad_anomalies(
        df, threshold=3.5, period=2, bucket_seconds=1
    ).collect()
    assert [(r["metric"], r["slot"], r["ts"], r["value"]) for r in out] == [
        ("m", 0, 8, 100.0)
    ]
    assert out[0]["robust_z"] == 0.6745 * 89.0 / 1.0

    with _pytest.raises(ValueError, match="period must be"):
        seasonal_mad_anomalies(df, period=0)

    neg = spark.createDataFrame(
        [("m", -5, 1.0)], "metric string, ts long, value double"
    )
    with _pytest.raises(Exception, match="negative epoch"):
        seasonal_mad_anomalies(neg, period=2, bucket_seconds=1).collect()

    # NULL series key fails loudly (ADVICE r15) instead of concat_ws
    # silently dropping it into a slot-only group the oracle never forms
    nullkey = spark.createDataFrame(
        [(None, 5, 1.0), ("m", 6, 2.0)], "metric string, ts long, value double"
    )
    with _pytest.raises(Exception, match="NULL metric"):
        seasonal_mad_anomalies(nullkey, period=2, bucket_seconds=1).collect()
