"""Unit tests for the distributed-ranking helpers in operators/_util.py
(ADVICE r11 medium: the helpers backing customer_value_deciles' rewrite
had no direct coverage — a regression in the offset/ntile math would
have surfaced only at a driver rotation)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _ref_ntile(spark, n: int, k: int) -> list[tuple[int, int]]:
    """(rn, tile) for rows 1..n from Spark's own ntile — the spec."""
    df = spark.range(1, n + 1).withColumnRenamed("id", "rn")
    w = Window.orderBy("rn")
    return sorted(
        (r["rn"], r["tile"])
        for r in df.select("rn", F.ntile(k).over(w).alias("tile")).collect()
    )


@pytest.mark.parametrize(
    "n,k",
    [
        (3, 10),   # n < k: row i -> tile i, tiles k..n+1 empty
        (13, 5),   # n % k != 0: first 3 tiles get 3 rows, last 2 get 2
        (20, 4),   # n % k == 0: uniform tiles
        (1, 1),
        (7, 7),    # n == k: one row per tile
        (50, 7),   # r=1: single wide tile then uniform
    ],
)
def test_ntile_from_row_number_matches_spark_ntile(spark, n, k):
    from rearview_spark.operators._util import ntile_from_row_number

    df = spark.range(1, n + 1).withColumnRenamed("id", "rn")
    got = sorted(
        (r["rn"], r["tile"])
        for r in df.select(
            "rn", ntile_from_row_number(F.col("rn"), n, k).alias("tile")
        ).collect()
    )
    assert got == _ref_ntile(spark, n, k)


def test_ntile_closed_form_is_integer_exact_near_int64(spark):
    """The div-based closed form must stay exact where float '/' under
    floor would round: rn near 2^60 with a huge n. Tile boundaries
    follow directly from q = n div k: rows 1..(q+1) -> tile 1 (r=1
    wide tile), then width q."""
    from rearview_spark.operators._util import ntile_from_row_number

    n = (1 << 60) + 1  # q = n // k huge, r = 1
    k = 4
    q = n // k
    probes = {
        1: 1,
        q + 1: 1,          # last row of the wide first tile
        q + 2: 2,          # first row of tile 2
        2 * q + 1: 2,      # last row of tile 2
        2 * q + 2: 3,
        n: 4,
    }
    df = spark.createDataFrame([(rn,) for rn in probes], "rn long")
    got = {
        r["rn"]: r["tile"]
        for r in df.select(
            "rn", ntile_from_row_number(F.col("rn"), n, k).alias("tile")
        ).collect()
    }
    assert got == probes


def test_global_row_number_total_order_and_count(spark):
    from rearview_spark.operators._util import global_row_number

    rows = [(i, float((i * 37) % 101)) for i in range(101)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    ranked, total = global_row_number(df, [F.col("v").desc(), F.col("id")])
    assert total == 101
    got = [
        (r["v"], r["id"])
        for r in ranked.orderBy("global_rn").collect()
    ]
    assert got == sorted(((v, i) for i, v in rows), key=lambda t: (-t[0], t[1]))
    rns = sorted(r["global_rn"] for r in ranked.collect())
    assert rns == list(range(1, 102))  # dense 1..n, offsets correct


def test_global_row_number_rejects_colliding_columns(spark):
    from rearview_spark.operators._util import global_row_number

    df = spark.range(5).withColumn("global_rn", F.lit(0))
    with pytest.raises(ValueError, match="global_rn"):
        global_row_number(df, ["id"])
    df2 = spark.range(5).withColumn("_gpid", F.lit(0))
    with pytest.raises(ValueError, match="_gpid"):
        global_row_number(df2, ["id"])


def test_ranked_topk_matches_global_window(spark):
    from rearview_spark.operators._util import ranked_topk

    df = spark.createDataFrame(
        [(i, float((i * 13) % 29)) for i in range(40)], "id long, v double"
    ).repartition(6)
    order = [F.col("v").desc(), F.col("id")]
    got = sorted(
        (r["rank"], r["id"], r["v"]) for r in ranked_topk(df, order, 7).collect()
    )
    ref = sorted(
        (r["rank"], r["id"], r["v"])
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order))
        )
        .filter(F.col("rank") <= 7)
        .collect()
    )
    assert got == ref


def test_global_running_sum_matches_single_partition_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import global_running_sum

    rows = [(i, (i * 7) % 13 - 6) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    got = {
        r["k"]: r["running_sum"]
        for r in global_running_sum(df, ["k"], "v").collect()
    }
    # reference: plain python prefix sums over the sorted order
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v
        want[k] = acc
    assert got == want
    import pytest as _pt

    with _pt.raises(ValueError):
        global_running_sum(df.withColumn("running_sum", F.lit(1)), ["k"], "v")


def test_global_running_sum_null_values_count_as_zero(spark):
    """NULL value rows (including a range partition that is ALL NULLs)
    must not crash the driver-side prefix walk with int(None) — they
    contribute zero and the cumulative sum carries through (ADVICE
    r12). Keys are arranged so the low range partitions are NULL-only."""
    from rearview_spark.operators._util import global_running_sum

    rows = [(i, None if i < 120 else i % 5 + 1) for i in range(240)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    got = {
        r["k"]: r["running_sum"]
        for r in global_running_sum(df, ["k"], "v").collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v or 0
        want[k] = acc
    assert got == want


def test_global_prefix_offsets_are_flat_map_lookup(spark):
    """The per-partition prefix offsets must inline as ONE literal-map
    lookup, not a P-deep chained CASE tree (codegen-hostile at P in the
    thousands — VERDICT r12 next-round #5): the plan carries a
    map literal and zero CASE WHEN chains from the offset expression."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import global_row_number

    df = spark.createDataFrame(
        [(i, i * 3 % 17) for i in range(300)], "k long, v long"
    ).repartition(8)
    out, total = global_row_number(df, ["k"], "rn")
    assert total == 300
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" not in plan
    assert "map_from" in plan or "map(" in plan
    # and the numbers are still the global order
    got = sorted((r["k"], r["rn"]) for r in out.collect())
    assert [rn for _, rn in got] == list(range(1, 301))


def test_global_row_number_costs_only_the_range_shuffle(spark, count_jobs):
    """The range shuffle's sample, map and checkpoint-fill jobs are the
    whole cost: the fill observes the per-partition counts (no grouped
    collect) and the ranks need no window exchange, so reading the
    result is a single job."""
    from rearview_spark.operators._util import global_row_number

    pre = spark.range(200).select(
        ((F.col("id") * 37) % 101).alias("v"), "id"
    ).repartition(4).localCheckpoint(eager=True)
    (out, total), jobs = count_jobs(lambda: global_row_number(pre, ["v", "id"]))
    got, read_jobs = count_jobs(out.collect)
    assert (jobs, read_jobs) == (3, 1)
    assert total == 200
    assert [(r["v"], r["id"]) for r in sorted(got, key=lambda r: r["global_rn"])] == sorted(
        ((i * 37) % 101, i) for i in range(200)
    )
    assert sorted(r["global_rn"] for r in got) == list(range(1, 201))


@pytest.mark.parametrize("partitions", [1, 300])
def test_global_row_number_dense_at_any_partition_bound(spark, partitions):
    """With far more shuffle partitions than rows most range partitions
    are empty (or AQE coalesces them); every partition id stays under
    the bound the observation covers, so the ranks are still 1..n. One
    partition holds every row."""
    from rearview_spark.operators._util import global_row_number

    df = spark.createDataFrame([(i,) for i in (5, 3, 9, 1, 7)], "k long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        out, total = global_row_number(df, [F.col("k").desc()], "rn")
        got = sorted((r["rn"], r["k"]) for r in out.collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert total == 5
    assert got == [(1, 9), (2, 7), (3, 5), (4, 3), (5, 1)]


def test_peak_concurrency_hand_case(spark):
    from rearview_spark.operators.behavior import peak_concurrency

    # [0,10) [5,15) [9,12) -> peak 3 in [9,10); back-to-back [15,20)
    # never overlaps (end sorts before start at t=15)
    rows = [(1, 0, 10), (2, 5, 15), (3, 9, 12), (4, 15, 20)]
    df = spark.createDataFrame(rows, "event_id long, start long, end long")
    r = peak_concurrency(df, "start", "end", "event_id").collect()[0]
    assert (r["peak_concurrency"], r["at_s"]) == (3, 9)


def test_exact_percentiles_matches_sorted_indexing(spark):
    """Element at ceil(p*n) of the sorted non-null values, with heavy
    ties and NULLs excluded; guards on empty percentile list, out-of-
    range p, and an all-NULL column."""
    import math

    import pytest as _pt

    from rearview_spark.operators.quantiles import exact_percentiles

    vals = [float(v) for v in ([5] * 10 + [1] * 5 + [9] * 3 + [2] * 7)] + [None]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    ps = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
    got = {
        r["p"]: (r["rank"], r["value"])
        for r in exact_percentiles(df, "v", ps, "id").collect()
    }
    nn = sorted(v for v in vals if v is not None)
    for p in ps:
        k = max(1, math.ceil(p * len(nn)))
        assert got[p] == (k, nn[k - 1]), (p, got[p])

    with _pt.raises(ValueError, match="at least one"):
        exact_percentiles(df, "v", [], "id")
    with _pt.raises(ValueError, match="outside"):
        exact_percentiles(df, "v", [1.5], "id")
    with _pt.raises(ValueError, match="non-null"):
        exact_percentiles(df.filter("v IS NULL"), "v", [0.5], "id")


def test_global_running_sums_multi_column(spark):
    """The multi-column form matches per-column single calls and pays
    one checkpoint: both cumulatives agree with a driver-side prefix
    computation over the same strict order."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import global_running_sums

    rows = [(i, i % 3, (i * 7) % 5) for i in range(50)]
    df = spark.createDataFrame(rows, "k int, a int, b int")
    out = global_running_sums(df, ["k"], ["a", "b"], ["ca", "cb"]).orderBy("k").collect()
    ra = rb = 0
    for r in out:
        ra += r["a"]
        rb += r["b"]
        assert (r["ca"], r["cb"]) == (ra, rb)

    import pytest
    with pytest.raises(ValueError):
        global_running_sums(df, ["k"], ["a"], ["x", "y"])
    with pytest.raises(ValueError):
        global_running_sums(df, ["k"], ["a"], ["a"])  # clashes with input


def test_observed_checkpoint_scalars_match_separate_agg(spark):
    """The observed scalars equal a separate agg().collect() over the
    same rows, and the returned frame holds those rows."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import observed_checkpoint

    df = spark.range(200).select(
        (F.col("id") % 17).alias("k"), (F.col("id") * 3).alias("v")
    ).groupBy("k").agg(F.sum("v").alias("v"))
    cp, got = observed_checkpoint(
        df, n=F.count(F.lit(1)), mx=F.max("v"), s=F.sum("v")
    )
    want = df.agg(
        F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"), F.sum("v").alias("s")
    ).collect()[0].asDict()
    assert got == want
    assert sorted(map(tuple, cp.collect())) == sorted(map(tuple, df.collect()))


def test_observed_checkpoint_empty_frame(spark):
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import observed_checkpoint

    df = spark.createDataFrame([], "v bigint")
    cp, got = observed_checkpoint(df, n=F.count(F.lit(1)), mx=F.max("v"))
    assert got == {"n": 0, "mx": None}
    assert cp.count() == 0


def test_observed_checkpoint_launches_one_job(spark, count_jobs):
    """Over an input whose shuffle already ran (a checkpointed,
    repartitioned frame), the fill job alone yields the scalars."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import observed_checkpoint

    pre = spark.range(100).repartition(4, "id").localCheckpoint(eager=True)
    (_, got), jobs = count_jobs(
        lambda: observed_checkpoint(
            pre.select((F.col("id") * 2).alias("v")), mx=F.max("v")
        )
    )
    assert got == {"mx": 198}
    assert jobs == 1


def _countdown(spark, values):
    """A frame of ``v`` values and a step that lowers each by one down
    to 0, recording every call: the label sum falls until all are 0."""
    from pyspark.sql import functions as F

    calls = []

    def step(df, obs):
        calls.append(obs)
        return df.select(F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))

    return spark.createDataFrame([(v,) for v in values], "v bigint"), step, calls


def test_fixed_point_stops_on_first_unchanged_scalar(spark):
    """Sums 3 -> 1 -> 0 -> 0: the third round repeats the second's
    scalar and ends the loop; each step sees the previous round's
    observation, the first the seeded one. Seeded with the input's own
    sum, an input already at its fixed point costs one round."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import fixed_point

    df, step, calls = _countdown(spark, [0, 1, 2])
    out = fixed_point(
        df, step, 10, obs={"s": 3}, converge_on="s", s=F.sum("v")
    )
    assert calls == [{"s": 3}, {"s": 1}, {"s": 0}]
    assert sorted(r["v"] for r in out.collect()) == [0, 0, 0]

    done, step, calls = _countdown(spark, [0, 0])
    fixed_point(done, step, 10, obs={"s": 0}, converge_on="s", s=F.sum("v"))
    assert len(calls) == 1


def test_fixed_point_warns_only_when_rounds_run_out(spark):
    import warnings

    from pyspark.sql import functions as F

    from rearview_spark.operators._util import fixed_point

    df, step, calls = _countdown(spark, [5])
    with pytest.warns(RuntimeWarning, match=r"my_op: stopped at max_steps=2 "):
        fixed_point(
            df, step, 2, obs={"s": 5}, converge_on="s",
            op="my_op", cap_name="max_steps", s=F.sum("v"),
        )
    assert len(calls) == 2
    df, step, _ = _countdown(spark, [1])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        fixed_point(
            df, step, 5, obs={"s": 1}, converge_on="s",
            op="my_op", cap_name="max_steps", s=F.sum("v"),
        )
        # a fixed round count (no converge_on) never warns
        fixed_point(df, step, 1)


def test_fixed_point_warning_counts_the_callers_rounds(spark):
    """An operator that ran its first round itself passes ``done=1``:
    the warning names the cap its caller gave, not the rounds left."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import fixed_point

    df, step, calls = _countdown(spark, [5])
    with pytest.warns(RuntimeWarning, match=r"my_op: stopped at max_steps=3 "):
        fixed_point(
            df, step, 2, obs={"s": 5}, converge_on="s",
            op="my_op", cap_name="max_steps", done=1, s=F.sum("v"),
        )
    assert len(calls) == 2


def test_fixed_point_without_observations_checkpoints_plainly(spark):
    """No aggregates to observe: each round is a plain eager local
    checkpoint and the seeded obs reaches every step unchanged."""
    from rearview_spark.operators._util import fixed_point

    df, step, calls = _countdown(spark, [2, 4])
    out = fixed_point(df, step, 3, obs={"tag": 1})
    assert calls == [{"tag": 1}] * 3
    assert out._jdf.queryExecution().analyzed().toString().startswith("LogicalRDD")
    assert sorted(r["v"] for r in out.collect()) == [0, 1]


def test_fixed_point_round_launches_one_job(spark, count_jobs):
    """Over a pre-shuffled state a round is its checkpoint's fill job,
    which also yields the observed scalars."""
    from pyspark.sql import functions as F

    from rearview_spark.operators._util import fixed_point

    pre = spark.range(100).repartition(4, "id").localCheckpoint(eager=True)
    for observe in ({"mx": F.max("id")}, {}):
        _, jobs = count_jobs(
            lambda: fixed_point(
                pre, lambda df, _: df.select((F.col("id") * 2).alias("id")), 1,
                **observe,
            )
        )
        assert jobs == 1


def test_release_checkpoint_frees_blocks(spark):
    """Releasing a checkpoint drops its RDD from the persistent set; a
    later read fails instead of recomputing. Anything else is refused."""
    from rearview_spark.operators._util import observed_checkpoint, release_checkpoint

    sc = spark.sparkContext

    def persistent():
        return set(sc._jsc.getPersistentRDDs().keySet())

    cp, _ = observed_checkpoint(spark.range(50).repartition(2))
    rid = cp._jdf.queryExecution().analyzed().rdd().id()
    before = persistent()
    release_checkpoint(cp)
    after = persistent()
    # exactly the checkpoint's RDD leaves (others may only be GC'd)
    assert rid in before and rid not in after and after <= before
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        cp.count()
    with pytest.raises(ValueError, match="checkpointed frame"):
        release_checkpoint(spark.range(5))


def test_literal_frame_round_trips_and_costs_no_job(spark, count_jobs, tmp_path):
    """literal_frame is a LocalRelation of its rows: doubles come back
    bit for bit (repr round-trips; NaN, infinities and -0.0 included),
    the schema is the DDL's, collecting launches no job and writing one.
    No rows give an empty frame of the same schema."""
    import math
    import struct

    from rearview_spark.operators._util import literal_frame

    doubles = [0.1, 1 / 3, -0.0, 5e-324, 1.7976931348623157e308, -2.5e-17,
               float("nan"), float("inf"), float("-inf")]
    rows = [(i, 2**40 + i, x, [x, 1.0 + i]) for i, x in enumerate(doubles)]
    schema = "i int, n bigint, x double, xs array<double>"
    df = literal_frame(spark, rows, schema)
    assert df.schema.simpleString() == "struct<i:int,n:bigint,x:double,xs:array<double>>"
    got, jobs = count_jobs(df.collect)
    assert jobs == 0

    def same(a, b):
        return struct.pack("<d", a) == struct.pack("<d", b) or math.isnan(a) and math.isnan(b)

    assert [(r["i"], r["n"]) for r in got] == [(i, n) for i, n, _, _ in rows]
    for r, (_, _, x, xs) in zip(got, rows):
        assert same(r["x"], x) and len(r["xs"]) == 2
        assert all(same(a, b) for a, b in zip(r["xs"], xs))
    _, jobs = count_jobs(lambda: df.write.parquet(str(tmp_path / "lit")))
    assert jobs == 1
    empty = literal_frame(spark, [], schema)
    assert empty.schema.simpleString() == df.schema.simpleString()
    assert empty.collect() == []
