"""Physical-plan regression tests: the scale properties PLANS.md claims
(single scans, exchange reuse, broadcast joins) are asserted here so a
refactor cannot silently reintroduce a multi-scan or corpus-sized
shuffle. Complements test_joins' plan assertions for the join family.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_ts_anomaly_mad_single_scan(spark):
    """The window-form median rewrite exists to keep ts_anomaly_mad at
    ONE fact scan (PLANS.md); the first join-based formulation scanned
    events four times. One ReadSchema in the formatted plan == one
    logical parquet scan."""
    from rearview_spark.plans.timeseries_queries import ts_anomaly_mad

    df = ts_anomaly_mad(spark, "/root/testdata/sf0.001")
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("ReadSchema") == 1


def test_dsir_reuses_per_doc_bucket_exchange(spark):
    """Both DSIR branches re-aggregate the per-(doc,bucket) subtree; the
    executed plan must show ReusedExchange so the explode+md5 pass runs
    once (PLANS.md)."""
    from rearview_spark.plans.selection_queries import doc_dsir_importance

    plan = _executed(doc_dsir_importance(spark, "/root/testdata/sf0.001"))
    assert "ReusedExchange" in plan


def test_mad_scores_one_exchange_on_series_key(spark):
    """Both medians share one series-keyed shuffle: exactly one
    hashpartitioning Exchange, no join nodes."""
    from rearview_spark.operators.anomaly import mad_scores

    df = spark.createDataFrame(
        [("m", i, float(i % 7)) for i in range(50)],
        "metric string, ts long, value double",
    )
    plan = mad_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning") == 1
    assert "Join" not in plan


def test_token_budget_mix_broadcasts_thresholds(spark):
    """The threshold frame is |strata|-sized and must come back as a
    broadcast join — the corpus side never shuffles for the decision."""
    from rearview_spark.operators.curation import token_budget_mix

    df = spark.createDataFrame(
        [(i, "w " * 5, "en" if i % 2 else "de") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    out = token_budget_mix(df, {"en": 50})
    plan = _executed(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_duplicated_spans_never_pairwise(spark):
    """The span operator's scale claim (PLANS.md): cost linear in
    duplicated positions — the plan must contain NO pairwise node
    (cartesian / nested-loop / doc-doc self-join) and at most 4
    Exchanges (gram-hash agg x2, island window on doc id, span agg
    sharing it); the dup-hash and doc-text joins are hash joins keyed
    on h / doc id."""
    from rearview_spark.operators.dedup import duplicated_spans
    from rearview_spark.sources.loader import Tables

    docs = Tables(spark, "/root/testdata/sf0.001").documents
    df = duplicated_spans(docs, window=8, min_tokens=8)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_exchanges = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(")
        and ") Exchange" in line
    )
    assert n_exchanges <= 4, plan


def test_incremental_embedding_store_side_never_reprojected(spark):
    """The store's scale contract (similarity.embedding_store_rows):
    band keys are computed ONCE at append time. Reading the persisted
    store back and exploding its band keys — exactly what each
    micro-batch does — must involve ZERO hyperplane math (the
    aggregate()/zip_with sign projection), while building fresh store
    rows from raw vectors must show it. A refactor that starts
    re-projecting history per batch fails the first assertion."""
    import tempfile

    from rearview_spark.operators.similarity import embedding_store_rows
    from rearview_spark.sources.loader import Tables

    emb = Tables(spark, "/root/testdata/sf0.001").embeddings

    def fmt(df) -> str:
        return spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).lower()

    fresh = embedding_store_rows(emb.filter(F.col("vec_id") % 2 == 0))
    assert "zip_with" in fmt(fresh)  # building rows DOES project

    d = tempfile.mkdtemp(prefix="plan_vec_store_")
    fresh.write.mode("overwrite").parquet(d)
    store = spark.read.parquet(d)
    banded_store = store.select("vec_id", F.explode("bands").alias("bb")).select(
        "vec_id", "bb.band", "bb.bh"
    )
    sp = fmt(banded_store)
    assert "zip_with" not in sp and "aggregate(" not in sp
    # and the probe is a pruned columnar read: the stored vector column
    # is not scanned just to band-join
    assert "emb" not in sp.split("readschema")[1].split("\n")[0]


def test_incremental_minhash_store_side_never_rebanded(spark):
    """The minhash store's scale contract (dedup.minhash_store_rows,
    VERDICT_r09 finding #1): band keys are materialized ONCE at append
    time. Reading the persisted store back and exploding its band keys
    — exactly what incremental_minhash_dedup now does on the store side
    — must involve ZERO signature math (no md5 band hashing, no conv()
    from the shingle fingerprints), and the scan must not read ``sig``
    at all; building fresh store rows from text must show the banding.
    A refactor that reverts to band_signatures-over-history fails the
    md5 assertion."""
    import tempfile

    from rearview_spark.operators.dedup import minhash_store_rows
    from rearview_spark.sources.loader import Tables

    docs = Tables(spark, "/root/testdata/sf0.001").documents

    def fmt(df) -> str:
        return spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).lower()

    fresh = minhash_store_rows(docs.filter(F.col("doc_id") % 2 == 0))
    assert "md5" in fmt(fresh)  # building rows DOES band

    d = tempfile.mkdtemp(prefix="plan_sig_store_")
    fresh.write.mode("overwrite").parquet(d)
    store = spark.read.parquet(d)
    # the exact store-side probe projection the incremental operator runs
    banded_store = store.select("doc_id", F.explode("bands").alias("bb")).select(
        "doc_id", "bb.band", "bb.bh"
    )
    sp = fmt(banded_store)
    assert "md5" not in sp and "conv(" not in sp
    read_schema = sp.split("readschema")[1].split("\n")[0]
    assert "sig" not in read_schema and "shs" not in read_schema


def test_bloom_prune_adds_no_exchange_or_udf(spark):
    """bloom_prune's whole point: the probe is a codegen'd filter over
    an inlined word array — zero added Exchange, zero Python UDF. A
    refactor that turns it into a join or a UDF breaks the scale story."""
    from rearview_spark.operators import bloom as B

    dim = spark.createDataFrame([(i,) for i in range(8)], "dk long")
    words = B.bloom_build(dim, "dk", m_bits=256, k=3)
    big = spark.range(100).selectExpr("id AS k")
    plan = _executed(B.bloom_prune(big, "k", words, m_bits=256, k=3))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_setsim_and_edit_distance_joins_never_pairwise(spark):
    """Both exact-join operators must plan as equi-joins on their
    candidate keys — any CartesianProduct / BroadcastNestedLoopJoin
    means the filter degenerated into the all-pairs comparison it
    exists to avoid."""
    from rearview_spark.operators.dedup import setsim_prefix_pairs
    from rearview_spark.operators.joins import edit_distance_join

    df = spark.createDataFrame(
        [(i, f"token{i} shared words here {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    for out in (
        setsim_prefix_pairs(df, threshold=0.5),
        edit_distance_join(df.selectExpr("doc_id", "text AS s"), "s", "doc_id"),
    ):
        plan = _executed(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_bars_single_aggregate_with_partial(spark):
    """One aggregate pair across ONE Exchange, with map-side partials
    (partial_min before the shuffle), and no Window operator — struct
    min/max makes Spark pick SortAggregate, but the shuffle still
    carries only bucket-cardinality partial rows."""
    import datetime as _dt

    rows = [("m", _dt.datetime(2024, 1, 1, h % 24, 0, 0), float(h)) for h in range(48)]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    from rearview_spark.operators.timeseries import ohlc_bars

    df.sparkSession.conf.set("spark.sql.adaptive.enabled", "true")
    plan = _executed(ohlc_bars(df, step="6 hours"))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_min" in final
    assert "Window" not in final


def _unbounded_global_windows(df) -> list[str]:
    """Physical Window nodes with an EMPTY partition spec and no
    limit-type node below them — i.e. single-task sorts over DATA-sized
    input, the shape VERDICT r10 banned. A partition-less window whose
    subtree contains TakeOrderedAndProject/GlobalLimit/CollectLimit is
    fine: its input is bounded by a literal k (the ranked_topk pattern).
    Walks the JVM plan tree so detection keys on the actual
    partitionSpec, not on string formatting.

    Second exemption: a window whose every frame is LITERAL-bounded
    sliding ROWS (no "unbounded" anywhere in the spec — a trailing
    moving average, never row_number/rank/global sums, whose frames
    carry unboundedpreceding). That shape only goes partition-less when
    Catalyst folds a constant partition key away — i.e. a Graphite
    combined render series (sumSeries output), which is maxDataPoints-
    bounded by render semantics, not corpus-sized."""
    limit_nodes = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
    offenders: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        if name in ("WindowExec", "WindowGroupLimitExec") and node.partitionSpec().isEmpty():
            head = node.toString().splitlines()[0]
            subtree = node.children().apply(0).toString()
            if not any(ln in subtree for ln in limit_nodes) and "unbounded" in head:
                offenders.append(head)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return offenders


def test_no_unbounded_global_window_sweep(spark, sf_dir):
    """VERDICT r10 next-round #4: sweep EVERY registered gate's physical
    plan and fail on any partition-less WindowExec over a data-sized
    frame (the single-task global-sort anti-pattern behind the r10 weak
    findings in customer_value_deciles and doc_pmi_collocations). The
    only exemptions are the two documented bounded shapes in
    :func:`_unbounded_global_windows` — post-limit rank windows
    (ranked_topk) and literal-frame sliding aggregates over a folded
    constant series key. This turns the bench log's "WindowExec: No
    Partition Defined" WARN into a CI failure, so the class of bug
    cannot re-enter via a new gate. ~2.5 min: plan construction only
    for most gates (a few run bounded jobs at build time —
    checkpointed iterations, versioned stores)."""
    import rearview_spark.plans as plans

    bad: dict[str, list[str]] = {}
    gates = {**plans.all_queries(), **plans.all_pending()}
    for name, entry in gates.items():
        out = _unbounded_global_windows(entry["fn"](spark, sf_dir))
        if out:
            bad[name] = out
    assert not bad, f"unbounded global window(s): {bad}"


def test_er_entity_sizes_need_no_join_after_components(spark, sf_dir):
    """er_customer_entities sizes each entity with a count over a window
    partitioned by component, not a per-component aggregate joined back:
    above the components' checkpoint the plan holds no join."""
    from rearview_spark.plans.relational import er_customer_entities

    plan = er_customer_entities(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert "LogicalRDD" in text and "Window" in text
    assert "Join" not in text


def test_prf_expansion_rank_is_limit_bounded(spark):
    """prf_expansion_terms' prf_rank (ADVICE r11 low #4) now ranks via
    ranked_topk — the feedback-vocabulary aggregate reaches the rank
    window only through a TakeOrderedAndProject, never a global sort."""
    from rearview_spark.operators.retrieval import prf_expansion_terms

    df = spark.createDataFrame(
        [(i, f"alpha beta{i % 5} gamma delta{i % 3} common words") for i in range(30)],
        "doc_id long, text string",
    )
    out = prf_expansion_terms(df, ["alpha"], n_feedback=5, n_expand=4)
    bad = _unbounded_global_windows(out)
    assert not bad, f"unbounded global window(s): {bad}"


def test_semantic_contamination_broadcasts_benchmark_side(spark):
    """The decontamination scale claim (PLANS.md r12): the corpus never
    shuffles — both the candidate join and the verify join take the
    BENCHMARK side as a broadcast, so the pre-checkpoint plan has
    broadcast joins and no SortMergeJoin/Exchange against corpus rows.
    Probed on the inner (pre-localCheckpoint) frame by rebuilding the
    pipeline shape with scope-managed caches."""
    from pyspark.sql import functions as F

    from rearview_spark.operators import similarity as S

    dim = 16
    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5 - 2) for d in range(dim)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100 + i, [float((i + d) % 3 - 1) for d in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    out = S.semantic_contamination(
        corpus, bench, threshold=0.5, planes=8, bands=2, dim=dim
    )
    # the operator eagerly checkpoints; assert on the shape the run took
    # via the candidate/verify construction rerun without the checkpoint
    band_structs = S._sign_band_structs("embedding", 8, 2, dim)
    csigs = corpus.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", "bb.band", "bb.bh")
    bsigs = bench.select(
        F.col("vec_id").alias("bench_id"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select("bench_id", "bb.band", "bb.bh")
    cands = csigs.join(F.broadcast(bsigs), ["band", "bh"])
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert out.columns == ["vec_id", "best_bench_id", "max_cosine", "n_matches"]


def test_bucketed_join_elides_exchange(spark, tmp_path):
    """The bucketed-layout claim (sources/bucketed.py): two tables
    written bucketBy the same (key, count) join through the catalog
    read path with ZERO Exchange in the executed plan — the fact-fact
    shuffle is pre-paid at write time. Broadcast is disabled for the
    probe so the co-located SortMergeJoin (not a broadcast plan) is
    what proves it; a plain parquet-path read of the SAME files must
    re-shuffle (the catalog carries the bucket spec, the path does
    not)."""
    from pyspark.sql import functions as F

    from rearview_spark.sources.bucketed import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 4000).select(
        (F.col("id") % 2000).alias("k"), (F.col("id") % 11).alias("b")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(left, "t_bkt_left", "k", 4, path=str(tmp_path / "l"))
        write_bucketed(right, "t_bkt_right", "k", 4, path=str(tmp_path / "r"))
        j = read_bucketed(spark, "t_bkt_left").join(
            read_bucketed(spark, "t_bkt_right"), "k"
        )
        assert j.count() == 4000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan

        # same files, path read: no bucket spec -> the shuffle returns
        raw = spark.read.parquet(str(tmp_path / "l")).join(
            spark.read.parquet(str(tmp_path / "r")), "k"
        )
        raw.count()
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_bucketed(spark, "t_bkt_left")
        drop_bucketed(spark, "t_bkt_right")


def test_silhouette_single_scan_no_shuffle(spark):
    """silhouette is a narrow projection: ONE corpus scan, ZERO
    exchanges and zero joins before the caller's own ordering — the
    k dot folds are column expressions over SQL-literal centroids
    (operators/similarity.py docstring)."""
    from rearview_spark.operators.similarity import silhouette

    corpus = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "bucket int, centroid array<double>",
    )
    plan = silhouette(corpus, cb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_numeric_outlier_audit_col_keyed_exchanges_only(spark):
    """The audit's windows are col_name-keyed (the mad_scores shape
    widened to columns): no unpartitioned window sweep may appear —
    the WindowExec single-partition warning shape is banned here."""
    from rearview_spark.operators.profiling import numeric_outlier_audit

    df = spark.createDataFrame(
        [(float(i), float(i % 5)) for i in range(40)], "a double, b double"
    )
    plan = (
        numeric_outlier_audit(df, ["a", "b"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_iteration_state_broadcasts_under_cap_and_not_over(spark, monkeypatch):
    """Fixed-point iteration state (PageRank ranks, HITS scores, CC
    labels) lives behind localCheckpoint — a LogicalRDD with no stats —
    so without an explicit hint the planner SMJs and re-shuffles the
    EDGE side every iteration (the r16 measurement: a 3-Exchange SMJ
    per half-iteration). bcast_state() must turn that join into a
    BroadcastHashJoin while the caller-proven row bound fits, and leave
    the shuffled plan untouched past BROADCAST_STATE_MAX (a row-count
    cap: state past it — e.g. billion-node graphs — must never be
    forced into a broadcast; see _util.bcast_state for the executor-
    AND driver-memory sizing the cap encodes)."""
    from rearview_spark.operators import _util

    edges = spark.createDataFrame(
        [(i % 7, (i + 1) % 7) for i in range(50)], "src long, dst long"
    ).repartition("src").localCheckpoint(eager=True)
    state = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("r", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )

    def plan_of(st):
        j = edges.join(st, edges["src"] == st["node"]).groupBy("dst").agg(F.sum("r"))
        return j._jdf.queryExecution().executedPlan().toString()

    under = plan_of(_util.bcast_state(state, 7))
    assert "BroadcastHashJoin" in under

    monkeypatch.setattr(_util, "BROADCAST_STATE_MAX", 3)
    over = plan_of(_util.bcast_state(state, 7))
    assert "BroadcastHashJoin" not in over
    assert "SortMergeJoin" in over


def test_graph_iterations_identical_with_and_without_state_broadcast(
    spark, monkeypatch
):
    """The broadcast hint may change only the physical join strategy —
    pagerank/hits integer recurrences must produce bit-identical rows
    with the guard forced off (the over-cap path) and on."""
    from rearview_spark.operators import _util, graph as G

    pairs = [(2 * i, 2 * (i % 5) + 1) for i in range(30)] + [(0, 7), (4, 9)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def snap():
        pr = sorted(map(tuple, G.pagerank(sym, iterations=3).collect()))
        ht = sorted(map(tuple, G.hits(edges, iterations=2).collect()))
        return pr, ht

    monkeypatch.setattr(_util, "BROADCAST_STATE_MAX", -1)
    off = snap()
    monkeypatch.setattr(_util, "BROADCAST_STATE_MAX", 20_000_000)
    on = snap()
    assert off == on


# --- monitor evaluation ------------------------------------------------------

_T0 = dt.datetime(2024, 1, 1, 0, 0)
_NOW = _T0 + dt.timedelta(minutes=60)


def _series(i: int) -> dict[str, float | None]:
    """Values at minute ``i`` of the monitor-evaluation metric store."""
    return {
        "svc.a.req": 100.0 + i,
        "svc.b.req": 200.0 + 2 * i,
        "svc.a.err": float(i % 4),
        "svc.b.err": None if i == 58 else float((i + 1) % 3),
    }


@pytest.fixture(scope="module")
def metric_store(spark, tmp_path_factory):
    """(parquet-backed metrics frame, the same rows in pandas)."""
    rows = [
        (name, _T0 + dt.timedelta(minutes=i), v)
        for i in range(61)
        for name, v in _series(i).items()
    ]
    path = str(tmp_path_factory.mktemp("metrics") / "metrics.parquet")
    spark.createDataFrame(rows, "metric string, ts timestamp, value double").write.parquet(path)
    return spark.read.parquet(path), pd.DataFrame(rows, columns=["metric", "ts", "value"])


def _spec(id, metrics, minutes, expr="a.max() > 0"):
    from rearview_spark.monitors.evaluate import MonitorSpec

    return MonitorSpec(id=id, metrics=list(metrics), monitor_expr=expr,
                       minutes=minutes, name=f"mon{id}")


def _metric_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")


def test_monitor_evaluation_scans_metrics_once_for_plain_targets(spark, metric_store):
    """Bare-path targets share one metrics scan: 1 target and 30 over
    different windows plan the same number of FileScans."""
    from rearview_spark.monitors.evaluate import evaluate_monitors

    metrics, _ = metric_store
    paths = sorted(_series(0))
    one = evaluate_monitors(spark, [_spec(1, [paths[0]], 5)], metrics, _NOW)
    many = evaluate_monitors(
        spark, [_spec(i, [paths[i % 4]], 1 + i) for i in range(30)], metrics, _NOW
    )
    assert _metric_scans(one) == _metric_scans(many) == 1


def test_plain_target_scan_keeps_each_window(spark, metric_store):
    """A backtest (``to_date``) due beside live monitors: the one metrics
    scan pushes down the targets' own windows, overlapping ones merged,
    not the span from the backtest's start to now, and each monitor sees
    only its own window's points."""
    from rearview_spark.monitors.evaluate import evaluate_monitors

    metrics, _ = metric_store
    backtest = dataclasses.replace(
        _spec(1, ["svc.a.req"], 5), to_date=_T0 + dt.timedelta(minutes=10)
    )
    specs = [backtest, _spec(2, ["svc.a.req"], 5), _spec(3, ["svc.b.req"], 3)]
    df = evaluate_monitors(spark, specs, metrics, _NOW)
    plan = df._jdf.queryExecution().executedPlan().toString().splitlines()
    i = next(i for i, line in enumerate(plan) if "FileScan parquet" in line)
    assert "PushedFilters: [Or(And(GreaterThanOrEqual(ts," in plan[i]
    assert "Filter" in plan[i - 1]
    assert re.findall(r"ts#\d+ >= ([\d:. -]+)\)", plan[i - 1]) == [
        "2024-01-01 00:05:00", "2024-01-01 00:55:00"
    ]
    minutes = {
        r["job_id"]: sorted(int((p["ts"] - _T0).total_seconds()) // 60 for p in r["graph_data"])
        for r in df.collect()
    }
    assert minutes == {1: list(range(5, 11)), 2: list(range(55, 61)), 3: list(range(57, 61))}


# A mixed fleet: raw paths (two groups share svc.a.req over different
# windows, one group mixes a raw path with timeShift, monitors 1 and 11
# share a window), a glob, sumSeries, movingAverage, asPercent, a bad
# later target and a missing series.
MIXED_FLEET = [
    (1, ["svc.a.req"], 5, "a.iloc[-1] > 150"),
    (2, ["svc.a.req"], 3, "a.mean() > 160"),
    (3, ["svc.*.req"], 3, "a.max().max() > 250"),
    (4, ["sumSeries(svc.*.err)"], 4, "a.sum() > 100"),
    (5, ["movingAverage(svc.b.req, 3)"], 5, "a.iloc[-1] > 300"),
    (6, ["svc.a.req", "timeShift(svc.a.req, '-10min')"], 3, "(a - b).abs().max() > 5"),
    (7, ["asPercent(svc.*.err)"], 2, "a.max().max() > 90"),
    (8, ["svc.a.req", "noSuchFn(svc.a.req)"], 5, "a.max() > 0"),
    (9, ["svc.missing"], 5, "a.max() > 0"),
    (10, ["svc.a.req", "svc.b.req"], 2, "(b - a).min() > 150"),
    (11, ["svc.a.req"], 5, "a.max() < 0"),
]
RAW_PATH_IDS = (1, 2, 9, 10, 11)


def _mixed_fleet_runs(spark, metrics) -> dict[int, tuple]:
    """job id -> (status, message, graph_data as (metric, minute, value))."""
    from rearview_spark.monitors.evaluate import evaluate_monitors

    specs = [_spec(*m) for m in MIXED_FLEET]
    out = {}
    for r in evaluate_monitors(spark, specs, metrics, _NOW).collect():
        graph = None if r["graph_data"] is None else [
            (p["metric"], int((p["ts"] - _T0).total_seconds()) // 60,
             None if p["value"] is None else round(p["value"], 9))
            for p in r["graph_data"]
        ]
        out[r["job_id"]] = (r["status"], r["message"], graph)
    return out


# Captured from the evaluator as it was when each target still had its own
# branch and metrics scan.
MIXED_FLEET_EXPECTED = {1: ('failed',
                            'alert: mon1 (a.iloc[-1] > 150)',
                            [('svc.a.req', 55, 155.0),
                             ('svc.a.req', 56, 156.0),
                             ('svc.a.req', 57, 157.0),
                             ('svc.a.req', 58, 158.0),
                             ('svc.a.req', 59, 159.0),
                             ('svc.a.req', 60, 160.0)]),
                        2: ('success',
                            None,
                            [('svc.a.req', 57, 157.0),
                             ('svc.a.req', 58, 158.0),
                             ('svc.a.req', 59, 159.0),
                             ('svc.a.req', 60, 160.0)]),
                        3: ('failed',
                            'alert: mon3 (a.max().max() > 250)',
                            [('svc.a.req', 57, 157.0),
                             ('svc.a.req', 58, 158.0),
                             ('svc.a.req', 59, 159.0),
                             ('svc.a.req', 60, 160.0),
                             ('svc.b.req', 57, 314.0),
                             ('svc.b.req', 58, 316.0),
                             ('svc.b.req', 59, 318.0),
                             ('svc.b.req', 60, 320.0)]),
                        4: ('success',
                            None,
                            [('sumSeries', 56, 0.0),
                             ('sumSeries', 57, 2.0),
                             ('sumSeries', 58, 2.0),
                             ('sumSeries', 59, 3.0),
                             ('sumSeries', 60, 1.0)]),
                        5: ('failed',
                            'alert: mon5 (a.iloc[-1] > 300)',
                            [('svc.b.req', 55, 310.0),
                             ('svc.b.req', 56, 311.0),
                             ('svc.b.req', 57, 312.0),
                             ('svc.b.req', 58, 314.0),
                             ('svc.b.req', 59, 316.0),
                             ('svc.b.req', 60, 318.0)]),
                        6: ('failed',
                            'alert: mon6 ((a - b).abs().max() > 5)',
                            [('svc.a.req', 57, 157.0),
                             ('svc.a.req', 58, 158.0),
                             ('svc.a.req', 59, 159.0),
                             ('svc.a.req', 60, 160.0),
                             ('svc.a.req', 57, 147.0),
                             ('svc.a.req', 58, 148.0),
                             ('svc.a.req', 59, 149.0),
                             ('svc.a.req', 60, 150.0)]),
                        7: ('failed',
                            'alert: mon7 (a.max().max() > 90)',
                            [('svc.a.err', 58, 100.0),
                             ('svc.a.err', 59, 100.0),
                             ('svc.a.err', 60, 0.0),
                             ('svc.b.err', 58, None),
                             ('svc.b.err', 59, 0.0),
                             ('svc.b.err', 60, 100.0)]),
                        8: ('error', "target 'noSuchFn(svc.a.req)': unsupported Graphite function: noSuchFn", None),
                        9: ('error', 'no data in window', None),
                        10: ('failed',
                             'alert: mon10 ((b - a).min() > 150)',
                             [('svc.a.req', 58, 158.0),
                              ('svc.a.req', 59, 159.0),
                              ('svc.a.req', 60, 160.0),
                              ('svc.b.req', 58, 316.0),
                              ('svc.b.req', 59, 318.0),
                              ('svc.b.req', 60, 320.0)]),
                        11: ('success',
                             None,
                             [('svc.a.req', 55, 155.0),
                              ('svc.a.req', 56, 156.0),
                              ('svc.a.req', 57, 157.0),
                              ('svc.a.req', 58, 158.0),
                              ('svc.a.req', 59, 159.0),
                              ('svc.a.req', 60, 160.0)])}


def test_mixed_fleet_runs_match_the_per_target_evaluator(spark, metric_store):
    """Statuses, messages and graph_data of a mixed fleet equal the
    values the evaluator gave when every target was its own branch; the
    raw-path monitors' points equal a pandas recomputation as well."""
    metrics, pdf = metric_store
    runs = _mixed_fleet_runs(spark, metrics)
    assert runs == MIXED_FLEET_EXPECTED

    for id, targets, minutes, _ in MIXED_FLEET:
        if id not in RAW_PATH_IDS:
            continue
        lo = _NOW - dt.timedelta(minutes=minutes)
        expected = [
            (r.metric, int((r.ts - _T0).total_seconds()) // 60, r.value)
            for path in targets
            for r in pdf[(pdf.metric == path) & pdf.ts.between(lo, _NOW)]
            .sort_values("ts").itertuples()
        ]
        assert runs[id][2] == (expected or None), id


_RENDER_TARGETS = [
    "movingAverage(svc.a.req, 3)",
    "sumSeries(svc.*.err)",
    "asPercent(svc.*.req)",
    "timeShift(svc.b.req, '-10min')",
]


def test_render_targets_share_one_fetch(spark, metric_store, count_jobs):
    """3 and 30 distinct render targets, beside a plain target, evaluate
    in the same 2 jobs (the grouped-map shuffle and the result) and read
    the metrics file once: every branch reads the one lazily checkpointed
    fetch through a single partition, so no target adds a scan or an
    exchange of its own. In the executed lineage the branches meet at one
    checkpointed RDD (the fetch's scan sits behind it), and the one file
    scan left is the plain target's."""
    from rearview_spark.monitors.evaluate import evaluate_monitors, release_evaluation

    metrics, _ = metric_store

    def run(n):
        specs = [_spec(i, [_RENDER_TARGETS[i % 4]], 2 + i // 4, "a.max().max() > 1e9")
                 for i in range(n)]
        specs.append(_spec(n, ["svc.a.req"], 5, "a.max() > 1e9"))
        results = evaluate_monitors(spark, specs, metrics, _NOW, with_graph=False)
        df = results.select("status")
        try:
            statuses = {r["status"] for r in df.collect()}
            lineage = df._jdf.queryExecution().executedPlan().execute().toDebugString()
        finally:
            release_evaluation(results)
        return statuses, lineage

    for n in (3, 30):
        (statuses, lineage), jobs = count_jobs(lambda: run(n))
        assert statuses == {"success"}, n
        assert jobs == 2, n
        assert len(set(re.findall(r"(\w+RDD\[\d+\]) at localCheckpoint", lineage))) == 1, n
        assert len(set(re.findall(r"FileScanRDD\[\d+\]", lineage))) == 1, n
