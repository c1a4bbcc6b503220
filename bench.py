"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py [--plans-dir DIR | --ab REF] [QUERY ...]

runs $SPARK_GRAFT_BENCH_REPEATS interleaved passes (default 3):

- QUERY: any registered or pending gate name; none means HEADLINE. An
  unknown name exits non-zero, listing the valid names, before Spark
  starts. ``sim_pq_scan_topk`` also times its index build as the
  ``sim_pq_fit_encode`` line.
- ``--plans-dir DIR``: before timing, write each line's
  ``explain("formatted")`` to ``DIR/<name>.txt`` and print its
  Exchange/Join/Aggregate/Window/Generate node counts and non-empty
  ``PushedFilters`` to stderr.
- ``--ab REF``: check REF out as a detached ``git worktree`` in the temp
  directory, then run 10 pairs of REF's and this tree's bench.py one
  after the other (never two JVMs at once), alternating which goes
  first, one pass per arm; print per-line medians, REF's IQR, win counts
  and an ``ab_verdict``.

Prints ONE JSON line on stdout: metric, value, unit, queries, sf, load
(1-minute loadavg per pass) and a comparable summary. A line's time is
the wall clock of plan construction + ``count()`` (engine throughput, not
collect cost), after a warmup pass on sf0.001 primes the JVM. Every run
also profiles each line: plan vs action seconds and the Spark figures of
a job group set around it. That goes to stderr, one JSON line per query
([min, median, max] seconds, then the min pass's profile), and, for a
full HEADLINE run, into the ``bench_history/`` archive. Named runs are
not archived, so they never move the drift baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rearview_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (scan-agg, join, window, pandas-UDF,
# dedup, similarity, text). Full coverage runs in the correctness gate.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top3_parts_per_brand",
    "latest_order_per_customer",
    "ts_hourly_summarize",  # restored: bench lines are never removed (r16 contract)
    "ts_daily_stats",  # r16 ADDED line: the multi-agg G15 variant
    "ts_moving_average",
    "ts_as_percent",
    "ts_ema",
    "doc_text_features",
    "dedup_minhash_lsh",
    "sim_brute_force_topk",
    "q7_nation_volume",
    "ev_sessionization",
    "monitor_run_statuses",
    "stream_hourly_stats",
    "dedup_embedding_cosine",
    "dedup_simhash_pairs",
    "q10_returned_items",
    "ev_asof_last_purchase",
    "q8_market_share",
    "ts_rollup_cascade",
    "doc_tfidf_top_terms",
    # round-2 additions: curation + graphite long tail + compressed ANN
    "doc_benchmark_contamination",
    "doc_pack_sequences",
    "ts_weighted_average",
    # round-4: ANN serving split — the PQ index (codebooks + codes) is
    # built ONCE and persisted, as a deployment would (build amortizes
    # across millions of queries); the headline line times only the
    # ADC scan over the persisted index. Build cost is reported as its
    # own line (sim_pq_fit_encode) so neither number hides the other.
    "sim_pq_scan_topk",
    # round-5: rollup-tier routing (serve summarize from materialized tiers)
    "ts_rollup_router",
    # round-6: subquery-shape join family + new pipeline restructurings
    "q21_shape_waiting_suppliers",
    "doc_segment_dedup",
    "doc_bm25_topk",
    # round-6: selection + robust-anomaly families
    "doc_dsir_importance",
    "ts_anomaly_mad",
    # round-7: the r06-staged gates, now registered
    "ts_lttb_downsample",
    "sim_range_search",
    # round-9: the r07-staged gates, now registered — one line per new
    # operator family (incremental dedup, span dedup, cluster-balanced
    # selection); doc_html_clean / doc_leakage_safe_split share plan
    # families already timed (regexp chain, component join).
    "dedup_incremental_minhash",
    "dedup_duplicated_spans",
    "sel_cluster_balanced",
    # round-9: the bounded-mapInPandas media decode family (synthesize +
    # zlib inflate + unfilter per row) gets its own perf line
    "media_png_pixels",
    # round-10: one line per new plan family — two-scan exact heavy
    # hitters (vs the full GROUP BY it replaces), iterative fixed-point
    # PageRank (checkpointed edge reuse across 5 joins), and the
    # index-served BM25 (posting-list probe vs corpus scan)
    "ev_heavy_hitters",
    "graph_pagerank",
    "doc_bm25_indexed",
    # round-10 second batch: corpus-level PMI (two explodes into
    # vocab-sized aggs), seasonal decomposition (window pass + tiny
    # joins), Bloom-pruned join (runtime-filter probe). The exact
    # set-similarity join (dedup_setsim_prefix) is deliberately NOT a
    # bench line: it is output-bound by design (~3-8 s warm at sf0.1, but
    # cold/loaded samples ranged to 31 s against a ~23 s whole-bench
    # total) and its perf story is the measured decade-scaling table
    # in PLANS.md.
    "doc_pmi_collocations",
    "ts_seasonal_decompose",
    "ev_bloom_prune_join",
    # round-12: one line per new plan family — asymmetric sign-LSH
    # probe against a broadcast benchmark (decontamination), global-rank
    # bucket join (sorted-neighborhood blocking), sketch-merge sliding
    # distinct (daily HLL registers + window max), and the outer
    # stream-stream join's state/flush cost
    "sim_contamination",
    "dedup_sorted_neighborhood",
    "ev_hll_sliding_distinct",
    "stream_outer_attribution",
    # round-13: one line per newly REGISTERED plan family (the r12
    # backlog flipped live this round) — end-to-end entity resolution
    # (blocking + match + closure), Arrow-batched integer Gram + power
    # iteration (distributed PCA), the global-running-sum sweep line
    # (peak concurrency), the index-served trigram LIKE probe, and the
    # two-joins-per-iteration HITS fixed point. The other new gates ride
    # plan families already timed (window sweeps, group windows,
    # iterative min-label joins).
    "er_customer_entities",
    "sim_top_component",
    "ev_peak_concurrency",
    "doc_trigram_search",
    "graph_hits",
    # round-13 second wave: broadcast-model scoring (Naive Bayes
    # classify) and the full-outer changelog merge (CDC apply) — the
    # two remaining new plan families; AUC/PR ride the same collapse
    # machinery as ev_peak_concurrency's running sum, bucketed-join
    # cost is write-dominated and measured in PLANS.md instead.
    "doc_nb_language",
    "rel_cdc_apply",
    # round-13 third wave (the eval/drift family): the label x vocab
    # contingency cross (chi-squared feature selection — one corpus
    # explode+distinct, everything after on the vocab domain) and the
    # full-table global_row_number rank pass (equi-depth histogram —
    # the ranked-pass family's representative). KS/KM/gains ride the
    # distinct-value-collapse + global_running_sum machinery already
    # timed by ev_peak_concurrency; stream_ks_drift's cost is the
    # foreachBatch harness, measured in PLANS.md like its PSI sibling.
    "doc_chi2_tokens",
    "rel_equidepth_hist",
    # round-14: one line per newly REGISTERED plan family (the 16-gate
    # staged wave flipped live this round) — the two-EMA-passes + join
    # + lag standing-alert shape (crossover), the constant-factor
    # contribution-explode distinct (stickiness), and the candidate-
    # pair sketch-fidelity audit (per-pair signature zip + exact
    # verify). The other flips ride timed families: slo_burn/burstiness
    # the grid + prefix-sum machinery, winsorize/benford the ranked and
    # string-render passes, degree_hist/roi the graph joins,
    # ks_drift_by_type the collapsed-domain windows, vocab/zipf/overlap
    # the corpus-explode vocab aggregates already on the board.
    "ts_ema_crossover",
    "ev_stickiness",
    "dedup_minhash_fidelity",
]


def _current_round(here: str) -> int | None:
    """The round being run, so the drift baseline never compares a run
    against its own round's earlier output (ADVICE r05 #3). Inferred
    from the newest COMPLETED round: the max of VERDICT.md's header
    round and the rounds whose end-of-round artifact PAIR exists (the
    driver writes BENCH_rN and CORRECTNESS_rN together when round N
    closes; a lone BENCH file is the ADVICE-r05 mid-round state and
    does NOT count). The verdict header alone goes stale when the judge
    skips a round — round 12's bench wrongly treated r11 as "current"
    and fell back to the r10 baseline. Overridable via
    SPARK_GRAFT_BASELINE_ROUND (baseline pinned to exactly that
    round)."""
    import glob
    import re

    pin = os.environ.get("SPARK_GRAFT_BASELINE_ROUND")
    if pin:
        try:
            return int(pin) + 1  # caller excludes >= current
        except ValueError:
            pass
    done: list[int] = []
    try:
        with open(os.path.join(here, "VERDICT.md")) as f:
            m = re.search(r"round\s+(\d+)", f.readline())
        if m:
            done.append(int(m.group(1)))
    except OSError:
        pass
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and os.path.exists(
            os.path.join(here, f"CORRECTNESS_r{m.group(1)}.json")
        ):
            done.append(int(m.group(1)))
    return max(done) + 1 if done else None


def _previous_bench(
    here: str | None = None,
    want_sf: object | None = None,
) -> tuple[str, dict, object, dict, str] | None:
    """(round tag, timings, sf, spread, path) of the newest prior-round
    bench record — the cross-round drift baseline; ``path`` names the file
    it came from, relative to ``here``.

    Two sources, per round: ``bench_history/r*.json`` (written by this
    script — the FULL payload, always parseable) is preferred over the
    driver's ``BENCH_r*.json``, because the driver stores only the last
    ~2000 chars of stdout: round 9's JSON line outgrew that window, its
    ``parsed`` field came back empty, and the drift comparison silently
    lost its baseline (the r10 root cause for the missing comparable
    block). Records without per-query timings are skipped. Files tagged
    with the current (or a later) round are skipped so the comparable
    block always measures cross-round drift, even when this round's
    output already sits in the repo."""
    import glob
    import re

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    current = _current_round(here)

    def _rounds(pattern: str, rx: str):
        for p in glob.glob(pattern):
            m = re.search(rx, p)
            if not m:
                continue
            rnd = int(m.group(1))
            if current is not None and rnd >= current:
                continue
            yield rnd, p

    records: dict[int, tuple[dict, object, dict, str]] = {}
    # driver files first; history files overwrite (preferred source)
    for rnd, p in _rounds(
        os.path.join(here, "BENCH_r*.json"), r"BENCH_r(\d+)\.json$"
    ):
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        parsed = data.get("parsed") or {}
        queries = (data.get("queries") or parsed.get("queries")) or {}
        sf = data.get("sf", parsed.get("sf"))
        if queries and (want_sf is None or sf == want_sf):
            spread = (data.get("spread") or parsed.get("spread")) or {}
            records[rnd] = (dict(queries), sf, dict(spread), os.path.basename(p))
    for rnd, p in _rounds(
        os.path.join(here, "bench_history", "r*.json"),
        r"r(\d+)(?:_sf[0-9.]+)?\.json$",
    ):
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if data.get("queries") and (
            want_sf is None or data.get("sf") == want_sf
        ):
            # a stray archive from a quick low-SF local run never masks
            # the real prior-round baseline at the bench SF
            records[rnd] = (
                dict(data["queries"]),
                data.get("sf"),
                dict(data.get("spread") or {}),
                os.path.join("bench_history", os.path.basename(p)),
            )
    if not records:
        return None
    rnd = max(records)
    queries, sf, spread, path = records[rnd]
    return f"r{rnd:02d}", queries, sf, spread, path


def format_driver_line(out: dict, limit: int = 1900) -> str:
    """The PRINTED one-line JSON contract, guaranteed under the driver's
    ~2000-char stdout tail window (VERDICT r16 next-round #2: the r15
    and r16 lines both outgrew it, which nulled the driver's own
    cross-round baseline two rounds running). Unconditionally: compact
    separators, per-query seconds at 2dp, and a SUMMARY-only
    ``comparable`` (vs_round, totals, delta) — the full-precision
    timings, pass count, shared-line count, spreads, per-pass samples,
    profiles and detail maps all live in
    ``bench_history/`` (the archive _previous_bench prefers). If the
    line still exceeds ``limit`` (far more queries than today's 63),
    the comparable drops, then per-query precision falls to 1dp, then to
    whole seconds; the contract keys (metric/value/unit/queries/sf) are
    never dropped, so a line that is still too long raises ValueError
    rather than print a line the driver would truncate.
    tests/test_bench_baseline.py pins the real headline set's headroom."""
    slim = dict(out)
    slim["queries"] = {q: round(v, 2) for q, v in out["queries"].items()}
    comp = out.get("comparable")
    if comp:
        summary = {
            k: comp[k]
            for k in ("vs_round", "total", "prev_total", "delta_pct")
            if k in comp
        }
        slim["comparable"] = summary
    line = json.dumps(slim, separators=(",", ":"))
    if len(line) > limit and "comparable" in slim:
        del slim["comparable"]
        line = json.dumps(slim, separators=(",", ":"))
    for ndigits in (1, None):
        if len(line) <= limit:
            break
        slim["queries"] = {q: round(v, ndigits) for q, v in out["queries"].items()}
        line = json.dumps(slim, separators=(",", ":"))
    if len(line) > limit:
        raise ValueError(
            f"bench line is {len(line)} chars at whole-second precision; "
            f"limit {limit}"
        )
    return line


def _pq_index_build(spark, sf_dir: str, base: str) -> None:
    """Untimed-headline index build: fit + encode + persist (its wall
    time is reported separately as sim_pq_fit_encode)."""
    from pyspark.sql import functions as F  # noqa: F401

    from rearview_spark.operators import similarity as S
    from rearview_spark.sources.loader import Tables

    emb = Tables(spark, sf_dir).embeddings
    cb = S.pq_fit(emb, m=4, k=16, iters=2)
    codes = S.pq_encode(emb, cb, m=4)
    cb.write.mode("overwrite").parquet(f"{base}/pq_codebook")
    codes.write.mode("overwrite").parquet(f"{base}/pq_codes")


def _pq_scan_from_index(spark, sf_dir: str, base: str):
    """Serving path: read the persisted index, ADC-scan it."""
    from pyspark.sql import functions as F

    from rearview_spark.operators import similarity as S
    from rearview_spark.sources.loader import Tables

    cb = spark.read.parquet(f"{base}/pq_codebook")
    codes = spark.read.parquet(f"{base}/pq_codes")
    emb = Tables(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 5)
    return S.pq_scan_topk(codes, cb, queries, topk=10, m=4)


def _line_frame(spark, qs: dict, name: str, sf_dir: str, index_dir: str):
    """The DataFrame a bench line counts (the PQ scan reads the index
    ``_pq_index_build`` persisted under ``index_dir``)."""
    if name == "sim_pq_scan_topk":
        return _pq_scan_from_index(spark, sf_dir, index_dir)
    return qs[name]["fn"](spark, sf_dir)


def _profiled(spark, label: str, build) -> dict[str, float]:
    """Clear caches, then time ``build()`` (plan construction, plus any
    eager jobs it runs) and, when it returns a DataFrame, its ``count()``
    (the action), all under a job group of their own. Returns
    ``{"s", "plan_s", "action_s"}`` plus the group's Spark figures."""
    from perfbench.spans import spark_group_figures

    sc = spark.sparkContext
    group = f"bench:{label}:{uuid.uuid4().hex}"
    spark.catalog.clearCache()
    sc.setJobGroup(group, label)
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        if df is not None:
            df.count()
        t2 = time.perf_counter()
    finally:
        sc.setJobGroup(None, None)
    return {"s": t2 - t0, "plan_s": t1 - t0, "action_s": t2 - t1,
            **spark_group_figures(spark, group)}


def run_line(spark, qs: dict, name: str, sf_dir: str, index_dir: str) -> dict[str, dict]:
    """Time one bench line: ``{line: profile}`` (see ``_profiled``).
    ``sim_pq_scan_topk`` yields two lines, the index build
    (``sim_pq_fit_encode``) and then the scan over it, so neither number
    hides the other."""
    from rearview_spark.sources.loader import resolve_table_schemas

    # The loader infers a table's schema on its first read in a process
    # only: resolve them outside the profile, so that a line's figures do
    # not depend on which line read its tables first.
    resolve_table_schemas(spark, sf_dir)
    out = {}
    if name == "sim_pq_scan_topk":
        out["sim_pq_fit_encode"] = _profiled(
            spark, "sim_pq_fit_encode", lambda: _pq_index_build(spark, sf_dir, index_dir)
        )
    out[name] = _profiled(spark, name, lambda: _line_frame(spark, qs, name, sf_dir, index_dir))
    return out


def _compact(profile: dict[str, float]) -> dict[str, float]:
    return {k: round(v, 3) if k == "s" or k.endswith("_s") else int(v) for k, v in profile.items()}


_PLAN_NODE = re.compile(r"Exchange|Join|Aggregate|Window|Generate|CartesianProduct")


def plan_summary(text: str) -> tuple[dict[str, int], list[str]]:
    """Exchange/Join/Aggregate/Window/Generate node counts and the
    non-empty ``PushedFilters`` lines of an ``explain("formatted")``
    string (numbered node headers are ``(N) NodeName ...``)."""
    nodes = Counter(re.findall(r"^\(\d+\) (\w+)", text, re.M))
    counts = {k: v for k, v in sorted(nodes.items()) if _PLAN_NODE.search(k)}
    pushed = [
        s.strip() for s in text.splitlines()
        if s.strip().startswith("PushedFilters") and "[]" not in s
    ]
    return counts, pushed


def _write_plans(spark, qs: dict, lines: list[str], sf_dir: str, index_dir: str, plans_dir: str) -> None:
    os.makedirs(plans_dir, exist_ok=True)
    for name in lines:
        if name == "sim_pq_scan_topk":  # the scan plans over a built index
            _pq_index_build(spark, sf_dir, index_dir)
        df = _line_frame(spark, qs, name, sf_dir, index_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        counts, pushed = plan_summary(text)
        print(f"== {name} {counts}", file=sys.stderr)
        for s in pushed:
            print(f"   {s[:140]}", file=sys.stderr)


def ab_verdict(ref: list[float], cur: list[float]) -> tuple[str, int, int]:
    """``(verdict, cur_wins, ref_wins)`` over paired samples, by the
    simplicity-review rule: "faster" (or "slower") only when the current
    tree wins (or loses) at least nine tenths of the pairs, ties counting
    for neither side, AND the medians differ by more than REF's
    interquartile range; otherwise "parity"."""
    cur_wins = sum(c < r for r, c in zip(ref, cur))
    ref_wins = sum(r < c for r, c in zip(ref, cur))
    q1, _, q3 = statistics.quantiles(ref, n=4, method="inclusive")
    gap = statistics.median(ref) - statistics.median(cur)
    if 10 * cur_wins >= 9 * len(ref) and gap > q3 - q1:
        return "faster", cur_wins, ref_wins
    if 10 * ref_wins >= 9 * len(ref) and -gap > q3 - q1:
        return "slower", cur_wins, ref_wins
    return "parity", cur_wins, ref_wins


def _bench_child(tree: str, names: list[str]) -> dict[str, float]:
    """One pass of ``tree``'s bench.py in a fresh process: its per-line
    seconds (the one JSON line on stdout)."""
    p = subprocess.run(
        [sys.executable, "bench.py", *names],
        cwd=tree,
        env=dict(os.environ, SPARK_GRAFT_BENCH_REPEATS="1"),
        capture_output=True,
        text=True,
    )
    if p.returncode:
        raise RuntimeError(f"bench.py in {tree} exited {p.returncode}: {p.stderr[-2000:]}")
    line = [s for s in p.stdout.splitlines() if s.startswith("{")][-1]
    return json.loads(line)["queries"]


def _ab(ref: str, names: list[str], pairs: int = 10) -> None:
    """Interleaved A/B of REF's committed tree against this one. A REF
    whose bench.py predates named lines runs its full set, so only the
    lines every run of both sides timed are compared; its JVM is then
    warmed by every plan shape while this side's is warmed by the named
    ones only, which biases a named A/B against this tree. A/B the full
    set against such a REF."""
    here = os.path.dirname(os.path.abspath(__file__))
    # named on this side too, so no arm writes the bench_history archive
    names = names or HEADLINE
    tree = tempfile.mkdtemp(prefix="bench_ab_")
    runs: dict[str, list[dict[str, float]]] = {"ref": [], "cur": []}
    loads = []
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", tree, ref],
            cwd=here, check=True, capture_output=True,
        )
        for i in range(pairs):
            loads.append(round(os.getloadavg()[0], 1))
            order = [("ref", tree), ("cur", here)]
            for side, cwd in order if i % 2 == 0 else order[::-1]:
                runs[side].append(_bench_child(cwd, names))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=here, check=False)
        shutil.rmtree(tree, ignore_errors=True)

    shared = [q for q in runs["cur"][0] if all(q in r for r in runs["ref"] + runs["cur"])]
    print(f"ab: ref={ref} sf_dir={SF_DIR} pairs={pairs} lines={len(shared)} load_1m={loads}")
    print(f"{'line':34} {'ref_med':>8} {'ref_iqr':>8} {'cur_med':>8} {'cur:ref wins':>12}  verdict")
    rows = {q: ([r[q] for r in runs["ref"]], [r[q] for r in runs["cur"]]) for q in shared}
    rows["TOTAL"] = tuple(
        [round(sum(r[q] for q in shared), 3) for r in runs[side]] for side in ("ref", "cur")
    )
    for q, (r, c) in rows.items():
        verdict, cw, rw = ab_verdict(r, c)
        q1, _, q3 = statistics.quantiles(r, n=4, method="inclusive")
        print(
            f"{q:34} {statistics.median(r):8.3f} {q3 - q1:8.3f} "
            f"{statistics.median(c):8.3f} {f'{cw}:{rw}':>12}  {verdict}"
        )


def _archive(here: str, full: dict, names: list[str]) -> None:
    """Archive the FULL payload (queries + per-query spread + per-pass
    samples and profiles + uncapped comparable) under
    ``bench_history/r{N}_sf{sf}.json``: only the last ~2000 chars of
    stdout are kept by whoever runs the bench, and once the printed line
    outgrew that window its parse silently failed and the next round lost
    its drift baseline. The archive is the durable cross-round record
    _previous_bench prefers; the PRINTED line stays the one-line contract
    and is kept under the window by moving spread out of it and capping
    the comparable detail maps (full versions live in the archive). A run
    of named lines is not archived: its subset would become the next
    round's drift baseline."""
    if names:
        return
    try:
        hist = os.path.join(here, "bench_history")
        os.makedirs(hist, exist_ok=True)
        rnd = _current_round(here)
        name = (
            f"r{rnd:02d}_sf{full['sf']}.json" if rnd else f"local_sf{full['sf']}.json"
        )
        with open(os.path.join(hist, name), "w") as f:
            json.dump(full, f)
        # ALSO keep a per-run copy (…_runK.json): the latest-run file
        # above is what _previous_bench reads (its glob regex skips the
        # _runK suffix), but a round often benches several times and the
        # per-run spreads are the raw material for noise adjudication —
        # overwriting them erased r10's earlier runs (PLANS.md note).
        k = 1
        while os.path.exists(
            os.path.join(hist, name.replace(".json", f"_run{k}.json"))
        ):
            k += 1
        with open(
            os.path.join(hist, name.replace(".json", f"_run{k}.json")), "w"
        ) as f:
            json.dump(full, f)
    except OSError:
        pass  # archiving is best-effort; the printed contract line rules


def main(argv: list[str] | None = None) -> None:
    from rearview_spark.plans import all_pending, all_queries

    ap = argparse.ArgumentParser(description="Time bench lines (module docstring).")
    ap.add_argument("names", nargs="*", metavar="QUERY")
    ap.add_argument("--plans-dir", metavar="DIR")
    ap.add_argument("--ab", metavar="REF")
    args = ap.parse_args(argv)
    qs = {**all_queries(), **all_pending()}  # pending gates are measurable too
    unknown = [q for q in args.names if q not in qs]
    if unknown:
        ap.error(f"unknown query name(s) {unknown}; valid names: {' '.join(sorted(qs))}")
    if args.ab:
        if args.plans_dir:
            ap.error("--plans-dir does not combine with --ab")
        _ab(args.ab, args.names)
        return
    lines = args.names or HEADLINE

    # The profile reads each line's jobs and stages back from the status
    # store, which past its default 1000 retained stages evicts SKIPPED
    # stages first, the running line's own included.
    spark = get_spark("rearview_bench", extra_conf={
        "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
    })
    index_dir = tempfile.mkdtemp(prefix="rearview_bench_idx_")

    # warmup: prime JVM JIT + whole-stage-codegen class compilation for
    # EVERY timed plan shape on the smallest SF, so the timed sf0.1 runs
    # measure engine throughput, not first-compile of the generated code
    # (codegen classes are keyed by plan shape and reused across SFs).
    warm_idx = f"{index_dir}/warm"
    for name in lines:
        if name == "sim_pq_scan_topk":
            _pq_index_build(spark, "/root/testdata/sf0.001", warm_idx)
            _pq_scan_from_index(spark, "/root/testdata/sf0.001", warm_idx).count()
        else:
            qs[name]["fn"](spark, "/root/testdata/sf0.001").count()
    if args.plans_dir:
        _write_plans(spark, qs, lines, SF_DIR, f"{index_dir}/main", args.plans_dir)

    # N full interleaved PASSES over the whole headline set (VERDICT_r15
    # next-round #4): each pass times every query once, so the artifact
    # carries >= 3 whole-suite same-code samples (per-pass totals +
    # loadavg below) instead of a single run's story — three rounds
    # running, the single-sample comparable told a false drift story
    # (+37%, +7.5%) that had to be adjudicated away in prose. Per-query
    # point estimate stays the MIN across passes (the standard low-noise
    # estimator — one-off host interference inflates a single sample up
    # to ~50%, and the engine's own post-warmup variance is small), so
    # per-query values and the min-based cross-round delta remain
    # apples-to-apples with every prior round's archive. Interleaving
    # passes (A B C, A B C) rather than repeating each query back-to-
    # back additionally decorrelates a load burst from any one query's
    # samples. Caches created inside a query fn are dropped between
    # samples so every sample pays the query's real materialization
    # cost. The per-query spread [min, median, max] is also emitted:
    # round 8 measured per-query swings up to ±40% on byte-identical
    # code, so drift adjudication needs the spread, not the point.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    def _spread(s: list[float]) -> list[float]:
        return [round(x, 3) for x in (s[0], statistics.median(s), s[-1])]

    def _loadavg() -> str:
        try:
            with open("/proc/loadavg") as f:
                return " ".join(f.read().split()[:3])
        except OSError:
            return "n/a"

    pass_profiles: list[dict[str, dict]] = []
    pass_loads: list[str] = []
    for _p in range(passes):
        pass_loads.append(_loadavg())
        cur: dict[str, dict] = {}
        for name in lines:
            cur.update(run_line(spark, qs, name, SF_DIR, f"{index_dir}/main"))
        pass_profiles.append(cur)
    pass_times = [{q: p["s"] for q, p in pp.items()} for pp in pass_profiles]

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in pass_times[0]:
        s = sorted(pt[name] for pt in pass_times)
        timings[name] = round(s[0], 3)
        spreads[name] = _spread(s)
        best = min(pass_profiles, key=lambda pp: pp[name]["s"])
        print(
            json.dumps(
                {"line": name, "spread": spreads[name], **_compact(best[name])},
                separators=(",", ":"),
            ),
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # one 1-minute loadavg per pass, so its length is the pass count
        "load": [round(float(la.split()[0]), 1) for la in pass_loads if la != "n/a"],
    }
    # Cross-round drift, computed on the queries BOTH rounds timed so new
    # headline lines never skew the comparison (VERDICT r04 next-round #8).
    prev = _previous_bench(want_sf=out["sf"])
    if prev is not None:
        tag, prev_timings, prev_sf, prev_spread, prev_file = prev
        shared = sorted(set(timings) & set(prev_timings))
        if shared and prev_sf == out["sf"]:  # same scale factor only
            now_total = round(sum(timings[q] for q in shared), 3)
            prev_total = round(sum(prev_timings[q] for q in shared), 3)
            # Per-query drift candidates past +/-30% (min-vs-min). When
            # the PREVIOUS round also recorded spread, a candidate only
            # counts as real drift if the two [min, max] sample ranges
            # DON'T overlap — round 8 proved overlapping ranges are
            # measurement noise (±40% swings on byte-identical code).
            outliers = {}
            noise = {}
            for q in shared:
                if not prev_timings[q]:
                    continue
                delta = (timings[q] - prev_timings[q]) / prev_timings[q]
                if abs(delta) <= 0.30:
                    continue
                ps = prev_spread.get(q)
                cs = spreads.get(q)
                overlapping = (
                    ps is not None
                    and cs is not None
                    and cs[0] <= ps[2]
                    and ps[0] <= cs[2]
                )
                (noise if overlapping else outliers)[q] = round(100.0 * delta, 1)
            # Whole-suite same-code samples (VERDICT_r15 next-round #4):
            # one total per interleaved pass over the SHARED query set,
            # plus the median — the robust headline reading. `total`
            # stays the min-based sum so delta_pct remains comparable
            # with prior rounds' min-based archives; a real regression
            # moves BOTH numbers, load noise moves only the median.
            sample_totals = [
                round(sum(pt[q] for q in shared), 3) for pt in pass_times
            ]
            median_total = round(statistics.median(sample_totals), 3)
            out["comparable"] = {
                "vs_round": tag,
                # which archived run the totals were compared against
                # (VERDICT r10 next-round #8)
                "baseline_file": prev_file,
                "n_queries": len(shared),
                "total": now_total,
                "sample_totals": sample_totals,
                "median_total": median_total,
                "loadavg": pass_loads,
                "prev_total": prev_total,
                "delta_pct": round(100.0 * (now_total - prev_total) / prev_total, 1)
                if prev_total
                else None,
                "outliers": outliers,
                # >30% min-vs-min movement whose sample ranges overlap
                # the prior round's — reported, but adjudicated as noise
                "within_noise": noise,
            }

    full = dict(out, repeats=passes)
    full["spread"] = spreads
    # raw per-pass per-query samples — the material drift adjudication
    # actually needs (the printed line stays within the driver window)
    full["pass_queries"] = [
        {q: round(v, 3) for q, v in pt.items()} for pt in pass_times
    ]
    full["profile"] = [
        {q: _compact(p) for q, p in pp.items()} for pp in pass_profiles
    ]
    _archive(os.path.dirname(os.path.abspath(__file__)), full, args.names)

    print(format_driver_line(out))


if __name__ == "__main__":
    main()
