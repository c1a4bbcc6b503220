"""The bench comparable block must measure CROSS-round drift: the
baseline picker skips BENCH files tagged with the round being run, so a
run never compares against its own round's earlier output (ADVICE r05
#3 — observed when BENCH_r05.json already sat in the repo root while
round 5 was still running). No Spark needed."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _write_bench(
    tmp_path, rnd: int, wrapped: bool, spread: bool = False, closed: bool = True
) -> None:
    doc = {"queries": {"q1": 1.0 + rnd}, "sf": 0.1}
    if spread:
        doc["spread"] = {"q1": [1.0 + rnd, 1.2 + rnd, 1.5 + rnd]}
    if wrapped:  # the driver wraps our JSON line under "parsed"
        doc = {"parsed": doc}
    (tmp_path / f"BENCH_r{rnd:02d}.json").write_text(json.dumps(doc))
    if closed:  # the end-of-round commit writes the correctness file too
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text("{}")


def test_current_round_from_verdict_header(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_ROUND", raising=False)
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 5\n\nbody\n")
    assert bench._current_round(str(tmp_path)) == 6
    # no VERDICT.md (round 1): no exclusion possible
    assert bench._current_round(str(tmp_path / "nowhere")) is None


def test_current_round_env_pin_wins(tmp_path, monkeypatch):
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 9\n")
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_ROUND", "4")
    # pin means "baseline exactly round 4" -> everything >= 5 excluded
    assert bench._current_round(str(tmp_path)) == 5


def test_previous_bench_skips_current_round(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_ROUND", raising=False)
    _write_bench(tmp_path, 4, wrapped=True)
    # mid-round-5 state (ADVICE r05 #3): a LONE BENCH_r05 with no
    # CORRECTNESS_r05 — round 5 is still running, baseline stays r04
    _write_bench(tmp_path, 5, wrapped=True, closed=False)
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 4\n")
    tag, queries, sf, _spread, path = bench._previous_bench(str(tmp_path))
    assert tag == "r04" and queries == {"q1": 5.0} and sf == 0.1
    assert path == "BENCH_r04.json"
    # round 5 closes (artifact pair complete): r05 becomes the baseline
    # even while the verdict header lags (judge skipped the round — the
    # r12-observed state)
    (tmp_path / "CORRECTNESS_r05.json").write_text("{}")
    tag, queries, _, _, _ = bench._previous_bench(str(tmp_path))
    assert tag == "r05" and queries == {"q1": 6.0}


def test_previous_bench_accepts_unwrapped_shape_and_no_verdict(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_ROUND", raising=False)
    _write_bench(tmp_path, 3, wrapped=False)
    _write_bench(tmp_path, 4, wrapped=False, closed=False)  # current round
    tag, queries, sf, spread, _path = bench._previous_bench(str(tmp_path))
    assert tag == "r03" and queries == {"q1": 4.0} and sf == 0.1
    assert spread == {}  # pre-spread rounds read back as empty


def test_previous_bench_returns_spread_when_recorded(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_ROUND", raising=False)
    _write_bench(tmp_path, 9, wrapped=True, spread=True)
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 9\n")
    _write_bench(tmp_path, 10, wrapped=True, closed=False)  # current round
    _tag, _q, _sf, spread, _path = bench._previous_bench(str(tmp_path))
    assert spread == {"q1": [10.0, 10.2, 10.5]}


def test_previous_bench_none_when_all_excluded(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_ROUND", raising=False)
    # round 1 still running (lone BENCH, no correctness pair), and the
    # verdict header confirms no prior round completed
    _write_bench(tmp_path, 1, wrapped=True, closed=False)
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 0\n")
    assert bench._previous_bench(str(tmp_path)) is None


# ---------------------------------------------------------------------------
# Printed-line contract: the driver records only the last ~2000 chars of
# stdout. The r15 AND r16 lines outgrew that window, so the driver's parse
# failed and PERF lost its per-query baseline two rounds running (VERDICT
# r16 next-round #2). format_driver_line must keep the printed line under
# 1900 chars for the real headline set with generous headroom, and degrade
# gracefully (drop comparable, then precision) past it.
# ---------------------------------------------------------------------------


def _fat_comparable() -> dict:
    # worst-case full comparable as main() builds it before slimming
    return {
        "vs_round": "r16",
        "baseline_file": "bench_history/r16_sf0.1.json",
        "n_queries": 63,
        "total": 9999.999,
        "sample_totals": [9999.999, 9999.999, 9999.999],
        "median_total": 9999.999,
        "loadavg": ["31.99 31.99 31.99"] * 3,
        "prev_total": 9999.999,
        "delta_pct": -99.9,
        "outliers": {f"some_query_name_{i:02d}": -99.9 for i in range(40)},
        "within_noise": {f"other_query_name_{i:02d}": 99.9 for i in range(40)},
    }


def _line_for(queries: dict) -> str:
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "repeats": 3,
        "comparable": _fat_comparable(),
    }
    return bench.format_driver_line(out)


def test_printed_line_fits_for_real_headline_set():
    # every real bench line (incl. the derived sim_pq_fit_encode): at
    # realistic magnitudes (whole suite is ~85 s, worst line ~6 s) the
    # line must keep >= 100 chars of headroom so a few added lines
    # can't silently break the driver parse again; even at an absurd
    # 100 s PER QUERY it must still fit the 1900-char window
    queries = {q: 9.999 for q in bench.HEADLINE}
    queries["sim_pq_fit_encode"] = 9.999
    assert len(_line_for(queries)) < 1870, len(_line_for(queries))
    fat = {q: 99.999 for q in queries}
    line = _line_for(fat)
    assert len(line) < 1900, len(line)
    doc = json.loads(line)
    assert set(doc["queries"]) == set(queries)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in doc
    # detail maps never print — they live in bench_history/
    assert "outliers" not in json.dumps(doc.get("comparable", {}))


def test_printed_line_fits_at_80_synthetic_queries():
    queries = {f"syn_query_{i:03d}": 9.999 for i in range(80)}
    line = _line_for(queries)
    assert len(line) < 1900, len(line)
    assert len(json.loads(line)["queries"]) == 80


def test_printed_line_degrades_without_dropping_contract_keys():
    # pathological width: long names force the comparable off and the
    # per-query precision down, but every contract key and every query
    # survives in valid JSON
    queries = {f"very_long_synthetic_query_name_{i:03d}": 9.999 for i in range(40)}
    line = _line_for(queries)
    doc = json.loads(line)
    assert "comparable" not in doc or len(line) <= 1900
    assert len(doc["queries"]) == 40
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in doc


def test_printed_line_falls_to_whole_seconds_then_raises():
    # past the 1dp fallback the line degrades once more, to whole
    # seconds, and a line that still cannot fit raises instead of
    # printing something the driver would cut off
    queries = {f"q{i:03d}": 12.345 for i in range(60)}
    out = {"metric": "m", "value": 740.7, "unit": "sec", "queries": queries, "sf": 0.1}
    whole = json.dumps(
        dict(out, queries={q: 12 for q in queries}), separators=(",", ":")
    )
    tenths = json.dumps(
        dict(out, queries={q: 12.3 for q in queries}), separators=(",", ":")
    )
    assert len(whole) < len(tenths)
    line = bench.format_driver_line(out, limit=len(whole))
    assert line == whole
    assert json.loads(line)["queries"]["q000"] == 12
    with pytest.raises(ValueError, match="whole-second"):
        bench.format_driver_line(out, limit=len(whole) - 1)
