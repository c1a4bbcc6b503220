"""Pre-registration parity tests for gates staged in PENDING_QUERIES
(window-full rule, plans/__init__.py): each staged Spark query runs
against its DuckDB oracle through the same comparison the driver /
tools/oracle_check.py use, so flipping an entry into QUERIES next round
is zero-risk — it is already known green at gate scale."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

SF_DIR = "/root/testdata/sf0.01"


def _pending() -> dict:
    from rearview_spark.plans import all_pending

    return all_pending()


@pytest.mark.parametrize("name", sorted(_pending()))
def test_pending_gate_matches_oracle(spark, name):
    import oracle_check as oc

    spec = _pending()[name]
    sdf = spec["fn"](spark, SF_DIR).toPandas()
    con = oc.duck_con(SF_DIR)
    ddf = con.execute(spec["oracle"]).fetchdf()
    problems = oc.compare(name, sdf, ddf)
    assert not problems, problems
    assert len(sdf) > 0


def test_pending_names_not_registered(spark):
    """A pending gate must not ALSO be live — that would silently eat a
    stale-rotation slot (the exact failure staging exists to avoid)."""
    from rearview_spark.plans import all_queries

    live = set(all_queries())
    assert not (set(_pending()) & live)


def test_lttb_gate_decimates(spark):
    from rearview_spark.plans.timeseries_queries import QUERIES

    sdf = QUERIES["ts_lttb_downsample"]["fn"](spark, SF_DIR).toPandas()
    assert 0 < len(sdf) < 3385  # 20 points per big series


def test_oracle_check_resolves_pending_and_rejects_unknown_names():
    """A named gate is looked up in the live and pending registries; a
    name in neither is reported, never silently dropped."""
    import oracle_check as oc

    live = next(iter(sorted(oc.resolve([])[0])))
    names = [live, *sorted(_pending())[:1], "no_such_gate"]
    gates, unknown = oc.resolve(names)
    assert sorted(gates) == sorted(names[:-1])
    assert unknown == ["no_such_gate"]
