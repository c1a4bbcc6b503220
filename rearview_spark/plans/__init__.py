"""Query plans: named (spark, sf_dir) -> DataFrame callables paired with
DuckDB oracle SQL. The union of all modules' QUERIES feeds
``__spark_entry__.queries()`` / ``oracle_sql()`` (the driver's correctness
gate) and ``bench.py``."""

from __future__ import annotations


def _green(entry: dict) -> bool:
    """A driver correctness row counts as green only when every check
    passed (rows + schema + hash all true, no error)."""
    return bool(
        entry.get("rows_match")
        and entry.get("schema_match")
        and entry.get("hash_match")
        and not entry.get("err")
    )


def _latest_check_by_query(root: str) -> dict:
    """Scan every CORRECTNESS_r*.json in the repo root and return
    {query_name: (latest_round_checked, was_green_at_that_check)}.

    Generic across rounds: no hardcoded round numbers, so the rotation
    logic below keeps working as new rounds append result files.
    """
    import glob
    import json
    import os
    import re

    latest: dict = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, entry in data.items():
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, _green(entry))
    return latest


def all_pending() -> dict:
    """Union of every plan module's PENDING_QUERIES — gates built and
    oracle-verified but deliberately NOT registered yet (the driver's
    gate hashes only the first 50 entries of :func:`all_queries`).
    tests/test_pending_gates.py
    drives each through the driver's comparison so registration later
    is a known-green one-line move."""
    from rearview_spark.plans import (
        events_queries,
        graph_queries,
        monitor_queries,
        pipeline_queries,
        relational,
        streaming_queries,
        timeseries_queries,
    )

    out: dict = {}
    for mod in (
        pipeline_queries,
        monitor_queries,
        events_queries,
        streaming_queries,
        timeseries_queries,
        relational,
        graph_queries,
    ):
        out.update(getattr(mod, "PENDING_QUERIES", {}))
    return out


def all_queries() -> dict:
    from rearview_spark.plans import (
        events_queries,
        graph_queries,
        streaming_queries,
        monitor_queries,
        pipeline_queries,
        relational,
        relational_subq,
        retrieval_queries,
        selection_queries,
        timeseries_queries,
    )

    import os

    out: dict = {}
    for mod in (pipeline_queries, monitor_queries, events_queries, streaming_queries, timeseries_queries, relational, relational_subq, retrieval_queries, selection_queries, graph_queries):
        for name, spec in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name {name}")
            out[name] = spec

    # The driver's correctness gate hashes the FIRST 50 entries of this
    # dict (insertion order). Priority order for the window, derived
    # from the union of ALL past CORRECTNESS_r*.json files (not just the
    # last two rounds — VERDICT_r04 "What's wrong" #5):
    #   a) rows whose LATEST driver check is red — repairs confirm first,
    #   b) rows never driver-checked in any round,
    #   c) everything else by oldest latest-green round first (stalest
    #      confirmation rotates in first; freshest greens fill last).
    # Registration order breaks ties inside each group.
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest = _latest_check_by_query(root)

    front: list[str] = []
    for group in (
        [n for n in out if n in latest and not latest[n][1]],
        [n for n in out if n not in latest],
    ):
        for n in group:
            if n in out and n not in front:
                front.append(n)
    rest = sorted(
        (n for n in out if n not in front),
        key=lambda n: latest[n][0],
    )
    ordered = front + rest
    ordered += [n for n in out if n not in ordered]
    return {n: out[n] for n in ordered}
