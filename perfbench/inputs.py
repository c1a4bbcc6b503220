"""Seeded input generators for the benchmark workloads.

One seed always yields byte-identical inputs. What decides how much work
the program does is fixed, so runs on different seeds measure the same
work: the row counts are constants, and a fixed generator (``shape_rng``)
draws the fleet, the series it watches and the shifted app, which set the
Spark partitions the monitor windows hash to, and the batch tables, whose
contents set the iteration counts of k-means, HITS and the LSH candidate
joins. The run's ``--seed`` draws the metric values (host levels and
noise) and the query order of every batch pass.

- :func:`metric_frame` / :func:`fleet` build the Graphite-style metric
  store and the monitor fleet of the ``monitor_tick`` workload.
- :func:`write_tables` builds the TPC-H-style star schema plus the
  ``documents`` / ``embeddings`` / ``events`` tables the batch query plans
  read (the layout of ``rearview_spark.sources.loader.TABLE_NAMES``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# monitor_tick: metric store
# --------------------------------------------------------------------------

KINDS = {  # kind -> baseline level
    "req": 1000.0, "err": 5.0, "lat_p50": 50.0, "lat_p99": 200.0,
    "cpu": 40.0, "mem": 60.0, "qps": 300.0, "conn": 80.0,
}
N_APPS = 6
N_HOSTS = 5  # 6 apps x 5 hosts x 8 kinds = 240 series
NOISE = 0.02  # gaussian noise, as a share of the level
SHIFT = 3.0  # level multiplier of the shifted app while the shift is on
CYCLE_MIN = 2  # the shift repeats every CYCLE_MIN minutes ...
SHIFT_PHASES = (1,)  # ... and is on at these minutes of the cycle
ERROR_TIMEOUT = 2  # minutes; error monitors re-alert every other tick
HISTORY_MIN = 180  # minutes of history before the first tick
HORIZON_MIN = 240  # minutes of data after it (ticks never outrun it)
T_START = dt.datetime(2024, 1, 1, 6, 0)  # the first (set-up) tick
SHAPE_SEED = 20240101


def shape_rng() -> np.random.Generator:
    """The fixed generator of everything that sets the amount of work."""
    return np.random.default_rng(SHAPE_SEED)


def shift_on(ts: pd.Series | dt.datetime):
    """Whether the level shift is on at ``ts`` (per-minute phase)."""
    if isinstance(ts, dt.datetime):
        return (ts.minute % CYCLE_MIN) in SHIFT_PHASES
    return ((ts.dt.minute % CYCLE_MIN).isin(SHIFT_PHASES)).to_numpy()


@dataclass(frozen=True)
class MetricStore:
    frame: pd.DataFrame  # metric, ts, value
    levels: dict[str, float]  # series -> baseline level
    shifted_app: str


def metric_frame(rng: np.random.Generator, shape: np.random.Generator) -> MetricStore:
    """~240 dot-path series ``svc.<app>.<host>.<kind>`` at 1-minute
    resolution, levels and noise drawn from ``rng``; one app (drawn from
    ``shape``) carries the periodic level shift that makes its monitors
    fire, re-alert and recover."""
    apps = [f"app{i}" for i in range(N_APPS)]
    shifted_app = apps[int(shape.integers(N_APPS))]
    ts = pd.date_range(
        T_START - dt.timedelta(minutes=HISTORY_MIN),
        T_START + dt.timedelta(minutes=HORIZON_MIN),
        freq="1min",
    ).as_unit("us")
    on = shift_on(pd.Series(ts))
    frames, levels = [], {}
    for app in apps:
        for h in range(N_HOSTS):
            host_factor = float(rng.uniform(0.8, 1.2))
            for kind, base in KINDS.items():
                name = f"svc.{app}.h{h}.{kind}"
                level = base * host_factor
                levels[name] = level
                values = level * (1.0 + NOISE * rng.standard_normal(len(ts)))
                if app == shifted_app:
                    values = np.where(on, values * SHIFT, values)
                frames.append(pd.DataFrame({"metric": name, "ts": ts, "value": values}))
    frame = pd.concat(frames, ignore_index=True)
    return MetricStore(frame, levels, shifted_app)


# --------------------------------------------------------------------------
# monitor_tick: fleet
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Monitor:
    id: int
    metrics: tuple[str, ...]
    expr: str
    minutes: int
    cron: str
    error_timeout: int
    # raw-path threshold monitors carry their rule so the benchmark can
    # recompute the expected status in pandas: (path, "last"|"mean", limit)
    check: tuple[str, str, float] | None = None


def fleet(rng: np.random.Generator, store: MetricStore, n: int) -> list[Monitor]:
    """``n`` monitors (at least 8) with a fixed composition; series and
    order drawn from ``rng`` (the shape generator), thresholds set from the
    store's levels.

    A third watch the shifted app every minute (raw paths and a glob
    ``sumSeries``): each shift-on tick fires them and the next tick
    recovers them. One malformed expression and one missing series sit in
    ``error`` and re-alert every ``ERROR_TIMEOUT`` minutes (debounced in
    between). Two monitors share one window (a mean threshold and
    ``robust_z``). The rest hold below their limits: ``averageSeries``,
    ``movingAverage``, ``timeShift``, ``asPercent``, then raw paths, on
    hourly, every-minute and ``*/2`` crons. Cron periods divide the shift
    cycle, so every pass of ticks does the same work."""
    calm = sorted({m.split(".")[1] for m in store.levels} - {store.shifted_app})
    kinds = list(KINDS)

    def pick(seq):
        return seq[int(rng.integers(len(seq)))]

    def path(app: str) -> str:
        return f"svc.{app}.h{int(rng.integers(N_HOSTS))}.{pick(kinds)}"

    def app_total(app: str, kind: str) -> float:
        return sum(store.levels[f"svc.{app}.h{h}.{kind}"] for h in range(N_HOSTS))

    every = "* * * * *"
    specs: list[dict] = []
    a = store.shifted_app
    for i in range(round(n / 3)):
        if i % 3 == 2:  # glob sum over the app's hosts
            k = pick(kinds)
            specs.append(dict(metrics=(f"sumSeries(svc.{a}.*.{k})",),
                              expr=f"a.iloc[-1] > {1.5 * app_total(a, k):.3f}"))
        else:
            p = path(a)
            limit = round(1.5 * store.levels[p], 3)
            specs.append(dict(metrics=(p,), expr=f"a.iloc[-1] > {limit}",
                              check=(p, "last", limit)))
    specs.append(dict(metrics=("svc.nosuch.h0.req",), expr="a.mean() > 1"))
    specs.append(dict(metrics=(path(pick(calm)),), expr="a.mean( > 1"))
    for d in specs:
        d.update(minutes=5, cron=every, error_timeout=ERROR_TIMEOUT)

    shared = path(pick(calm))
    limit = round(1.3 * store.levels[shared], 3)
    specs.append(dict(metrics=(shared,), expr=f"a.mean() > {limit}",
                      check=(shared, "mean", limit)))
    specs.append(dict(metrics=(shared,), expr="robust_z(a).abs().max() > 8"))
    for d in specs[-2:]:
        d.update(minutes=15, cron=every, error_timeout=60)

    crons = ["0 * * * *", every, "*/2 * * * *", every]
    j = 0
    while len(specs) < n:
        app = pick(calm)
        p = path(app)
        k = p.rsplit(".", 1)[1]
        limit = round(1.5 * store.levels[p], 3)
        last = f"a.iloc[-1] > {limit}"
        shapes = [
            dict(metrics=(f"averageSeries(svc.{app}.*.{k})",),
                 expr=f"a.max() > {1.5 * app_total(app, k) / N_HOSTS:.3f}", minutes=15),
            dict(metrics=(f"movingAverage({p},3)",), expr=last, minutes=15),
            dict(metrics=(f"timeShift({p},'-10min')",), expr=last, minutes=5),
            dict(metrics=(f"asPercent(svc.{app}.*.{k})",), expr="a.iloc[-1].max() > 60",
                 minutes=5),
        ]
        d = shapes[j] if j < len(shapes) else dict(
            metrics=(p,), expr=last, minutes=5, check=(p, "last", limit))
        d.update(cron=crons[j % len(crons)], error_timeout=60)
        specs.append(d)
        j += 1
    order = rng.permutation(len(specs))
    return [Monitor(id=i + 1, **specs[int(k)]) for i, k in enumerate(order)]


def monitor_rows(monitors: list[Monitor], alert_key: str) -> list[tuple]:
    """Rows in ``rearview_spark.monitors.schemas.MONITORS`` column order."""
    created = T_START - dt.timedelta(days=1)
    return [
        (
            m.id, f"mon{m.id}", True, None, None, m.cron, "success", 1,
            [alert_key], None, m.error_timeout, f"monitor {m.id}", 1,
            list(m.metrics), m.expr, m.minutes, None, created, created,
        )
        for m in monitors
    ]


def expected_status(store: MetricStore, check: tuple[str, str, float],
                    now: dt.datetime, minutes: int) -> str:
    """pandas recomputation of a raw-path threshold monitor's status."""
    path, how, limit = check
    f = store.frame
    w = f[(f["metric"] == path) & (f["ts"] >= now - dt.timedelta(minutes=minutes))
          & (f["ts"] <= now)].sort_values("ts")
    if w["value"].notna().sum() == 0:
        return "error"
    value = w["value"].iloc[-1] if how == "last" else w["value"].mean()
    return "failed" if value > limit else "success"


# --------------------------------------------------------------------------
# batch workloads: star schema + documents / embeddings / events
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "hot", "cold", "small", "large", "old", "new"]
_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "valve"]
_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
          "small", "slow", "merge", "vector", "order", "line", "table", "data",
          "agg", "value", "key", "stream", "window", "spark", "a", "part",
          "group", "big", "sort", "query", "fast", "the"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EVENTS = ["signup", "error", "click", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(days: np.ndarray, origin: str) -> np.ndarray:
    return (pd.Timestamp(origin) + pd.to_timedelta(days, unit="D")).values.astype(
        "datetime64[us]"
    )


def tables(rng: np.random.Generator, sf: float = 0.001) -> dict[str, pd.DataFrame]:
    """One seeded instance of every table the plans read, at ``sf``
    (sf0.001: 150 customers, 1500 orders, ~6000 lineitems; documents and
    embeddings stay at 500 rows at every scale)."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = max(int(200_000 * sf), 50), max(int(10_000 * sf), 10)
    n_users, n_events = max(int(15_000 * sf), 50), int(1_000_000 * sf)

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    # Planted duplicate clusters: chains of customers with one segment and
    # nation and balances 30 apart, so entity resolution finds the same
    # number and shape of components whatever the seed (chance matches
    # between the remaining random customers stay a minority).
    members = rng.choice(n_cust, 10 * 4, replace=False).reshape(10, 4)
    for chain in members:
        customer.loc[chain, "c_mktsegment"] = _SEGMENTS[int(rng.integers(len(_SEGMENTS)))]
        customer.loc[chain, "c_nationkey"] = np.int32(rng.integers(0, 25))
        customer.loc[chain, "c_acctbal"] = round(float(rng.uniform(0, 9000)), 2) + 30.0 * np.arange(4)
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate, "1995-01-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = rng.integers(1, 51, n_li).astype(float)
    pkey = rng.integers(0, n_part, n_li)
    ship = np.clip(odate[okey] + rng.integers(-60, 120, n_li), 1, 2498)
    lineitem = pd.DataFrame({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": pkey.astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": linenumber.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(20.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(ship, "1995-01-01"),
    })

    n_docs = 500
    texts = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(_WORDS, k)))
    for i in rng.choice(n_docs, 25, replace=False):  # near-duplicates
        j = int(rng.integers(n_docs))
        if j != i:
            texts[i] = texts[j][: max(40, len(texts[j]) // 2)] + " dup"
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    labels = rng.integers(0, 10, n_docs)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] * 0.15 + rng.standard_normal((n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": list(vecs.astype("float32")),
        "label": labels.astype("int32"),
    })

    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(secs, unit="s")).values.astype(
            "datetime64[us]"
        ),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": rng.choice(_EVENTS, n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "documents": documents,
        "embeddings": embeddings, "events": events,
    }


def write_tables(frames: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
