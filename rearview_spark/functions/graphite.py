"""Graphite render-target expression compiler.

The reference stores one Graphite target expression per line in
``jobs.metrics`` (db/schema.rb:65) and ships it verbatim to Graphite
(README.md:6); the engine's treetop dependency (Gemfile.lock:169) shows a
PEG parser in the same role. This module is our equivalent front-end
(SURVEY.md §4.2 #1): parse the 0.9.x render-function grammar and *emit an
ordinary DataFrame plan* over the tall ``(metric, ts, value)`` frame —
Catalyst then optimizes the result like any hand-written query (pushdown,
pruning, window collapsing). No custom Catalyst rules.

Grammar (public Graphite render API):

    target   := func | path
    func     := NAME '(' arg (',' arg)* ')'
    arg      := target | number | quoted-string | bare-word
    path     := dot-delimited metric path, may contain * ? {a,b} [0-9]

Example::

    compile_target('movingAverage(sumSeries(stats.prod.*.req.count), 5)')
    -> Plan; Plan(df) applies: select_glob -> sum_series -> moving_average
"""

from __future__ import annotations

import contextvars
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from rearview_spark.operators import timeseries as G

# Metric-name dimension for the CURRENT compile/evaluate call, threaded to
# every glob inside the target without widening each _eval signature
# (contextvar: per-thread, exception-safe reset). When set, path globs
# resolve driver-side to a pushable IN-list / broadcast-semi instead of a
# non-pushable rlike — SURVEY §4.2 #5's "transparent pruning" done at the
# compiler layer rather than a Catalyst extension rule (which would need
# a Scala plugin; same plan either way, and this engine owns the only
# front-end that produces glob predicates).
_METRIC_NAMES: contextvars.ContextVar = contextvars.ContextVar(
    "graphite_metric_names", default=None
)

# ---------------------------------------------------------------------------
# Lexer / parser (recursive descent; the grammar is LL(1))
# ---------------------------------------------------------------------------

_TOKEN_RX = re.compile(
    r"""\s*(?:
        (?P<lparen>\() |
        (?P<rparen>\)) |
        (?P<comma>,) |
        (?P<string>'[^']*'|"[^"]*") |
        (?P<number>-?\d+\.?\d*(?:e-?\d+)?) |
        (?P<word>(?:[\w.\-*?\[\]]+|\{[^{}]*\})+)
    )""",
    re.VERBOSE,
)


@dataclass
class Token:
    kind: str
    text: str


def _lex(s: str) -> list[Token]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RX.match(s, pos)
        if not m or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise ValueError(f"cannot lex target at {pos}: {s[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        out.append(Token(kind, m.group(kind)))
    return out


# A 'word' token is a function call iff followed by '('; a path otherwise.
# The word regex is greedy over path chars, so 'sumSeries' and
# 'stats.*.cpu.{user,sys}' both lex as single words; commas are consumed
# only inside '{...}' groups, so argument separators still tokenize.


@dataclass
class FuncNode:
    name: str
    args: list

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.name}({', '.join(map(repr, self.args))})"


@dataclass
class PathNode:
    path: str


@dataclass
class NumberNode:
    value: float


@dataclass
class StringNode:
    value: str


class _Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> Token | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def pop(self) -> Token:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of target expression")
        self.i += 1
        return t

    def parse(self):
        node = self.expr()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens from {self.peek().text!r}")
        return node

    def expr(self):
        t = self.pop()
        if t.kind == "string":
            return StringNode(t.text[1:-1])
        if t.kind == "number":
            return NumberNode(float(t.text))
        if t.kind != "word":
            raise ValueError(f"unexpected token {t.text!r}")
        nxt = self.peek()
        if nxt is not None and nxt.kind == "lparen":
            self.pop()  # (
            args = []
            if self.peek() and self.peek().kind != "rparen":
                args.append(self.expr())
                while self.peek() and self.peek().kind == "comma":
                    self.pop()
                    args.append(self.expr())
            closing = self.pop()
            if closing.kind != "rparen":
                raise ValueError(f"expected ')' got {closing.text!r}")
            return FuncNode(t.text, args)
        return PathNode(t.text)


def parse_target(target: str):
    return _Parser(_lex(target)).parse()


# ---------------------------------------------------------------------------
# Interval strings: Graphite '5min' / '1hour' / '30s' / '1d' ...
# ---------------------------------------------------------------------------

_UNIT = {
    "s": "seconds", "sec": "seconds", "second": "seconds", "seconds": "seconds",
    "min": "minutes", "minute": "minutes", "minutes": "minutes",
    "h": "hours", "hour": "hours", "hours": "hours",
    "d": "days", "day": "days", "days": "days",
    "w": "weeks", "week": "weeks", "weeks": "weeks",
    "mon": "months", "month": "months", "months": "months",
    "y": "years", "year": "years", "years": "years",
}

_SECONDS = {"seconds": 1, "minutes": 60, "hours": 3600, "days": 86400, "weeks": 604800}


def parse_interval(s: str) -> tuple[int, str]:
    """'5min' -> (5, 'minutes'); leading '-'/'+' stripped (sign returned
    via negative amount)."""
    m = re.fullmatch(r"([+-]?)(\d+)([A-Za-z]+)", s.strip())
    if not m:
        raise ValueError(f"bad interval {s!r}")
    sign = -1 if m.group(1) == "-" else 1
    n = sign * int(m.group(2))
    unit = _UNIT[m.group(3).lower()]
    return n, unit


def interval_seconds(s: str) -> int:
    n, unit = parse_interval(s)
    return n * _SECONDS[unit]


def spark_interval(s: str) -> str:
    n, unit = parse_interval(s)
    return f"{n} {unit}"


# ---------------------------------------------------------------------------
# Compiler: AST -> DataFrame transform
# ---------------------------------------------------------------------------

Plan = Callable[[DataFrame], DataFrame]


def _num(node, what: str) -> float:
    if isinstance(node, NumberNode):
        return node.value
    if isinstance(node, StringNode):
        return float(node.value)
    raise ValueError(f"{what}: expected a number, got {node!r}")


def _str(node, what: str) -> str:
    if isinstance(node, StringNode):
        return node.value
    if isinstance(node, PathNode):
        return node.path
    raise ValueError(f"{what}: expected a string, got {node!r}")


def _series_args(args, ts: DataFrame) -> DataFrame:
    """Evaluate 1+ series-valued args and union them (Graphite functions
    accept multiple targets and treat them as one series list)."""
    dfs = [_eval(a, ts) for a in args]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _tagged_binary(args, ts: DataFrame, fn) -> DataFrame:
    """For diffSeries/divideSeries-style positional semantics: tag the
    first arg's series and the rest, then apply the positional combine."""
    first = G.alias_series(_eval(args[0], ts), "__first")
    rest = [G.alias_series(_eval(a, ts), "__rest") for a in args[1:]]
    merged = first
    for r in rest:
        merged = merged.unionByName(r)
    return fn(merged)


def _eval(node, ts: DataFrame) -> DataFrame:
    if isinstance(node, PathNode):
        return G.select_glob(ts, node.path, metric_names=_METRIC_NAMES.get())
    if isinstance(node, StringNode):
        return G.select_glob(ts, node.value, metric_names=_METRIC_NAMES.get())
    if not isinstance(node, FuncNode):
        raise ValueError(f"cannot evaluate {node!r} as a series")
    name, args = node.name, node.args

    # --- combines (G5-G8, G25)
    if name in ("sumSeries", "sum"):
        return G.sum_series(_series_args(args, ts), name="sumSeries")
    if name in ("averageSeries", "avg"):
        return G.average_series(_series_args(args, ts), name="averageSeries")
    if name == "minSeries":
        return G.min_series(_series_args(args, ts), name="minSeries")
    if name == "maxSeries":
        return G.max_series(_series_args(args, ts), name="maxSeries")
    if name == "rangeOfSeries":
        return G.range_of_series(_series_args(args, ts), name="rangeOfSeries")
    if name == "countSeries":
        return G.count_series(_series_args(args, ts), name="countSeries")
    if name == "multiplySeries":
        return G.multiply_series(_series_args(args, ts), name="multiplySeries")
    if name == "diffSeries":
        return _tagged_binary(
            args, ts, lambda m: G.diff_series(m, "__first", name="diffSeries")
        )
    if name == "divideSeries":
        return _tagged_binary(
            args, ts, lambda m: G.divide_series(m, "__first", "__rest", name="divideSeries")
        )
    if name == "asPercent":
        return G.as_percent(_series_args(args, ts))
    if name == "percentileOfSeries":
        return G.percentile_of_series(_eval(args[0], ts), _num(args[1], name))
    if name == "stddevSeries":
        return G.stddev_series(_series_args(args, ts), name="stddevSeries")
    if name == "weightedAverage":
        return G.weighted_average(
            _eval(args[0], ts), _eval(args[1], ts), int(_num(args[2], name))
        )
    if name in ("sumSeriesWithWildcards", "averageSeriesWithWildcards"):
        fn = "sum" if name.startswith("sum") else "avg"
        positions = [int(_num(a, name)) for a in args[1:]]
        return G.series_with_wildcards(_eval(args[0], ts), fn, *positions)

    # --- scalar math (G9)
    if name == "scale":
        return G.scale(_eval(args[0], ts), _num(args[1], name))
    if name == "offset":
        return G.offset(_eval(args[0], ts), _num(args[1], name))
    if name in ("absolute", "abs"):
        return G.absolute(_eval(args[0], ts))
    if name == "invert":
        return G.invert(_eval(args[0], ts))
    if name in ("logarithm", "log"):
        base = _num(args[1], name) if len(args) > 1 else 10.0
        return G.logarithm(_eval(args[0], ts), base)
    if name == "pow":
        return G.pow_(_eval(args[0], ts), _num(args[1], name))
    if name == "squareRoot":
        return G.square_root(_eval(args[0], ts))
    if name == "scaleToSeconds":
        return G.scale_to_seconds(_eval(args[0], ts), _num(args[1], name))
    if name == "offsetToZero":
        return G.offset_to_zero(_eval(args[0], ts))
    if name == "isNonNull":
        return G.is_non_null(_eval(args[0], ts))

    # --- deltas / accumulations (G10, G11)
    if name == "derivative":
        return G.derivative(_eval(args[0], ts))
    if name == "perSecond":
        step = int(_num(args[1], name)) if len(args) > 1 else 60
        return G.per_second(_eval(args[0], ts), step)
    if name == "nonNegativeDerivative":
        return G.non_negative_derivative(_eval(args[0], ts))
    if name == "integral":
        return G.integral(_eval(args[0], ts))

    # --- moving windows (G12, G13)
    if name == "movingAverage":
        return G.moving_average(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "movingSum":
        return G.moving_sum(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "movingMin":
        return G.moving_min(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "movingMax":
        return G.moving_max(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "movingMedian":
        return G.moving_median(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "stdev":
        return G.stdev(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "exponentialMovingAverage":
        return G.exponential_moving_average(_eval(args[0], ts), int(_num(args[1], name)))

    # --- time manipulation (G14-G16)
    if name == "timeShift":
        n, unit = parse_interval(_str(args[1], name))
        # Graphite timeShift("-1d") draws the data from 1 day ago at
        # today's position (shift ts forward by 1d); "+1d" draws data
        # from 1 day ahead at today's position (shift ts backward).
        return G.time_shift(_eval(args[0], ts), f"{-n} {unit}")
    if name == "timeSlice":
        end = _str(args[2], name) if len(args) > 2 else "9999-12-31"
        return G.time_slice(_eval(args[0], ts), _str(args[1], name), end)
    if name == "summarize":
        fn = _str(args[2], name) if len(args) > 2 else "sum"
        return G.summarize(_eval(args[0], ts), spark_interval(_str(args[1], name)), fn)
    if name == "hitcount":
        # step defaults to 60s (the fixture metric step)
        return G.hitcount(_eval(args[0], ts), spark_interval(_str(args[1], name)), 60)
    if name == "smartSummarize":
        fn = _str(args[2], name) if len(args) > 2 else "sum"
        return G.smart_summarize(_eval(args[0], ts), interval_seconds(_str(args[1], name)), fn)

    # --- null handling (G17)
    if name == "transformNull":
        v = _num(args[1], name) if len(args) > 1 else 0.0
        return G.transform_null(_eval(args[0], ts), v)
    if name == "keepLastValue":
        limit = int(_num(args[1], name)) if len(args) > 1 else None
        return G.keep_last_value(_eval(args[0], ts), limit)
    if name == "interpolate":
        return G.interpolate(_eval(args[0], ts))

    # --- point filters (G18)
    if name == "removeAboveValue":
        return G.remove_above_value(_eval(args[0], ts), _num(args[1], name))
    if name == "removeBelowValue":
        return G.remove_below_value(_eval(args[0], ts), _num(args[1], name))
    if name == "removeAbovePercentile":
        return G.remove_above_percentile(_eval(args[0], ts), _num(args[1], name))
    if name == "removeBelowPercentile":
        return G.remove_below_percentile(_eval(args[0], ts), _num(args[1], name))

    # --- series selection (G19-G23)
    if name.startswith("highest") and name != "highest":
        stat = {"highestAverage": "average", "highestMax": "max", "highestCurrent": "current"}[name]
        return G.highest(_eval(args[0], ts), int(_num(args[1], name)), stat)
    if name.startswith("lowest") and name != "lowest":
        stat = {"lowestAverage": "average", "lowestCurrent": "current"}[name]
        return G.lowest(_eval(args[0], ts), int(_num(args[1], name)), stat)
    if name in ("averageAbove", "averageBelow", "maximumAbove", "maximumBelow",
                "minimumAbove", "minimumBelow", "currentAbove", "currentBelow"):
        stat = {"average": "average", "maximum": "max", "minimum": "min",
                "current": "current"}[
            re.match(r"(average|maximum|minimum|current)", name).group(1)
        ]
        op = ">" if name.endswith("Above") else "<"
        return G.filter_series(_eval(args[0], ts), stat, op, _num(args[1], name))
    if name == "nPercentile":
        return G.n_percentile(_eval(args[0], ts), _num(args[1], name))
    if name == "averageOutsidePercentile":
        return G.average_outside_percentile(_eval(args[0], ts), _num(args[1], name))
    if name == "removeBetweenPercentile":
        return G.remove_between_percentile(_eval(args[0], ts), _num(args[1], name))
    if name == "mostDeviant":
        # 0.9.x signature is mostDeviant(n, seriesList); 1.x flipped the
        # argument order — accept both.
        if isinstance(args[0], NumberNode):
            return G.most_deviant(_eval(args[1], ts), int(_num(args[0], name)))
        return G.most_deviant(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "limit":
        return G.limit_series(_eval(args[0], ts), int(_num(args[1], name)))
    if name == "sortByName":
        return _eval(args[0], ts).orderBy("metric", "ts")
    if name in ("sortByTotal", "sortByMaxima", "sortByMinima"):
        stat = {"sortByTotal": "total", "sortByMaxima": "max", "sortByMinima": "min"}[name]
        return G.sort_by(_eval(args[0], ts), stat, descending=name != "sortByMinima")
    if name == "exclude":
        return G.exclude(_eval(args[0], ts), _str(args[1], name))
    if name == "grep":
        return G.grep(_eval(args[0], ts), _str(args[1], name))

    # --- naming (G24)
    if name == "alias":
        return G.alias_series(_eval(args[0], ts), _str(args[1], name))
    if name == "aliasByNode":
        nodes = [int(_num(a, name)) for a in args[1:]]
        return G.alias_by_node(_eval(args[0], ts), *nodes)
    if name == "aliasSub":
        return G.alias_sub(_eval(args[0], ts), _str(args[1], name), _str(args[2], name))
    if name == "aliasByMetric":
        return G.alias_by_metric(_eval(args[0], ts))
    if name == "substr":
        start = int(_num(args[1], name)) if len(args) > 1 else 0
        stop = int(_num(args[2], name)) if len(args) > 2 else 0
        return G.substr_series(_eval(args[0], ts), start, stop)

    # --- display-only decorations: no effect on the data frame (the
    # reference rendered these in graphite-web; our consumer is the monitor
    # expression, which sees values only)
    if name in ("stacked", "secondYAxis", "drawAsInfinite", "lineWidth",
                "dashed", "color", "cactiStyle", "areaBetween", "legendValue"):
        return _eval(args[0], ts)
    if name == "threshold":
        line = G.constant_line_over(ts, _num(args[0], name))
        if len(args) > 1:
            return G.alias_series(line, _str(args[1], name))
        return line
    if name == "identity":
        return G.time_function_over(ts, name=_str(args[0], name) if args else "identity")

    # --- grouping (G28)
    if name == "group":
        return _series_args(args, ts)
    if name == "groupByNode":
        fn = _str(args[2], name) if len(args) > 2 else "sum"
        return G.group_by_node(_eval(args[0], ts), int(_num(args[1], name)), fn)

    # --- forecasting (G26)
    if name == "holtWintersForecast":
        season = int(_num(args[1], name)) if len(args) > 1 else 1440
        return G.holt_winters_forecast(_eval(args[0], ts), season)
    if name == "holtWintersAberration":
        season = int(_num(args[1], name)) if len(args) > 1 else 1440
        return G.holt_winters_aberration(_eval(args[0], ts), season)
    if name == "holtWintersConfidenceBands":
        season = int(_num(args[1], name)) if len(args) > 1 else 1440
        return G.holt_winters_confidence_bands(_eval(args[0], ts), season)

    # --- clipping (G18)
    if name == "clamp":
        return G.clamp(_eval(args[0], ts), _num(args[1], name), _num(args[2], name))

    # --- synthetic series (G27): render window implicit = input frame span
    if name == "constantLine":
        return G.constant_line_over(ts, _num(args[0], name))
    if name == "timeFunction":
        return G.time_function_over(ts)
    if name == "sinFunction":
        amp = _num(args[1], name) if len(args) > 1 else 1.0
        return G.sin_function_over(ts, amp, name=_str(args[0], name))
    if name == "randomWalkFunction":
        return G.random_walk_function_over(ts, name=_str(args[0], name))

    raise ValueError(f"unsupported Graphite function: {name}")


# Upper-bound seconds per unit for fetch-window extension (months/years
# over-approximated — overshooting the fetch is harmless, undershooting
# would reintroduce the empty-shifted-window bug).
_BOUND_SECONDS = {**_SECONDS, "months": 31 * 86400, "years": 366 * 86400}


def _shift_bounds(node) -> tuple[int, int]:
    """(lookback_s, lookahead_s) of source data the plan needs BEYOND the
    render window.  timeShift('-1d') presents yesterday's data at today's
    position, so its input must be fetched from one day before the window
    start; '+1d' needs data past the window end.  Nested shifts compose
    along each path (outer shift applies to everything its child needs)."""
    if not isinstance(node, FuncNode):
        return 0, 0
    child = [_shift_bounds(a) for a in node.args]
    lb = max((b[0] for b in child), default=0)
    la = max((b[1] for b in child), default=0)
    if node.name == "timeShift" and len(node.args) > 1:
        try:
            n, unit = parse_interval(_str(node.args[1], "timeShift"))
        except ValueError:
            return lb, la
        secs = abs(n) * _BOUND_SECONDS[unit]
        if n < 0:
            lb += secs
        else:
            la += secs
    return lb, la


# Functions that draw a synthetic series over the span of the WHOLE input
# frame, whatever series it holds, instead of selecting series from it.
_FRAME_FUNCTIONS = frozenset({
    "constantLine", "timeFunction", "sinFunction", "randomWalkFunction",
    "threshold", "identity",
})


def _sources(node) -> frozenset[str] | None:
    """Every path pattern the plan may select from its input, or None when
    it reads the whole frame (a synthetic series over its span). A
    superset: string arguments that name no series (an alias, an
    interval) are listed too."""
    if isinstance(node, PathNode):
        return frozenset({node.path})
    if isinstance(node, StringNode):
        return frozenset({node.value})
    if not isinstance(node, FuncNode):
        return frozenset()
    if node.name in _FRAME_FUNCTIONS:
        return None
    out: set[str] = set()
    for arg in node.args:
        child = _sources(arg)
        if child is None:
            return None
        out |= child
    return frozenset(out)


def compile_target(target: str, metric_names: DataFrame | None = None) -> Plan:
    """Parse once; returns a reusable ``DataFrame -> DataFrame`` plan.

    The plan carries ``lookback_s`` / ``lookahead_s`` attributes so
    window-fetch callers (monitors/evaluate.py) can extend the fetch
    range by the target's net time shifts and re-filter afterwards —
    Graphite fetches the *shifted* window for a timeShift'd series; a
    fetch-then-shift pipeline with no extension would compare against an
    empty frame. Its ``sources`` attribute lists the path patterns the
    plan may read (None: every series), so a caller may narrow the frame
    it passes to those series first.

    With ``metric_names`` (the metric-name dimension), every glob inside
    the target resolves to a pushable IN-list / broadcast-semi at plan
    time instead of an rlike (operators/timeseries.select_glob), for
    bucket/row-group pruning on glob'd jobs.metrics. The monitor tick
    (monitors/evaluate.py) does not pass it: resolving a glob against
    ``sources/layout.metric_names_dimension`` costs a driver collect, so
    it would add a Spark job per glob target to every tick."""
    ast = parse_target(target)

    def plan(ts: DataFrame) -> DataFrame:
        token = _METRIC_NAMES.set(metric_names)
        try:
            return _eval(ast, ts)
        finally:
            _METRIC_NAMES.reset(token)

    plan.lookback_s, plan.lookahead_s = _shift_bounds(ast)
    plan.sources = _sources(ast)
    return plan


def evaluate_target(
    target: str, ts: DataFrame, metric_names: DataFrame | None = None
) -> DataFrame:
    return compile_target(target, metric_names)(ts)
