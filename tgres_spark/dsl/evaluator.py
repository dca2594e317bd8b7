"""Evaluate a parsed Graphite target against a DslContext.

Mirrors dsl.ParseDsl(db, src, from, to, maxPoints) (dsl/dsl.go:69):
patterns glob-match the context's archives, calls dispatch to the
operator library, the time range prunes t, and maxPoints routes or
consolidates. The context (archive.DslContext, re-exported here) is
the only place data is read: every series comes from its ``fetch``.

A catalog is ONE long SeriesFrame — a pattern is a filter (rlike on
the partition-pruning name column), not a per-series fetch loop. A
thousand-series glob costs one predicate, and Catalyst pushes it into
the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..archive import DslContext
from ..operators import dsl_calculate as dc
from ..operators import dsl_combine as db
from ..operators import dsl_filter as df_
from ..operators import dsl_special as ds
from ..operators import dsl_transform as dt
from ..operators.consolidate import consolidate
from .parser import Call, Literal, Pattern, parse


def _series(ctx, node):
    out = evaluate_node(ctx, node)
    if not isinstance(out, DataFrame):
        raise TypeError(f"expected a series argument, got {out!r}")
    return out


def _num(node, default=None):
    if isinstance(node, Literal) and isinstance(node.value, (int, float)):
        return float(node.value)
    if node is None and default is not None:
        return default
    raise TypeError(f"expected a number, got {node!r}")


def _str(node):
    if isinstance(node, Literal) and isinstance(node.value, str):
        return node.value
    if isinstance(node, Pattern):  # bare words read as strings (e.g. 'sum')
        return node.text
    raise TypeError(f"expected a string, got {node!r}")


def _seconds(node) -> int:
    """Duration strings ('1h', '30m', '1h30m', '-1h', '5min') or bare
    numbers (seconds). Full BetterParseDuration grammar via
    timespec.parse_duration, with the leading sign handled like the
    reference's parseTimeShift (funcs.go:1346-1362: bare = positive,
    '-' = negative)."""
    if isinstance(node, Literal) and isinstance(node.value, (int, float)):
        return int(node.value)
    from .timespec import parse_duration

    s = _str(node).strip()
    sign = 1
    if s[:1] in "+-":
        sign = -1 if s[0] == "-" else 1
        s = s[1:]
    try:
        return sign * int(parse_duration(s))
    except ValueError:
        return sign * int(float(s))


def _moving_points(node, ctx) -> int:
    """moving* windowSize: a bare number is a point count; a duration
    string ('5min', '1h') converts via duration/step like the
    reference's BetterParseDuration branch (dslMovingAverage,
    funcs.go:1447-1463 — RRA data is uniformly stepped, so a time
    window IS a row window of duration/step points)."""
    if isinstance(node, Literal) and isinstance(node.value, (int, float)):
        return int(node.value)
    from .timespec import parse_duration

    dur = int(parse_duration(_str(node)))
    return max(1, dur // max(1, ctx.step))


def evaluate(ctx: DslContext, src: str) -> DataFrame:
    return _series(ctx, parse(src))


def evaluate_node(ctx: DslContext, node):
    if isinstance(node, Pattern):
        return ctx.fetch(node.text)
    if isinstance(node, Literal):
        return node
    if isinstance(node, Call):
        return _dispatch(ctx, node)
    raise TypeError(f"unknown node {node!r}")


def _union_all(ctx, args):
    from functools import reduce

    dfs = [_series(ctx, a) for a in args]
    return reduce(DataFrame.unionAll, dfs)


def _dispatch(ctx: DslContext, call: Call) -> DataFrame:
    f, a = call.func, call.args

    def s0():
        """The leading series arguments (patterns/calls); trailing
        literal parameters are consumed positionally by each branch."""
        series_args = []
        for x in a:
            if isinstance(x, (Pattern, Call)):
                series_args.append(x)
            else:
                break
        if not series_args:
            raise TypeError(f"{f}() needs a leading series argument")
        return _union_all(ctx, series_args)

    combine = {
        "sumSeries": db.sum_series, "sum": db.sum_series,
        "averageSeries": db.average_series, "avg": db.average_series,
        "minSeries": db.min_series, "min": db.min_series,
        "maxSeries": db.max_series, "max": db.max_series,
        "multiplySeries": db.multiply_series,
        "rangeOfSeries": db.range_of_series,
        "countSeries": db.count_series,
        "diffSeries": db.diff_series,
        "stddevSeries": dc.stddev_series,
        "group": lambda d: d,
    }
    if f in combine:
        return combine[f](_union_all(ctx, a))

    simple = {
        "absolute": dt.absolute,
        "derivative": dt.derivative,
        "perSecond": dt.per_second,
        "integral": dt.integral,
        "offsetToZero": dt.offset_to_zero,
        "isNonNull": dt.is_non_null,
        "changed": dt.changed,
        "squareRoot": dt.square_root,
        "invert": dt.invert,
        "aliasByMetric": ds.alias_by_metric,
    }
    if f in simple:
        return simple[f](s0())

    if f == "asPercent":
        tot = _num(a[-1]) if a and isinstance(a[-1], Literal) else None
        return db.as_percent(s0(), tot)
    if f == "nonNegativeDerivative":
        mv = _num(a[1]) if len(a) > 1 else None
        return dt.non_negative_derivative(s0(), mv)
    if f in ("scale",):
        return dt.scale(s0(), _num(a[1]))
    if f == "offset":
        return dt.offset(s0(), _num(a[1]))
    if f in ("logarithm", "log"):
        return dt.logarithm(s0(), _num(a[1]) if len(a) > 1 else 10.0)
    if f == "pow":
        return dt.pow_(s0(), _num(a[1]))
    if f == "transformNull":
        return dt.transform_null(s0(), _num(a[1]) if len(a) > 1 else 0.0)
    if f == "keepLastValue":
        return dt.keep_last_value(
            s0(), int(_num(a[1])) if len(a) > 1 else None
        )
    if f == "timeShift":
        return dt.time_shift(s0(), _seconds(a[1]))
    if f == "delay":
        return dt.delay(s0(), int(_num(a[1])))
    if f == "scaleToSeconds":
        return dt.scale_to_seconds(s0(), _seconds(a[1]), ctx.step)
    if f == "summarize":
        func = _str(a[2]) if len(a) > 2 else "sum"
        return dt.summarize(s0(), _seconds(a[1]), func)
    if f == "smartSummarize":
        func = _str(a[2]) if len(a) > 2 else "sum"
        return dt.summarize(s0(), _seconds(a[1]), func)
    if f == "hitcount":
        return dt.hitcount(s0(), _seconds(a[1]), ctx.step)
    if f == "consolidateBy":
        return consolidate(s0(), ctx.step, cf=_str(a[1]).lower())

    if f == "movingAverage":
        return dc.moving_average(s0(), _moving_points(a[1], ctx))
    if f == "movingMedian":
        return dc.moving_median(s0(), _moving_points(a[1], ctx))
    if f == "movingSum":
        return dc.moving_sum(s0(), _moving_points(a[1], ctx))
    if f == "movingMin":
        return dc.moving_min(s0(), _moving_points(a[1], ctx))
    if f == "movingMax":
        return dc.moving_max(s0(), _moving_points(a[1], ctx))
    if f == "stdev":
        return dc.moving_stdev(s0(), _moving_points(a[1], ctx))
    if f == "nPercentile":
        return dc.n_percentile(s0(), _num(a[1]))
    if f == "percentileOfSeries":
        return db.percentile_of_series(_union_all(ctx, a[:1]), _num(a[1]) / 100.0)
    if f == "divideSeries":
        # side-tagged pair: no driver collects; the two-series arity
        # rule is enforced inside the plan (divide_series_pair). The
        # single-seriesList form divideSeries(group(a, b)) resolves
        # first/last names with a broadcast 1-row agg instead.
        if len(a) == 1:
            return db.divide_series_auto(_series(ctx, a[0]))
        return db.divide_series_pair(_series(ctx, a[0]), _series(ctx, a[1]))
    if f == "weightedAverage":
        # separate avg/weight selectors paired by name node
        # (dslWeightedAverage) — no suffix convention assumed
        node = int(_num(a[2])) if len(a) > 2 else 0
        return db.weighted_average_pair(
            _series(ctx, a[0]), _series(ctx, a[1]), node
        )
    if f in ("sumSeriesWithWildcards", "averageSeriesWithWildcards"):
        positions = [int(_num(x)) for x in a[1:]]
        func = "avg" if f.startswith("average") else "sum"
        return db.group_without_nodes(s0(), positions, func)
    if f == "groupByNode":
        node = int(_num(a[1]))
        func = _str(a[2]) if len(a) > 2 else "sum"
        return db.group_by_node(s0(), node, func)
    if f == "mapSeries":
        # graphite's list-of-lists is a VIRTUAL grouping in the
        # relational model — the frame passes through unchanged and
        # reduceSeries re-derives the partition from its reduceNode
        # (dsl_combine.reduce_series documents why that is the same
        # partition); standalone inspection uses db.map_series
        return s0()
    if f == "reduceSeries":
        lits = [x for x in a if isinstance(x, Literal)]
        return db.reduce_series(
            s0(), _str(lits[0]), int(_num(lits[1])),
            _str(lits[2]), _str(lits[3]),
        )
    if f == "stacked":
        return db.stacked_series(s0())
    if f == "substr":
        start = int(_num(a[1])) if len(a) > 1 else 0
        stop = int(_num(a[2])) if len(a) > 2 else 0
        return ds.substr_name(s0(), start, stop)

    rank = {
        "highestCurrent": ("current", True), "highestMax": ("max", True),
        "highestAverage": ("avg", True), "lowestAverage": ("avg", False),
        "lowestCurrent": ("current", False),
    }
    if f in rank:
        stat, hi = rank[f]
        return df_.rank_series(s0(), stat, int(_num(a[1])), hi)
    thresh = {
        "averageAbove": ("avg", ">"), "averageBelow": ("avg", "<"),
        "currentAbove": ("current", ">"), "currentBelow": ("current", "<"),
        "maximumAbove": ("max", ">"), "maximumBelow": ("max", "<"),
        "minimumAbove": ("min", ">"), "minimumBelow": ("min", "<"),
    }
    if f in thresh:
        stat, op = thresh[f]
        return df_.filter_by_stat(s0(), stat, op, _num(a[1]))
    if f == "limit":
        return df_.limit_series(s0(), int(_num(a[1])))
    if f == "exclude":
        return df_.exclude(s0(), _str(a[1]))
    if f == "grep":
        return df_.grep(s0(), _str(a[1]))
    if f == "mostDeviant":
        # graphite arg order: mostDeviant(n, series) or (series, n)
        if isinstance(a[0], Literal):
            return df_.most_deviant(_series(ctx, a[1]), int(_num(a[0])))
        return df_.most_deviant(s0(), int(_num(a[1])))
    if f == "useSeriesAbove":
        return df_.use_series_above(s0(), _num(a[1]), _str(a[2]), _str(a[3]))
    if f == "removeAboveValue":
        return dt.remove_above_value(s0(), _num(a[1]))
    if f == "removeBelowValue":
        return dt.remove_below_value(s0(), _num(a[1]))
    if f == "removeAbovePercentile":
        return df_.remove_percentile(s0(), _num(a[1]), True)
    if f == "removeBelowPercentile":
        return df_.remove_percentile(s0(), _num(a[1]), False)
    sorts = {
        "sortByName": ("name", True), "sortByMaxima": ("max", False),
        "sortByMinima": ("min", True), "sortByTotal": ("total", False),
    }
    if f in sorts:
        stat, asc = sorts[f]
        return ds.sort_by(s0(), stat, asc)

    if f == "alias":
        return ds.alias(s0(), _str(a[1]))
    if f == "aliasByNode":
        nodes = [int(_num(x)) for x in a[1:]]
        return ds.alias_by_node(s0(), *nodes)
    if f == "aliasSub":
        return ds.alias_sub(s0(), _str(a[1]), _str(a[2]))
    if f == "color":  # charting metadata — identity on data
        return s0()
    if f == "cactiStyle":
        return ds.cacti_style(s0())
    if f == "constantLine":
        if ctx.t_from is None or ctx.t_to is None:
            raise ValueError("constantLine needs a time range on the context")
        return ds.constant_line(
            ctx.spark, _num(a[0]), ctx.t_from, ctx.t_to, ctx.step
        )
    if f == "sinusoid":
        # dslSinusoid (funcs.go:1960-1980): unit sine over the request
        # range; amplitude is ours (reference hardcodes 1.0).
        if ctx.t_from is None or ctx.t_to is None:
            raise ValueError("sinusoid needs a time range on the context")
        amp = _num(a[0], 1.0) if a else 1.0
        return ds.sinusoid(ctx.spark, amp, ctx.t_from, ctx.t_to, ctx.step)
    if f == "randomWalk":
        # beyond-reference generator (graphite-web has it); seeded by
        # slot hash so replays are deterministic (dsl_special.py).
        if ctx.t_from is None or ctx.t_to is None:
            raise ValueError("randomWalk needs a time range on the context")
        nm = _str(a[0]) if a else "randomWalk()"
        return ds.random_walk(ctx.spark, nm, ctx.t_from, ctx.t_to, ctx.step)
    if f == "timeStack":
        # reference dslCtxFuncs "timeStack" (funcs.go:2327): fetch the
        # pattern over the WIDE range covering every slice
        # (t_to-(i+1)·period, t_to-i·period], i in [begin, num] — the
        # context's from-filter must not cut the historical slices —
        # through the same routed fetch, at native resolution.
        if ctx.t_to is None:
            raise ValueError("timeStack needs `to` on the context")
        pat = a[0].text if isinstance(a[0], Pattern) else _str(a[0])
        period = _seconds(a[1])
        begin, num = int(_num(a[2])), int(_num(a[3]))
        ends = [ctx.t_to - k * period for k in (begin, begin + 1, num, num + 1)]
        wide = DslContext(ctx.archives, min(ends), max(ends), now=ctx.now)
        ispec = a[1].value if isinstance(a[1], Literal) else str(period)
        return dt.time_stack(wide.fetch(pat), period, begin, num, ctx.t_to, ispec)

    from ..operators import holtwinters as hw

    if f == "holtWintersForecast":
        return hw.holt_winters_forecast(s0(), int(_num(a[1], 24.0)) if len(a) > 1 else 24, 24)
    if f == "holtWintersConfidenceBands":
        return hw.holt_winters_confidence_bands(s0(), int(_num(a[1], 24.0)) if len(a) > 1 else 24, 24)
    if f == "holtWintersAberration":
        return hw.holt_winters_aberration(s0(), int(_num(a[1], 24.0)) if len(a) > 1 else 24)

    raise ValueError(f"unknown DSL function: {f}")
