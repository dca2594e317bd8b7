"""SURVEY §2.2-§2.6 — Graphite DSL queries over the events archive.

Base relation everywhere: the 1h WMEAN RRA of the events stream (what
tgres's DSL reads — dsl/dsl.go FetchSeries pulls from an RRA). The
heartbeat variant (hb=120s) has NULL slots and exercises the
null-sensitive functions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..model import (
    EVENTS_SERIES_SQL, NAME, T, VALUE, series_from_events, workdir,
)
from ..registry import register
from . import dsl_calculate as dc
from . import dsl_combine as db
from . import dsl_filter as df_
from . import dsl_special as ds
from . import dsl_transform as dt
from .consolidate import consolidate, oracle_consolidate_sql

STEP = 3600
T0 = 1704067200  # 2024-01-01, events table epoch range
T1 = T0 + 30 * 86400


def base(spark, sf_dir):
    return consolidate(series_from_events(spark, sf_dir), STEP, cf="wmean")


def hb_base(spark, sf_dir):
    return consolidate(
        series_from_events(spark, sf_dir), STEP, cf="wmean", heartbeat=120
    )


def dotted(spark, sf_dir):
    return base(spark, sf_dir).withColumn(
        NAME, F.concat(F.lit("app."), F.col(NAME), F.lit(".rate"))
    )


BASE_SQL = oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean")
HB_SQL = oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean", heartbeat=120)
DOTTED_SQL = (
    f"SELECT 'app.' || name || '.rate' AS name, t, value FROM ({BASE_SQL})"
)


def wa_base(spark, sf_dir):
    sf = series_from_events(spark, sf_dir)
    a = consolidate(sf, STEP, cf="wmean").withColumn(
        NAME, F.concat(F.col(NAME), F.lit(".avg"))
    )
    w = consolidate(sf, STEP, cf="count").withColumn(
        NAME, F.concat(F.col(NAME), F.lit(".weight"))
    )
    return a.unionAll(w)


WA_SQL = (
    f"SELECT name || '.avg' AS name, t, value FROM ({BASE_SQL}) "
    "UNION ALL "
    f"SELECT name || '.weight' AS name, t, value FROM "
    f"({oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, 'count')})"
)


def _reg(key, spark_fn, sql):
    register(key, sql=sql)(spark_fn)


# --- §2.2 combine ----------------------------------------------------------
_reg("dsl_sumSeries", lambda s, d: db.sum_series(base(s, d)), db.sum_series_sql(BASE_SQL))
_reg("dsl_averageSeries", lambda s, d: db.average_series(base(s, d)), db.average_series_sql(BASE_SQL))
_reg("dsl_minSeries", lambda s, d: db.min_series(base(s, d)), db.min_series_sql(BASE_SQL))
_reg("dsl_maxSeries", lambda s, d: db.max_series(base(s, d)), db.max_series_sql(BASE_SQL))
_reg("dsl_multiplySeries", lambda s, d: db.multiply_series(base(s, d)), db.multiply_series_sql(BASE_SQL))
_reg("dsl_diffSeries", lambda s, d: db.diff_series(base(s, d)), db.diff_series_sql(BASE_SQL))
_reg(
    "dsl_divideSeries",
    lambda s, d: db.divide_series(base(s, d), "click", "view"),
    db.divide_series_sql(BASE_SQL, "click", "view"),
)
_reg(
    "dsl_divideSeries_group",
    lambda s, d: db.divide_series_auto(
        base(s, d).where(F.col(NAME).isin("click", "view"))
    ),
    db.divide_series_auto_sql(
        f"SELECT * FROM ({BASE_SQL}) WHERE name IN ('click', 'view')"
    ),
)
_reg("dsl_rangeOfSeries", lambda s, d: db.range_of_series(base(s, d)), db.range_of_series_sql(BASE_SQL))
# NULL-semantics coverage: the heartbeat-gapped base carries real
# NULLs, so these pin cross-engine combine behavior on gaps (the
# NULL-free `base` exercises only the dense path).
_reg(
    "dsl_sumSeries_gaps",
    lambda s, d: db.sum_series(hb_base(s, d)),
    db.sum_series_sql(HB_SQL),
)
_reg(
    "dsl_averageSeries_gaps",
    lambda s, d: db.average_series(hb_base(s, d)),
    db.average_series_sql(HB_SQL),
)
_reg(
    "dsl_maxSeries_gaps",
    lambda s, d: db.max_series(hb_base(s, d)),
    db.max_series_sql(HB_SQL),
)
_reg(
    "dsl_percentileOfSeries",
    lambda s, d: db.percentile_of_series(base(s, d), 0.9),
    db.percentile_of_series_sql(BASE_SQL, 0.9),
)
_reg("dsl_countSeries", lambda s, d: db.count_series(base(s, d)), db.count_series_sql(BASE_SQL))
_reg("dsl_isNonNull", lambda s, d: dt.is_non_null(hb_base(s, d)), dt.is_non_null_sql(HB_SQL))
_reg(
    "dsl_group",
    lambda s, d: base(s, d).where(F.col(NAME).isin("click", "view")),
    f"SELECT * FROM ({BASE_SQL}) WHERE name IN ('click', 'view')",
)
_reg(
    "dsl_sumSeriesWithWildcards",
    lambda s, d: db.group_without_nodes(dotted(s, d), [1], "sum"),
    db.group_without_nodes_sql(DOTTED_SQL, [1], "sum"),
)
_reg(
    "dsl_averageSeriesWithWildcards",
    lambda s, d: db.group_without_nodes(dotted(s, d), [1], "avg"),
    db.group_without_nodes_sql(DOTTED_SQL, [1], "avg"),
)
_reg(
    "dsl_groupByNode",
    lambda s, d: db.group_by_node(dotted(s, d), 0, "max"),
    db.group_by_node_sql(DOTTED_SQL, 0, "max"),
)
# the last four --/skipped names from the reference's comment
# inventory (funcs.go COMBINE/SPECIAL blocks) — round 10 closes the
# whole list: mapSeries's list-of-lists is a group-key column,
# reduceSeries a (group, t) pivot, stacked a per-t prefix sum,
# substr pure name algebra
_reg(
    "dsl_mapSeries",
    lambda s, d: db.map_series(dotted(s, d), 1),
    db.map_series_sql(DOTTED_SQL, 1),
)
_reg(
    "dsl_reduceSeries",
    lambda s, d: db.reduce_series(wa_base(s, d), "divideSeries", 1, "avg", "weight"),
    db.reduce_series_sql(WA_SQL, "divideSeries", 1, "avg", "weight"),
)
_reg(
    "dsl_stacked",
    lambda s, d: db.stacked_series(base(s, d)),
    db.stacked_series_sql(BASE_SQL),
)
_reg(
    "dsl_substr",
    lambda s, d: ds.substr_name(dotted(s, d), 1, 2),
    ds.substr_name_sql(DOTTED_SQL, 1, 2),
)
_reg(
    "dsl_weightedAverage",
    lambda s, d: db.weighted_average(wa_base(s, d), "avg", "weight", 0),
    db.weighted_average_sql(WA_SQL, "avg", "weight", 0),
)
_reg("dsl_asPercent", lambda s, d: db.as_percent(base(s, d)), db.as_percent_sql(BASE_SQL))
_reg(
    "dsl_asPercent_total",
    lambda s, d: db.as_percent(base(s, d), 250.0),
    db.as_percent_sql(BASE_SQL, 250.0),
)
_reg("dsl_stddevSeries", lambda s, d: dc.stddev_series(base(s, d)), dc.stddev_series_sql(BASE_SQL))

# --- §2.3 transform --------------------------------------------------------
_reg("dsl_absolute", lambda s, d: dt.absolute(base(s, d)), dt.absolute_sql(BASE_SQL))
_reg("dsl_scale", lambda s, d: dt.scale(base(s, d), 2.5), dt.scale_sql(BASE_SQL, 2.5))
_reg("dsl_offset", lambda s, d: dt.offset(base(s, d), -10.0), dt.offset_sql(BASE_SQL, -10.0))
_reg("dsl_invert", lambda s, d: dt.invert(base(s, d)), dt.invert_sql(BASE_SQL))
_reg("dsl_pow", lambda s, d: dt.pow_(base(s, d), 2.0), dt.pow_sql(BASE_SQL, 2.0))
_reg("dsl_squareRoot", lambda s, d: dt.square_root(base(s, d)), dt.square_root_sql(BASE_SQL))
_reg("dsl_logarithm", lambda s, d: dt.logarithm(base(s, d)), dt.logarithm_sql(BASE_SQL))
_reg("dsl_derivative", lambda s, d: dt.derivative(base(s, d)), dt.derivative_sql(BASE_SQL))
_reg(
    "dsl_nonNegativeDerivative",
    lambda s, d: dt.non_negative_derivative(base(s, d)),
    dt.non_negative_derivative_sql(BASE_SQL),
)
_reg(
    "dsl_nonNegativeDerivative_wrap",
    lambda s, d: dt.non_negative_derivative(base(s, d), 1000.0),
    dt.non_negative_derivative_sql(BASE_SQL, 1000.0),
)
_reg("dsl_perSecond", lambda s, d: dt.per_second(base(s, d)), dt.per_second_sql(BASE_SQL))
_reg("dsl_delay", lambda s, d: dt.delay(base(s, d), 3), dt.delay_sql(BASE_SQL, 3))
_reg("dsl_integral", lambda s, d: dt.integral(base(s, d)), dt.integral_sql(BASE_SQL))
_reg("dsl_offsetToZero", lambda s, d: dt.offset_to_zero(base(s, d)), dt.offset_to_zero_sql(BASE_SQL))
_reg("dsl_timeShift", lambda s, d: dt.time_shift(base(s, d), 86400), dt.time_shift_sql(BASE_SQL, 86400))
# faithful dslTimeStack (funcs.go:2327): each shift index i slices
# (T1-(i+1)d, T1-i·d] and realigns it to the window end, named
# timeShift(<name>, -1d, i) exactly as the reference emits
_reg(
    "dsl_timeStack",
    lambda s, d: dt.time_stack(base(s, d), 86400, 0, 3, T1, "1d"),
    dt.time_stack_sql(BASE_SQL, 86400, 0, 3, T1, "1d"),
)
_reg(
    "dsl_transformNull",
    lambda s, d: dt.transform_null(hb_base(s, d), 0.0),
    dt.transform_null_sql(HB_SQL, 0.0),
)
_reg(
    "dsl_keepLastValue",
    lambda s, d: dt.keep_last_value(hb_base(s, d)),
    dt.keep_last_value_sql(HB_SQL),
)
_reg(
    "dsl_interpolate",
    lambda s, d: dt.interpolate(hb_base(s, d)),
    dt.interpolate_sql(HB_SQL),
)
_reg(
    "dsl_keepLastValue_limited",
    lambda s, d: dt.keep_last_value(hb_base(s, d), limit=2),
    dt.keep_last_value_sql(HB_SQL, limit=2),
)
_reg(
    "dsl_scaleToSeconds",
    lambda s, d: dt.scale_to_seconds(base(s, d), 60, STEP),
    dt.scale_to_seconds_sql(BASE_SQL, 60, STEP),
)
_reg(
    "dsl_summarize",
    lambda s, d: dt.summarize(base(s, d), 86400, "sum"),
    dt.summarize_sql(BASE_SQL, 86400, "sum"),
)
_reg(
    "dsl_smartSummarize",
    lambda s, d: dt.summarize(base(s, d), 86400, "avg"),
    dt.summarize_sql(BASE_SQL, 86400, "avg"),
)
_reg(
    "dsl_hitcount",
    lambda s, d: dt.hitcount(base(s, d), 86400, STEP),
    dt.hitcount_sql(BASE_SQL, 86400, STEP),
)
_reg("dsl_changed", lambda s, d: dt.changed(base(s, d)), dt.changed_sql(BASE_SQL))
_reg(
    "dsl_consolidateBy",
    lambda s, d: consolidate(series_from_events(s, d), STEP, cf="max"),
    oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "max"),
)

# --- §2.4 calculate --------------------------------------------------------
_reg(
    "dsl_movingAverage",
    lambda s, d: dc.moving_average(base(s, d), 5),
    dc.moving_average_sql(BASE_SQL, 5),
)
_reg(
    "dsl_movingMedian",
    lambda s, d: dc.moving_median(base(s, d), 5),
    dc.moving_median_sql(BASE_SQL, 5),
)
_reg("dsl_movingMin", lambda s, d: dc.moving_min(base(s, d), 5), dc.moving_min_sql(BASE_SQL, 5))
_reg("dsl_movingMax", lambda s, d: dc.moving_max(base(s, d), 5), dc.moving_max_sql(BASE_SQL, 5))
_reg("dsl_movingSum", lambda s, d: dc.moving_sum(base(s, d), 5), dc.moving_sum_sql(BASE_SQL, 5))
_reg("dsl_stdev", lambda s, d: dc.moving_stdev(base(s, d), 10), dc.moving_stdev_sql(BASE_SQL, 10))
_reg(
    "dsl_nPercentile",
    lambda s, d: dc.n_percentile(base(s, d), 95.0),
    dc.n_percentile_sql(BASE_SQL, 95.0),
)

# --- §2.5 filter / sort ----------------------------------------------------
for _key, _stat, _n, _hi in [
    ("dsl_highestCurrent", "current", 3, True),
    ("dsl_highestAverage", "avg", 3, True),
    ("dsl_highestMax", "max", 3, True),
    ("dsl_lowestAverage", "avg", 3, False),
    ("dsl_lowestCurrent", "current", 3, False),
]:
    _reg(
        _key,
        (lambda st, n, hi: lambda s, d: df_.rank_series(base(s, d), st, n, hi))(_stat, _n, _hi),
        df_.rank_series_sql(BASE_SQL, _stat, _n, _hi),
    )

for _key, _stat, _op, _n in [
    ("dsl_averageAbove", "avg", ">", 50.0),
    ("dsl_averageBelow", "avg", "<", 50.0),
    ("dsl_currentAbove", "current", ">", 50.0),
    ("dsl_currentBelow", "current", "<", 50.0),
    ("dsl_maximumAbove", "max", ">", 100.0),
    ("dsl_maximumBelow", "max", "<", 100.0),
    ("dsl_minimumAbove", "min", ">", 1.0),
    ("dsl_minimumBelow", "min", "<", 1.0),
]:
    _reg(
        _key,
        (lambda st, op, n: lambda s, d: df_.filter_by_stat(base(s, d), st, op, n))(_stat, _op, _n),
        df_.filter_by_stat_sql(BASE_SQL, _stat, _op, _n),
    )

_reg("dsl_limit", lambda s, d: df_.limit_series(base(s, d), 3), df_.limit_series_sql(BASE_SQL, 3))
_reg("dsl_exclude", lambda s, d: df_.exclude(base(s, d), "^err"), df_.exclude_sql(BASE_SQL, "^err"))
_reg("dsl_grep", lambda s, d: df_.grep(base(s, d), "ck$"), df_.grep_sql(BASE_SQL, "ck$"))
_reg("dsl_mostDeviant", lambda s, d: df_.most_deviant(base(s, d), 3), df_.most_deviant_sql(BASE_SQL, 3))
_reg(
    "dsl_useSeriesAbove",
    lambda s, d: df_.use_series_above(base(s, d), 100.0, "e", "E"),
    df_.use_series_above_sql(BASE_SQL, 100.0, "e", "E"),
)
_reg(
    "dsl_removeAboveValue",
    lambda s, d: dt.remove_above_value(base(s, d), 100.0),
    dt.remove_above_value_sql(BASE_SQL, 100.0),
)
_reg(
    "dsl_removeBelowValue",
    lambda s, d: dt.remove_below_value(base(s, d), 10.0),
    dt.remove_below_value_sql(BASE_SQL, 10.0),
)
_reg(
    "dsl_removeAbovePercentile",
    lambda s, d: df_.remove_percentile(base(s, d), 90.0, True),
    df_.remove_percentile_sql(BASE_SQL, 90.0, True),
)
_reg(
    "dsl_removeBelowPercentile",
    lambda s, d: df_.remove_percentile(base(s, d), 10.0, False),
    df_.remove_percentile_sql(BASE_SQL, 10.0, False),
)
for _key, _stat, _asc in [
    ("dsl_sortByName", "name", True),
    ("dsl_sortByMaxima", "max", False),
    ("dsl_sortByMinima", "min", True),
    ("dsl_sortByTotal", "total", False),
]:
    _reg(
        _key,
        (lambda st, asc: lambda s, d: ds.sort_by(base(s, d), st, asc))(_stat, _asc),
        ds.sort_by_sql(BASE_SQL, _stat, _asc),
    )

# --- §2.6 special ----------------------------------------------------------
_reg("dsl_alias", lambda s, d: ds.alias(base(s, d), "renamed"), ds.alias_sql(BASE_SQL, "renamed"))
_reg("dsl_cactiStyle", lambda s, d: ds.cacti_style(base(s, d)), ds.cacti_style_sql(BASE_SQL))
_reg(
    "dsl_aliasByMetric",
    lambda s, d: ds.alias_by_metric(dotted(s, d)),
    ds.alias_by_metric_sql(DOTTED_SQL),
)
_reg(
    "dsl_aliasByNode",
    lambda s, d: ds.alias_by_node(dotted(s, d), 0, 1),
    ds.alias_by_node_sql(DOTTED_SQL, 0, 1),
)
_reg(
    "dsl_aliasSub",
    lambda s, d: ds.alias_sub(dotted(s, d), "^app\\.", "svc."),
    ds.alias_sub_sql(DOTTED_SQL, "^app\\.", "svc."),
)
_reg(
    "dsl_aliasSub_backref",
    lambda s, d: ds.alias_sub(
        dotted(s, d), "^app\\.([a-z]+)\\.([a-z]+)$", "\\2.of.\\1"
    ),
    ds.alias_sub_sql(DOTTED_SQL, "^app\\.([a-z]+)\\.([a-z]+)$", "\\2.of.\\1"),
)
_reg(
    "dsl_constantLine",
    lambda s, d: ds.constant_line(s, 42.5, T0, T1, STEP),
    ds.constant_line_sql(42.5, T0, T1, STEP),
)


@register("dsl_sinusoid", sql=ds.sinusoid_sql(10.0, T0, T0 + 7 * 86400, STEP))
def _sinusoid(spark, sf_dir):
    return ds.sinusoid(spark, 10.0, T0, T0 + 7 * 86400, STEP)


@register(
    "dsl_randomWalk",
    sql=ds.random_walk_sql("randomWalk", T0, T0 + 7 * 86400, STEP),
)
def _random_walk(spark, sf_dir):
    return ds.random_walk(spark, "randomWalk", T0, T0 + 7 * 86400, STEP)


_reg(
    "events_anomaly",
    lambda s, d: dc.anomaly_zscore(base(s, d), 24, 2.0),
    dc.anomaly_zscore_sql(BASE_SQL, 24, 2.0),
)


# --- Holt-Winters (rows-only: iterative recurrence + optimizer) ------------
from . import holtwinters as hw  # noqa: E402


@register("dsl_holtWintersForecast")
def _hw_forecast(spark, sf_dir):
    return hw.holt_winters_forecast(base(spark, sf_dir), 24, 24)


@register("dsl_holtWintersConfidenceBands")
def _hw_bands(spark, sf_dir):
    return hw.holt_winters_confidence_bands(base(spark, sf_dir), 24, 24)


@register("dsl_holtWintersAberration")
def _hw_aberration(spark, sf_dir):
    return hw.holt_winters_aberration(base(spark, sf_dir), 24)


# One hash-checked Nelder-Mead iteration (round 7): the optimizer
# layer itself — ordering, micro6 centroid, reflect/expand/contract/
# shrink, accept — runs relationally in the oracle against exact
# integer SSEs, so both engines pick the same winning (α,β,γ) before
# the forecast recursion. With the recursion (the _fixed family) and
# the NM step both oracled, only the full fits' adaptive iteration
# count remains rows-only.
#
# The NM1 queries run on a FIXED 200-slot window of the base (global
# min(t) anchor) so the oracle's ~11 logical recursion passes stay
# constant-cost at any SF — the recursion depth, not the row width,
# is what DuckDB's recursive CTE pays for, and an attestation query
# must not scale its depth with the corpus. The NM algebra being
# proved is identical at any length (200 slots = 8 seasons at
# slen=24).
_NM1_SLOTS = 200
NM1_BASE_SQL = (
    f"SELECT * FROM ({BASE_SQL}) WHERE t < "
    f"(SELECT MIN(t) + {_NM1_SLOTS * STEP} FROM ({BASE_SQL}))"
)


def _nm1_base(spark, sf_dir):
    b = base(spark, sf_dir)
    lo = b.agg(F.min("t").alias("tmin"))
    return (
        b.crossJoin(F.broadcast(lo))
        .where(F.col("t") < F.col("tmin") + _NM1_SLOTS * STEP)
        .drop("tmin")
    )


@register(
    "dsl_holtWintersForecast_nm1",
    sql=hw.hw_nm1_forecast_sql(NM1_BASE_SQL, 24, 12),
)
def _hw_forecast_nm1(spark, sf_dir):
    return hw.hw_nm1_forecast(_nm1_base(spark, sf_dir), 24, 12)


@register(
    "dsl_holtWintersForecast_nm2",
    sql=hw.hw_nm2_forecast_sql(NM1_BASE_SQL, 24, 12),
)
def _hw_forecast_nm2(spark, sf_dir):
    """TWO hash-checked Nelder-Mead iterations (the ann_ivf_lloyd2
    pattern): nm1 proves the update step, this proves the step
    COMPOSES — iteration 2 starts from iteration 1's pool simplex.
    With init, recursion, one step, and two composed steps all
    oracled, only the full fit's ADAPTIVE iteration count remains
    rows-only."""
    return hw.hw_nm2_forecast(_nm1_base(spark, sf_dir), 24, 12)


@register(
    "dsl_holtWintersConfidenceBands_nm1",
    sql=hw.hw_nm1_bands_sql(NM1_BASE_SQL, 24, 12, 10.0),
)
def _hw_bands_nm1(spark, sf_dir):
    """Bands over the NM1-fitted parameters: the deviation chain runs
    at the per-series winning (α,β,γ) — same shared-tail oracle as
    the fixed variant over the NM1 CTE chain."""
    return hw.hw_nm1_bands(_nm1_base(spark, sf_dir), 24, 12, 10.0)


@register(
    "dsl_holtWintersAberration_nm1",
    sql=hw.hw_nm1_aberration_sql(NM1_BASE_SQL, 24, 10.0),
)
def _hw_aberration_nm1(spark, sf_dir):
    return hw.hw_nm1_aberration(_nm1_base(spark, sf_dir), 24, 10.0)


@register(
    "dsl_holtWintersConfidenceBands_nm2",
    sql=hw.hw_nm1_bands_sql(NM1_BASE_SQL, 24, 12, 10.0, iters=2),
)
def _hw_bands_nm2(spark, sf_dir):
    """Bands over the two-iteration NM fit — the deviation chain runs
    at the nm2 winner; mode tail shared verbatim with nm1/fixed."""
    return hw.hw_nm2_bands(_nm1_base(spark, sf_dir), 24, 12, 10.0)


@register(
    "dsl_holtWintersAberration_nm2",
    sql=hw.hw_nm1_aberration_sql(NM1_BASE_SQL, 24, 10.0, iters=2),
)
def _hw_aberration_nm2(spark, sf_dir):
    return hw.hw_nm2_aberration(_nm1_base(spark, sf_dir), 24, 10.0)


@register(
    "dsl_holtWintersForecast_nm3",
    sql=hw.hw_nm3_forecast_sql(NM1_BASE_SQL, 24, 12),
)
def _hw_forecast_nm3(spark, sf_dir):
    """THREE hash-checked Nelder-Mead iterations — one more unrolled
    step of the same generated CTE chain (round 8). The adaptive
    fit's first three branch decisions match this oracled prefix on
    every fixture series (pinned in tests/test_holtwinters.py), so
    the rows-only full fit is exactly 'this chain continued': only
    adaptive iterations > 3 remain unoracled."""
    return hw.hw_nm3_forecast(_nm1_base(spark, sf_dir), 24, 12)


@register(
    "dsl_holtWintersConfidenceBands_nm3",
    sql=hw.hw_nm1_bands_sql(NM1_BASE_SQL, 24, 12, 10.0, iters=3),
)
def _hw_bands_nm3(spark, sf_dir):
    """Bands over the three-iteration NM fit — deviation chain at the
    nm3 winner; mode tail shared verbatim with nm1/nm2/fixed."""
    return hw.hw_nm3_bands(_nm1_base(spark, sf_dir), 24, 12, 10.0)


@register(
    "dsl_holtWintersAberration_nm3",
    sql=hw.hw_nm1_aberration_sql(NM1_BASE_SQL, 24, 10.0, iters=3),
)
def _hw_aberration_nm3(spark, sf_dir):
    return hw.hw_nm3_aberration(_nm1_base(spark, sf_dir), 24, 10.0)


# Fixed (α,β,γ): the recursion becomes SQL-expressible — a DuckDB
# recursive CTE is the oracle, so this variant is hash-checked while
# the Nelder-Mead-fitted ones above stay rows-only (declared).
@register(
    "dsl_holtWintersForecast_fixed",
    sql=hw.hw_fixed_forecast_sql(BASE_SQL, 24, 12, 0.4, 0.1, 0.2),
)
def _hw_forecast_fixed(spark, sf_dir):
    return hw.hw_fixed_forecast(base(spark, sf_dir), 24, 12, 0.4, 0.1, 0.2)


@register(
    "dsl_holtWintersConfidenceBands_fixed",
    sql=hw.hw_fixed_bands_sql(BASE_SQL, 24, 12, 0.4, 0.1, 0.2, 10.0),
)
def _hw_bands_fixed(spark, sf_dir):
    return hw.hw_fixed_bands(base(spark, sf_dir), 24, 12, 0.4, 0.1, 0.2, 10.0)


@register(
    "dsl_holtWintersAberration_fixed",
    sql=hw.hw_fixed_aberration_sql(BASE_SQL, 24, 0.4, 0.1, 0.2, 10.0),
)
def _hw_aberration_fixed(spark, sf_dir):
    return hw.hw_fixed_aberration(base(spark, sf_dir), 24, 0.4, 0.1, 0.2, 10.0)


@register(
    "streaming_anomaly_zscore",
    sql=dc.anomaly_zscore_sql(BASE_SQL, 24, 2.0),
)
def _streaming_anomaly(spark, sf_dir):
    """Trailing z-score anomaly detection as a CUSTOM STATEFUL
    streaming operator (streaming/anomaly.py applyInPandasWithState):
    the consolidated series frame dropped as parquet, each series'
    last-24-value window carried in keyed state, scores emitted per
    point. A single availableNow batch is bit-identical to the batch
    window operator (the Python math replays micro6/dec6 quantization
    exactly), so it shares events_anomaly's DuckDB oracle; cross-batch
    state carry with time-ordered drops is pinned in
    tests/test_streaming.py."""
    from ..streaming.anomaly import run_anomaly_stream

    work = workdir(spark, "tgres_sanom_")
    b = base(spark, sf_dir)
    b.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_anomaly_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", b.schema,
        points=24, k=2.0,
    )
    return spark.read.parquet(f"{work}/out")


# --- §2.2 alignment (seriesslice.go Align / rra_series.go maxDataPoints) ---

from . import align as al  # noqa: E402


@register(
    "dsl_align_lcm_sum",
    sql=db.sum_series_sql(
        al.align_lcm_sql(
            [
                (oracle_consolidate_sql(EVENTS_SERIES_SQL, 1200, "wmean"), 1200),
                (oracle_consolidate_sql(EVENTS_SERIES_SQL, 1800, "wmean"), 1800),
            ]
        )
    ),
)
def _align_lcm_sum(spark, sf_dir):
    """SeriesSlice.Align() (seriesslice.go:155-171) before a combine:
    the same stream consolidated at 20 min and 30 min is aligned to
    their LCM (1 h) via the reference's NaN-skip slot-group average
    (rra_series.go:104-117), then summed per timestamp."""
    sf = series_from_events(spark, sf_dir)
    mixed = al.align_lcm(
        [
            (consolidate(sf, 1200, cf="wmean"), 1200),
            (consolidate(sf, 1800, cf="wmean"), 1800),
        ]
    )
    return db.sum_series(mixed)


@register(
    "dsl_maxDataPoints",
    sql=al.maxpoints_group_sql(HB_SQL, T0, T1, 100, STEP),
)
def _maxdatapoints(spark, sf_dir):
    """Render-time maxDataPoints grouping (rra_series.go:73-118):
    (to-from)/100 = 25920 s per group over the 1 h heartbeat base →
    moves = round(25920/3600) = 7 consecutive DENSE slots per emitted
    point (grid generated in-plan; NULL heartbeat slots skipped by the
    average), partial 6-slot tail discarded exactly as Next() does."""
    return al.maxpoints_group(hb_base(spark, sf_dir), T0, T1, 100, STEP)
