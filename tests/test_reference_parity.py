"""Ports of the reference's DSL tests (dsl/funcs_test.go) run through
OUR parser/evaluator — same expressions, same expected values.

The reference fixtures are RRAs with constant or generated values
(funcs_test.go:40-115); here the catalog is the equivalent
SeriesFrame. NaN in the reference maps to NULL here.
"""

from __future__ import annotations

import math

import pytest

from tgres_spark.archive import ArchiveSet
from tgres_spark.dsl.evaluator import DslContext, evaluate

STEP = 60
T0, T1 = 60, 3600  # one hour of minute slots, end-labeled


@pytest.fixture(scope="module")
def td(spark):
    """foo.bar1.baz = 10, foo.bar2.baz = 20 everywhere, plus a ramp
    series (0,1,2,...) — the shapes funcs_test.go builds."""
    rows = []
    for i, t in enumerate(range(T0, T1 + 1, STEP)):
        rows.append(("foo.bar1.baz", t, 10.0))
        rows.append(("foo.bar2.baz", t, 20.0))
        rows.append(("ramp.series", t, float(i)))
        rows.append(("wave.series", t, math.sin(2 * math.pi / 10 * i)))
    catalog = spark.createDataFrame(rows, "name string, t long, value double")
    return DslContext(catalog, t_from=T0, t_to=T1)


def vals(df):
    return [r["value"] for r in df.orderBy("t").collect()]


def every_value_is(df, expect, tol=1e-9):
    vs = vals(df)
    assert vs, "empty result"
    assert all(
        v is not None and math.isclose(v, expect, abs_tol=tol) for v in vs
    ), vs[:5]


# Test_dsl_averageSeries (funcs_test.go:64)
def test_average_series_of_constant_lines(td):
    for fn in ("averageSeries", "avg"):
        out = evaluate(td, f"{fn}(constantLine(10), constantLine(20), constantLine(30))")
        every_value_is(out, 20.0)


# Test_dsl_sumSeries (funcs_test.go:236)
def test_sum_series(td):
    every_value_is(evaluate(td, "sumSeries(foo.*.baz)"), 30.0)
    every_value_is(evaluate(td, "sum(constantLine(1), constantLine(2))"), 3.0)


# Test_dsl_maxSeries / minSeries (funcs_test.go:187,199)
def test_max_min_series(td):
    every_value_is(evaluate(td, "maxSeries(foo.*.baz)"), 20.0)
    every_value_is(evaluate(td, "minSeries(foo.*.baz)"), 10.0)
    every_value_is(evaluate(td, "max(constantLine(3), constantLine(4))"), 4.0)
    every_value_is(evaluate(td, "min(constantLine(3), constantLine(4))"), 3.0)


# Test_dsl_rangeOfSeries (funcs_test.go:224)
def test_range_of_series(td):
    every_value_is(evaluate(td, "rangeOfSeries(foo.*.baz)"), 10.0)


# Test_dsl_percentileOfSeries (funcs_test.go:211)
def test_percentile_of_series(td):
    # go-metrics quantile of [10,20] at p=0.5: pos=1.5 → 10+0.5*10=15
    every_value_is(evaluate(td, "percentileOfSeries(foo.*.baz, 50)"), 15.0)


# Test_dsl_multiplySeries (funcs_test.go:248)
def test_multiply_series(td):
    every_value_is(evaluate(td, "multiplySeries(foo.*.baz)"), 200.0)


# Test_dsl_group (funcs_test.go:163)
def test_group(td):
    out = evaluate(td, "group(foo.bar1.baz, foo.bar2.baz)")
    names = {r["name"] for r in out.select("name").distinct().collect()}
    assert names == {"foo.bar1.baz", "foo.bar2.baz"}


# Test_dsl_isNonNull (funcs_test.go:175)
def test_is_non_null(td):
    every_value_is(evaluate(td, "isNonNull(foo.bar1.baz)"), 1.0)


# Test_dsl_absolute (funcs_test.go:260)
def test_absolute(td):
    every_value_is(evaluate(td, "absolute(offset(constantLine(10), -20))"), 10.0)


# Test_dsl_derivative (funcs_test.go:272): v[i] = gen[i] - gen[i-1]
def test_derivative_of_ramp(td):
    vs = vals(evaluate(td, "derivative(ramp.series)"))
    assert vs[0] is None  # first point has no predecessor
    assert all(math.isclose(v, 1.0) for v in vs[1:])


# Test_dsl_integral (funcs_test.go:295): running sum
def test_integral_of_ramp(td):
    vs = vals(evaluate(td, "integral(ramp.series)"))
    n = len(vs)
    assert vs == [float(i * (i + 1) // 2) for i in range(n)]


# Test_dsl_logarithm (funcs_test.go:318)
def test_logarithm(td):
    for fn in ("log", "logarithm"):
        every_value_is(evaluate(td, f"{fn}(constantLine(10))"), 1.0)


# Test_dsl_nonNegativeDerivative (funcs_test.go:333): negative → NaN/NULL
def test_non_negative_derivative_of_wave(td):
    vs = vals(evaluate(td, "nonNegativeDerivative(wave.series)"))
    gen = [math.sin(2 * math.pi / 10 * i) for i in range(len(vs))]
    for i in range(1, len(vs)):
        d = gen[i] - gen[i - 1]
        if d < 0:
            assert vs[i] is None
        else:
            assert math.isclose(vs[i], d, abs_tol=1e-9)


# Test_dsl_offset / offsetToZero (funcs_test.go:361,373)
def test_offset_and_offset_to_zero(td):
    every_value_is(evaluate(td, "offset(foo.bar1.baz, 5)"), 15.0)
    every_value_is(evaluate(td, "offsetToZero(foo.bar2.baz)"), 0.0)
    # offsetToZero of the ramp subtracts its min (0) — identity
    vs = vals(evaluate(td, "offsetToZero(ramp.series)"))
    assert vs == [float(i) for i in range(len(vs))]


# Test_dsl_scale (funcs_test.go:396)
def test_scale(td):
    every_value_is(evaluate(td, "scale(foo.bar1.baz, 2.5)"), 25.0)


# Test_dsl_timeshift (funcs_test.go:408): data shifts forward
def test_timeshift(td):
    out = evaluate(td, 'timeShift(ramp.series, "1h")')
    ts = sorted(r["t"] for r in out.collect())
    assert ts[0] == T0 + 3600 and ts[-1] == T1 + 3600


# Test_dsl_transformNull (funcs_test.go:428)
def test_transform_null(td, spark):
    rows = [("gappy", 60, 1.0), ("gappy", 120, None), ("gappy", 180, 3.0)]
    ctx = DslContext(
        spark.createDataFrame(rows, "name string, t long, value double")
    )
    vs = vals(evaluate(ctx, "transformNull(gappy, -1)"))
    assert vs == [1.0, -1.0, 3.0]


# Test_dsl_multiseriesStuff (funcs_test.go:83): wildcards + groupByNode
def test_multiseries_wildcards(td):
    every_value_is(evaluate(td, "sumSeriesWithWildcards(foo.*.baz, 1)"), 30.0)
    every_value_is(evaluate(td, "averageSeriesWithWildcards(foo.*.baz, 1)"), 15.0)
    out = evaluate(td, "groupByNode(foo.*.baz, 1, 'sum')")
    names = {r["name"] for r in out.select("name").distinct().collect()}
    assert names == {"bar1", "bar2"}


def test_exclude_and_timestack(td):
    out = evaluate(td, "exclude(foo.*.baz, 'bar2')")
    names = {r["name"] for r in out.select("name").distinct().collect()}
    assert names == {"foo.bar1.baz"}
    # 600s periods so all three historical slices hold data; a slice
    # with no data yields no series (the relational form of the
    # reference's empty series object)
    stack = evaluate(td, 'timeStack(foo.bar1.baz, "600s", 0, 2)')
    names = {r["name"] for r in stack.select("name").distinct().collect()}
    assert len(names) == 3  # i = 0, 1, 2
    only_now = evaluate(td, 'timeStack(foo.bar1.baz, "1h", 0, 2)')
    assert only_now.select("name").distinct().count() == 1  # no history


def test_weighted_average_pairs_by_node(spark):
    """funcs_test.go Test_dsl_weightedAverage: avg series foo.bar1.baz
    = 10, weight series foo.bar2.baz = 20, paired on node 0 → every
    value 10 (the weights cancel)."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    rows = [(f"foo.bar{i}.baz", t, 10.0 * i) for i in (1, 2) for t in range(0, 600, 60)]
    cat = spark.createDataFrame(rows, "name string, t long, value double")
    out = evaluate(
        DslContext(cat), "weightedAverage(foo.bar1.baz, foo.bar2.baz, 0)"
    ).collect()
    assert out and all(r["value"] == 10.0 for r in out)


def test_summarize_of_summed_constant_lines(spark):
    """funcs_test.go Test_dsl_summarize: summarize(sum(constantLine(10),
    constantLine(20), constantLine(30)), '1min', sum) == 3600 per slot
    at 1s resolution (60 points × 60)."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("unused", 0, 0.0)], "name string, t long, value double"
    )
    ctx = DslContext(ArchiveSet(cat, base_step=1), t_from=0, t_to=3600)
    out = evaluate(
        ctx,
        "summarize(sumSeries(constantLine(10), constantLine(20), constantLine(30)), '1min', 'sum')",
    ).collect()
    full = [r for r in out if 60 <= r["t"] <= 3600]
    assert full and all(r["value"] == 3600.0 for r in full)


def test_divide_series_single_group_form(spark):
    """funcs_test.go Test_dsl_divideSeries:
    divideSeries(group(constantLine(10), constantLine(20))) == 0.5
    everywhere; >2 series raises the reference's arity error — both
    enforced in-plan, no driver collect."""
    import pytest

    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("unused", 0, 0.0)], "name string, t long, value double"
    )
    ctx = DslContext(ArchiveSet(cat, base_step=60), t_from=0, t_to=600)
    out = evaluate(
        ctx, "divideSeries(group(constantLine(10), constantLine(20)))"
    ).collect()
    assert out and all(r["value"] == 0.5 for r in out)
    with pytest.raises(Exception, match="exactly two series"):
        evaluate(
            ctx,
            "divideSeries(group(constantLine(1), constantLine(2), constantLine(3)))",
        ).collect()


def test_hitcount_of_summed_constant_lines(spark):
    """funcs_test.go Test_dsl_hitcount: hitcount(sum(10,20,30 lines),
    '1min') == 3600 per slot at 1s resolution (rate 60 × 60s)."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("unused", 0, 0.0)], "name string, t long, value double"
    )
    ctx = DslContext(ArchiveSet(cat, base_step=1), t_from=0, t_to=3600)
    out = evaluate(
        ctx,
        "hitcount(sumSeries(constantLine(10), constantLine(20), constantLine(30)), '1min')",
    ).collect()
    full = [r for r in out if 60 <= r["t"] <= 3600]
    assert full and all(r["value"] == 3600.0 for r in full)


def test_n_percentile_of_constant_and_sinusoid(spark):
    """funcs_test.go Test_dsl_nPercentile: nPercentile(group(
    constantLine(10), sinusoid()), 50) — constant series → 10, the
    sinusoid's median → sin(π) ≈ 6.12e-17, which our sin-rounding
    contract (round 9, dsl_special.sinusoid) makes exactly 0.0."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("unused", 0, 0.0)], "name string, t long, value double"
    )
    # one full period of our sinusoid (sin(t/3600), period 2π·3600)
    # so the median sits near zero like the reference's full-cycle
    # sinusoid (its exact 6.12e-17 is an artifact of its point grid)
    ctx = DslContext(ArchiveSet(cat, base_step=60), t_from=0, t_to=22619)
    out = evaluate(ctx, "nPercentile(group(constantLine(10), sinusoid()), 50)").collect()
    by_name = {}
    for r in out:
        by_name.setdefault(r["name"], set()).add(r["value"])
    consts = [v for n, vs in by_name.items() for v in vs if "constantLine" in n]
    sins = [v for n, vs in by_name.items() for v in vs if "sinusoid" in n]
    assert consts and all(v == 10.0 for v in consts)
    assert sins and all(abs(v) < 0.05 for v in sins)


def _gen_ctx(spark, t_to=22619, step=360):
    cat = spark.createDataFrame(
        [("unused", 0, 0.0)], "name string, t long, value double"
    )
    from tgres_spark.dsl.evaluator import DslContext

    return DslContext(ArchiveSet(cat, base_step=step), t_from=0, t_to=t_to)


def test_changed_of_sinusoid_is_one(spark):
    """funcs_test.go Test_dsl_changed: every sinusoid point differs
    from its predecessor → changed() == 1 (first point: no
    predecessor → 0 in our NULL-lag form)."""
    from tgres_spark.dsl.evaluator import evaluate

    out = sorted(
        evaluate(_gen_ctx(spark), "changed(sinusoid())").collect(),
        key=lambda r: r["t"],
    )
    assert all(r["value"] == 1.0 for r in out[1:])


def test_use_series_above_keeps_and_renames(spark):
    """funcs_test.go Test_dsl_useSeriesAbove: only the 30-line clears
    the 20 bar; its name gets the search→replace rewrite."""
    from tgres_spark.dsl.evaluator import evaluate

    out = evaluate(
        _gen_ctx(spark, t_to=600, step=60),
        "useSeriesAbove(group(constantLine(10), constantLine(20), constantLine(30)), 20, 'Line', 'Wire')",
    ).collect()
    assert out and all(r["value"] == 30.0 for r in out)
    assert all("constantWire(30)" == r["name"] for r in out)


def test_most_deviant_picks_the_sinusoid(spark):
    """funcs_test.go Test_dsl_mostDeviant: among two constants and a
    sinusoid, the sinusoid deviates most."""
    from tgres_spark.dsl.evaluator import evaluate

    out = evaluate(
        _gen_ctx(spark),
        "mostDeviant(group(constantLine(10), constantLine(20), sinusoid()), 1)",
    ).collect()
    assert out and all(r["value"] not in (10.0, 20.0) for r in out)
    assert all("sinusoid" in r["name"] for r in out)


def test_remove_above_percentile_of_sinusoid(spark):
    """funcs_test.go Test_dsl_removeAbovePercentile: surviving values
    sit at/below the 50th percentile of a full sinusoid cycle (≈ 0)."""
    from tgres_spark.dsl.evaluator import evaluate

    out = evaluate(
        _gen_ctx(spark), "removeAbovePercentile(sinusoid(), 50)"
    ).collect()
    vals = [r["value"] for r in out if r["value"] is not None]
    assert vals and all(v <= 0.05 for v in vals)


def test_stdev_of_unit_sinusoid_bounded(spark):
    """funcs_test.go Test_dsl_stdev: a unit sinusoid's moving stdev
    never exceeds 1."""
    from tgres_spark.dsl.evaluator import evaluate

    out = evaluate(_gen_ctx(spark), "stdev(sinusoid(), 5)").collect()
    vals = [r["value"] for r in out if r["value"] is not None]
    assert vals and all(v <= 1.0 for v in vals)


# Test_dsl_asPercent (funcs_test.go:476): each series / per-t total
def test_as_percent_of_group(td):
    out = evaluate(td, "asPercent(foo.*.baz)")
    by_name = {}
    for r in out.collect():
        by_name.setdefault(r["name"], set()).add(round(r["value"], 9))
    want = {
        "asPercent(foo.bar1.baz)": {round(10.0 / 30.0 * 100.0, 9)},
        "asPercent(foo.bar2.baz)": {round(20.0 / 30.0 * 100.0, 9)},
    }
    assert by_name == want


# Test_dsl_diffSeries (funcs_test.go:502): first-by-name minus the rest
def test_diff_series(td):
    every_value_is(evaluate(td, "diffSeries(foo.*.baz)"), -10.0)


# Test_dsl_highestCurrent / highestMax (funcs_test.go:543,555)
def test_highest_filters(td):
    every_value_is(evaluate(td, "highestCurrent(foo.*.baz, 1)"), 20.0)
    every_value_is(evaluate(td, "highestMax(foo.*.baz, 1)"), 20.0)


# Test_dsl_lowestAverage / lowestCurrent (funcs_test.go:579,591)
def test_lowest_filters(td):
    every_value_is(evaluate(td, "lowestAverage(foo.*.baz, 1)"), 10.0)
    every_value_is(evaluate(td, "lowestCurrent(foo.*.baz, 1)"), 10.0)


# Test_dsl_limit (funcs_test.go:567): first n series in name order
def test_limit(td):
    every_value_is(evaluate(td, "limit(foo.*.baz, 1)"), 10.0)


# Test_dsl_maximumAbove/Below, minimumAbove/Below (funcs_test.go:603-650)
def test_threshold_filters(td):
    every_value_is(evaluate(td, "maximumAbove(foo.*.baz, 15)"), 20.0)
    every_value_is(evaluate(td, "maximumBelow(foo.*.baz, 15)"), 10.0)
    every_value_is(evaluate(td, "minimumAbove(foo.*.baz, 15)"), 20.0)
    every_value_is(evaluate(td, "minimumBelow(foo.*.baz, 15)"), 10.0)


# Test_dsl_movingAverage / movingMedian (funcs_test.go:668,686): over a
# ramp both equal i - 0.5 for i >= 1 (go-metrics p50 of two points
# interpolates to the midpoint), and the bare first point is itself.
def test_moving_average_and_median_of_ramp(td):
    for fn in ("movingAverage", "movingMedian"):
        vs = vals(evaluate(td, f"{fn}(ramp.series, 2)"))
        assert math.isclose(vs[0], 0.0)
        for i, v in enumerate(vs[1:], start=1):
            assert math.isclose(v, i - 0.5), (fn, i, v)


# Test_dsl_removeAboveValue / removeBelowValue (funcs_test.go:721,755)
def test_remove_value_filters(td):
    for v in vals(evaluate(td, "removeAboveValue(wave.series, 0)")):
        assert v is None or v <= 0
    for v in vals(evaluate(td, "removeBelowValue(wave.series, 0)")):
        assert v is None or v >= 0


# Test_dsl_removeBelowPercentile (funcs_test.go:738): survivors >= p50
def test_remove_below_percentile(td):
    n = (T1 - T0) // STEP + 1
    wave = sorted(math.sin(2 * math.pi / 10 * i) for i in range(n))
    pos = 0.5 * (n + 1)  # go-metrics Quantile: pos = q*(n+1), 1-based
    lo = int(pos) - 1
    p50 = wave[lo] + (pos - int(pos)) * (wave[lo + 1] - wave[lo])
    survivors = [
        v for v in vals(evaluate(td, "removeBelowPercentile(wave.series, 50)"))
        if v is not None
    ]
    assert survivors and all(v >= p50 - 1e-9 for v in survivors)


# Test_dsl_alias family (funcs_test.go:833-888)
def test_alias_family(td):
    def names(expr):
        return {
            r["name"]
            for r in evaluate(td, expr).select("name").distinct().collect()
        }

    assert names("alias(foo.bar1.baz, 'foobar')") == {"foobar"}
    assert names("aliasByMetric(foo.bar1.baz)") == {"baz"}
    assert names("aliasByNode(foo.bar1.baz, 0)") == {"foo"}
    assert names("aliasByNode(foo.bar1.baz, 0, 2)") == {"foo.baz"}
    assert names("aliasSub(foo.bar1.baz, 'bar[0-9]', 'X')") == {"foo.X.baz"}


# Test_dsl_countSeries (funcs_test.go:901)
def test_count_series(td):
    every_value_is(evaluate(td, "countSeries(foo.*.baz)"), 2.0)


# Test_dsl_keepLastValue (funcs_test.go:925): limit caps consecutive
# fills — 5 real tens + 3 filled, the last 2 stay unknown. (The
# reference's own assertion is `tens != 9 && nans != 2`, which can
# never fire for both; the semantic pinned here is funcs.go
# dslKeepLastValue's: fill at most `limit` consecutive NaNs.)
def test_keep_last_value_limit(spark):
    rows = [("klv", 60 * (i + 1), 10.0 if i < 5 else None) for i in range(10)]
    ctx = DslContext(spark.createDataFrame(rows, "name string, t long, value double"))
    vs = vals(evaluate(ctx, "keepLastValue(klv, 3)"))
    assert vs == [10.0] * 8 + [None, None]


# Test_dsl_scaleToSeconds (funcs_test.go:979): linear in the factor
def test_scale_to_seconds_linearity(td):
    a = vals(evaluate(td, "scaleToSeconds(foo.bar1.baz, 2)"))
    b = vals(evaluate(td, "scaleToSeconds(foo.bar1.baz, 4)"))
    assert a and all(math.isclose(y, 2 * x) for x, y in zip(a, b))


# Test_dsl_consolidateBy (funcs_test.go:1003): consolidateBy(sum) must
# SUM the constants that fall in each consolidated slot (the reference
# sums 36 one-second tens per 36s maxDataPoints slot → 360). Our
# pipeline: fetch pre-consolidates to span/max_points = 360s slots
# (avg → still 10), consolidateBy re-consolidates at the context step
# (3600) → one slot summing ten tens = 100; max stays 10.
def test_consolidate_by_sums_slot_contents(spark, td):
    ctx = DslContext(td.archives, t_from=0, t_to=3600, max_points=10)
    every_value_is(evaluate(ctx, "consolidateBy(foo.bar1.baz, sum)"), 100.0)
    every_value_is(evaluate(ctx, "consolidateBy(foo.bar1.baz, max)"), 10.0)


# dslTimeStack (funcs.go:2327, dslCtxFuncs): each shift index slices
# one period back and realigns it to the window end, named
# timeShift(<name>, -<ispec>, <i>)
def test_time_stack_slices_and_realigns(td):
    out = evaluate(td, 'timeStack(foo.bar1.baz, "600s", 0, 2)')
    rows = out.collect()
    names = {r["name"] for r in rows}
    assert names == {
        f"timeShift(foo.bar1.baz, -600s, {i})" for i in (0, 1, 2)
    }
    for r in rows:
        assert 3000 < r["t"] <= 3600  # every slice realigned to the end
        assert r["value"] == 10.0
    # each slice carries exactly its 10 minute-slots
    import collections

    per = collections.Counter(r["name"] for r in rows)
    assert set(per.values()) == {10}
