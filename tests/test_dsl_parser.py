"""Parser + evaluator semantics (reference dsl/dsl.go + funcs_test.go)."""

from __future__ import annotations

import pytest

from tgres_spark.archive import ArchiveSet
from tgres_spark.dsl.evaluator import DslContext, evaluate
from tgres_spark.dsl.parser import Call, Literal, Pattern, glob_to_regex, parse


def test_parse_pattern():
    n = parse("web.host1.cpu")
    assert isinstance(n, Pattern) and n.text == "web.host1.cpu"


def test_parse_call_with_args():
    n = parse("movingAverage(sumSeries(web.*.hits), 5)")
    assert isinstance(n, Call) and n.func == "movingAverage"
    inner = n.args[0]
    assert isinstance(inner, Call) and inner.func == "sumSeries"
    assert isinstance(inner.args[0], Pattern)
    assert n.args[1] == Literal(5.0)


def test_parse_strings_and_negatives():
    n = parse('alias(offset(a.b, -10), "renamed")')
    assert n.func == "alias" and n.args[1] == Literal("renamed")
    assert n.args[0].args[1] == Literal(-10.0)


def test_parse_rejects_garbage():
    for bad in ["f(", "f(a,,b)", "a b", ")", "f(a))"]:
        with pytest.raises(SyntaxError):
            parse(bad)


def test_glob_star_stays_in_segment():
    rx = glob_to_regex("web.*.hits")
    import re

    assert re.match(rx, "web.h1.hits")
    assert not re.match(rx, "web.h1.extra.hits")


def test_glob_braces_and_classes():
    import re

    rx = glob_to_regex("app.{click,view}.rate")
    assert re.match(rx, "app.click.rate") and re.match(rx, "app.view.rate")
    assert not re.match(rx, "app.error.rate")
    rx2 = glob_to_regex("host[0-2].cpu")
    assert re.match(rx2, "host1.cpu") and not re.match(rx2, "host5.cpu")


@pytest.fixture()
def catalog(spark):
    rows = []
    for name in ["web.h1.hits", "web.h2.hits", "db.h1.q"]:
        for t in range(0, 600, 60):
            rows.append((name, t, float(t // 60)))
    return spark.createDataFrame(rows, "name string, t long, value double")


def test_evaluate_pattern_fetch(catalog):
    out = evaluate(DslContext(catalog), "web.*.hits")
    names = {r["name"] for r in out.select("name").distinct().collect()}
    assert names == {"web.h1.hits", "web.h2.hits"}


def test_evaluate_sum_and_scale(catalog):
    out = evaluate(DslContext(catalog), "scale(sumSeries(web.*.hits), 2)")
    rows = {r["t"]: r["value"] for r in out.collect()}
    # both series have value t/60 → sum = 2*(t/60), scaled ×2
    assert rows[120] == 2 * (2 + 2)


def test_evaluate_time_range(catalog):
    ctx = DslContext(catalog, t_from=120, t_to=300)
    out = evaluate(ctx, "web.h1.hits")
    ts = sorted(r["t"] for r in out.collect())
    assert ts == [120, 180, 240, 300]


def test_evaluate_unknown_function(catalog):
    with pytest.raises(ValueError, match="unknown DSL function"):
        evaluate(DslContext(catalog), "definitelyNotAFunction(web.h1.hits)")


def test_evaluate_chained_filters(catalog):
    out = evaluate(
        DslContext(catalog), "highestAverage(group(web.*.hits, db.*.q), 1)"
    )
    names = {r["name"] for r in out.select("name").distinct().collect()}
    assert len(names) == 1


# --- time-spec parsing (http/graphite.go:197-218, misc.go:39-77) -----------

def test_parse_duration_units():
    from tgres_spark.dsl.timespec import parse_duration

    assert parse_duration("1h") == 3600
    assert parse_duration("1h30m") == 5400
    assert parse_duration("90s") == 90
    assert parse_duration("1.5h") == 5400
    assert parse_duration("1d") == 86400
    assert parse_duration("2w") == 2 * 604800
    assert parse_duration("1y") == 31536000
    assert parse_duration("10min") == 600
    assert parse_duration("5minutes") == 300
    assert parse_duration("2hours") == 7200
    assert parse_duration("1mon") == 30 * 86400
    assert parse_duration("500ms") == 0.5
    with pytest.raises(ValueError):
        parse_duration("garbage")
    with pytest.raises(ValueError):
        parse_duration("")


def test_parse_time_forms():
    from tgres_spark.dsl.timespec import parse_time

    now = 1704067200
    assert parse_time(None) is None
    assert parse_time("") is None
    assert parse_time("now", now) == now
    assert parse_time("-1h", now) == now - 3600
    assert parse_time("-7d", now) == now - 7 * 86400
    assert parse_time("1704000000", now) == 1704000000
    assert parse_time(12345, now) == 12345
    with pytest.raises(ValueError):
        parse_time("not-a-time", now)


def test_context_accepts_relative_times(catalog):
    # catalog t in 0..540; anchor now=600: -8m..now → [120, 540]
    ctx = DslContext(catalog, t_from="-8m", t_to="now", now=600)
    out = evaluate(ctx, "web.h1.hits")
    ts = sorted(r["t"] for r in out.collect())
    assert ts[0] == 120 and ts[-1] == 540


def test_weighted_average_expression_pairs_by_node(spark):
    """Mirror of funcs_test.go Test_dsl_weightedAverage: avg series
    foo.bar1.baz = 10, weight series foo.bar2.baz = 20, node 0 →
    every value is (10*20)/20 = 10."""
    rows = []
    for t in range(0, 300, 60):
        rows.append(("foo.bar1.baz", t, 10.0))
        rows.append(("foo.bar2.baz", t, 20.0))
    cat = spark.createDataFrame(rows, "name string, t long, value double")
    out = evaluate(
        DslContext(cat), "weightedAverage(foo.bar1.baz, foo.bar2.baz, 0)"
    )
    vals = {r["t"]: r["value"] for r in out.collect()}
    assert len(vals) == 5 and all(v == 10.0 for v in vals.values())


def test_weighted_average_drops_unpaired_weight_keys(spark):
    rows = []
    for t in (0, 60):
        rows.append(("a.x.avg", t, 4.0))
        rows.append(("w.x.wt", t, 2.0))
        rows.append(("w.y.wt", t, 100.0))  # no avg side for key 'y'
    cat = spark.createDataFrame(rows, "name string, t long, value double")
    out = evaluate(DslContext(cat), "weightedAverage(a.*.avg, w.*.wt, 1)")
    vals = {r["t"]: r["value"] for r in out.collect()}
    assert vals[0] == 4.0  # (4*2)/2 — the y weight contributes nothing


def test_divide_series_expression_runs_no_jobs(catalog, monkeypatch):
    """Building the divideSeries plan must launch ZERO Spark jobs
    (the old path collected distinct names twice per eval)."""
    from pyspark.sql import DataFrame as _DF

    def boom(self, *a, **k):
        raise AssertionError("collect() during expression evaluation")

    monkeypatch.setattr(_DF, "collect", boom)
    out = evaluate(
        DslContext(catalog), "divideSeries(web.h1.hits, web.h2.hits)"
    )
    monkeypatch.undo()
    rows = {r["t"]: r["value"] for r in out.collect()}
    assert rows[120] == 1.0  # identical series → ratio 1 (t=0 → 0/0 NULL)


def test_divide_series_arity_enforced_in_plan(catalog):
    import pyspark.errors

    out = evaluate(DslContext(catalog), "divideSeries(web.*.hits, db.h1.q)")
    with pytest.raises(Exception, match="(?i)two series"):
        out.collect()


def test_alias_sub_backreferences(spark):
    """Graphite \\N group refs rewrite name parts (reference's own
    TODO at funcs.go:996 — we support the graphite syntax)."""
    from tgres_spark.operators.dsl_special import alias_sub

    df = spark.createDataFrame(
        [("app.web01.cpu", 0, 1.0)], "name string, t long, value double"
    )
    out = alias_sub(df, r"^app\.([a-z]+)(\d+)\.", r"host-\2.\1.").collect()
    assert out[0]["name"] == "host-01.web.cpu"


def test_alias_sub_literal_dollar_is_preserved(spark):
    from tgres_spark.operators.dsl_special import alias_sub

    df = spark.createDataFrame(
        [("cost.total", 0, 1.0)], "name string, t long, value double"
    )
    out = alias_sub(df, "^cost", "$usd").collect()
    assert out[0]["name"] == "$usd.total"


def test_generator_functions_through_expressions(spark):
    """sinusoid()/randomWalk() dispatch from target strings using the
    context's time range (dslSinusoid funcs.go:1960; randomWalk is a
    graphite-web extra)."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("a.b", 0, 1.0)], "name string, t long, value double"
    )
    ctx = DslContext(cat, t_from=0, t_to=600, now=600)
    sin = evaluate(ctx, "sinusoid(2.0)").collect()
    assert sin and sin[0]["name"] == "sinusoid(2)"
    assert all(abs(r["value"]) <= 2.0 for r in sin)
    rw = evaluate(ctx, "randomWalk('rw')").collect()
    assert rw and rw[0]["name"] == "rw"


def test_moving_window_accepts_duration_strings(spark):
    """movingAverage(series, '5min') — the reference's
    BetterParseDuration branch (dslMovingAverage funcs.go:1447): a
    time window on uniformly-stepped data = duration/step points."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    rows = [("m.a", t, float(t)) for t in range(60, 660, 60)]
    cat = spark.createDataFrame(rows, "name string, t long, value double")
    ctx = DslContext(ArchiveSet(cat, base_step=60))  # duration/step = points
    by_str = evaluate(ctx, "movingAverage(m.a, '5min')").collect()
    by_pts = evaluate(ctx, "movingAverage(m.a, 5)").collect()
    assert sorted((r["t"], r["value"]) for r in by_str) == sorted(
        (r["t"], r["value"]) for r in by_pts
    )


def test_time_shift_compound_and_signed_durations(spark):
    """timeShift accepts the full BetterParseDuration grammar with
    parseTimeShift sign rules: bare '1h30m' shifts forward, '-1h'
    backward (funcs.go:1346-1362)."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("m.a", 1000, 1.0)], "name string, t long, value double"
    )
    ctx = DslContext(cat)
    fwd = evaluate(ctx, "timeShift(m.a, '1h30m')").collect()
    assert fwd[0]["t"] == 1000 + 5400
    back = evaluate(ctx, "timeShift(m.a, '-1h')").collect()
    assert back[0]["t"] == 1000 - 3600


def test_as_percent_numeric_total(spark):
    """asPercent(series, 250) divides by the literal total, not the
    per-t sum (funcs.go argNumberOrSeries)."""
    from tgres_spark.dsl.evaluator import DslContext, evaluate

    cat = spark.createDataFrame(
        [("m.a", 0, 50.0), ("m.b", 0, 200.0)], "name string, t long, value double"
    )
    out = {r["name"]: r["value"] for r in evaluate(DslContext(cat), "asPercent(m.*, 250)").collect()}
    assert out == {"asPercent(m.a)": 20.0, "asPercent(m.b)": 80.0}
    self_tot = {r["name"]: r["value"] for r in evaluate(DslContext(cat), "asPercent(m.*)").collect()}
    assert self_tot["asPercent(m.a)"] == 20.0  # 50/250 of the per-t sum


def test_evaluate_map_reduce_stacked_substr(spark):
    """The last four inventory names end-to-end through the parser:
    reduceSeries(mapSeries(...)) computes the per-group divide;
    stacked() prefix-sums in name order per t; substr() renames."""
    rows = []
    for host in ("h1", "h2"):
        for t in (0, 60):
            rows.append((f"servers.{host}.disk.used", t, 30.0))
            rows.append((f"servers.{host}.disk.total", t, 120.0))
    catalog = spark.createDataFrame(
        rows, "name string, t long, value double"
    )
    out = evaluate(
        DslContext(catalog),
        'reduceSeries(mapSeries(servers.*.disk.*, 1), '
        '"asPercent", 3, "used", "total")',
    )
    got = {(r["name"], r["t"]): r["value"] for r in out.collect()}
    assert got[("servers.h1.disk", 0)] == 25.0
    assert got[("servers.h2.disk", 60)] == 25.0
    assert len(got) == 4

    st = evaluate(DslContext(catalog), "stacked(servers.*.disk.used)")
    sv = {(r["name"], r["t"]): r["value"] for r in st.collect()}
    # name order: h1 first (30), h2 stacked on top (60)
    assert sv[("stacked(servers.h1.disk.used)", 0)] == 30.0
    assert sv[("stacked(servers.h2.disk.used)", 0)] == 60.0

    sub = evaluate(DslContext(catalog), "substr(servers.*.disk.total, 1, 2)")
    assert {r["name"] for r in sub.select("name").distinct().collect()} == {
        "h1", "h2"
    }
