"""Slot-by-slot consolidation semantics, modeled on rrd/rra_test.go.

Hand-built SeriesFrames with known answers: weighted mean weighting,
NaN handling, xff thresholds, heartbeat gaps, last tie-breaks.
"""

from __future__ import annotations

import math

import pytest

from tgres_spark.operators.consolidate import CFS, consolidate


def mk(spark, rows):
    return spark.createDataFrame(rows, "name string, t long, value double")


def as_map(df):
    return {(r["name"], r["t"]): r["value"] for r in df.collect()}


def test_wmean_is_duration_weighted(spark):
    # intervals: t=10 (first, dur 1), t=40 (dur 30), t=60 (dur 20)
    sf = mk(spark, [("a", 10, 1.0), ("a", 40, 4.0), ("a", 60, 2.0)])
    out = as_map(consolidate(sf, 60, cf="wmean"))
    # all in slot ending 60: (1*1 + 4*30 + 2*20) / 51
    assert math.isclose(out[("a", 60)], (1 + 120 + 40) / 51.0)


def test_slot_boundaries_are_end_labeled(spark):
    # slot covers (k*step, (k+1)*step]; t=60 lands in slot 60, t=61 in 120
    sf = mk(spark, [("a", 60, 1.0), ("a", 61, 2.0)])
    out = as_map(consolidate(sf, 60, cf="max"))
    assert out == {("a", 60): 1.0, ("a", 120): 2.0}


def test_min_max_ignore_weights(spark):
    sf = mk(spark, [("a", 5, 5.0), ("a", 30, -1.0), ("a", 55, 3.0)])
    assert as_map(consolidate(sf, 60, cf="min"))[("a", 60)] == -1.0
    assert as_map(consolidate(sf, 60, cf="max"))[("a", 60)] == 5.0


def test_last_takes_latest_value(spark):
    sf = mk(spark, [("a", 5, 5.0), ("a", 30, -1.0), ("a", 55, 3.0)])
    assert as_map(consolidate(sf, 60, cf="last"))[("a", 60)] == 3.0


def test_last_tie_breaks_by_max_value(spark):
    sf = mk(spark, [("a", 30, 1.0), ("a", 30, 9.0)])
    assert as_map(consolidate(sf, 60, cf="last"))[("a", 60)] == 9.0


def test_null_values_do_not_count(spark):
    # NaN/NULL contributes no value and no known duration (pdp.go:97-106)
    sf = mk(spark, [("a", 10, 2.0), ("a", 50, None)])
    out = as_map(consolidate(sf, 60, cf="wmean"))
    assert math.isclose(out[("a", 60)], 2.0)


def test_xff_marks_mostly_unknown_slot_null(spark):
    # known dur = 1s (first point) out of 60 → 1/60 < 0.5 → NULL
    sf = mk(spark, [("a", 10, 2.0), ("a", 50, None)])
    out = as_map(consolidate(sf, 60, cf="wmean", xff=0.5))
    assert out[("a", 60)] is None


def test_heartbeat_voids_long_gaps(spark):
    # gap 100 > hb 50 → second point unknown; slot 120 has no known value
    sf = mk(spark, [("a", 10, 1.0), ("a", 110, 9.0)])
    out = as_map(consolidate(sf, 60, cf="wmean", heartbeat=50))
    assert math.isclose(out[("a", 60)], 1.0)
    assert out[("a", 120)] is None


def test_multiple_series_do_not_mix(spark):
    sf = mk(spark, [("a", 10, 1.0), ("b", 10, 100.0)])
    out = as_map(consolidate(sf, 60, cf="wmean"))
    assert out[("a", 60)] == 1.0 and out[("b", 60)] == 100.0


def test_multi_rra_per_archive_xff(spark):
    """consolidate_multi 3-tuples apply each archive's X-Files-Factor
    (duration-weighted, same rule as consolidate(xff=)): a slot with
    0.85 known fraction NULLs under xff=0.9 but survives xff=0, in
    the same shared pass; `last` honors it too."""
    from tgres_spark.operators.consolidate import (
        consolidate_multi,
        release_multi_cache,
    )

    # slot (0,60]: durs 1+10*5 = 51 known → 0.85; slot (60,120]: 60 → 1.0
    rows = [("a", t, float(t)) for t in range(10, 121, 10)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    out = consolidate_multi(
        sf, [("wmean", 60, 0.9), ("wmean", 60, 0.0), ("last", 60, 0.9)]
    )
    vals = {(r["name"], r["t"]): r["value"] for r in out.collect()}
    release_multi_cache()
    assert vals[("wmean:60:xff0.9/a", 60)] is None      # 0.85 < 0.9 → NULL
    assert vals[("wmean:60/a", 60)] is not None         # lax archive keeps
    assert vals[("wmean:60:xff0.9/a", 120)] is not None  # 1.0 ≥ 0.9
    assert vals[("last:60:xff0.9/a", 60)] is None       # xff applies to last
    assert vals[("last:60:xff0.9/a", 120)] == 120.0


def test_salted_consolidate_equals_plain(spark):
    """The hot-series salting path must be BIT-equal to consolidate()
    for every mergeable cf — decimal partials merge losslessly."""
    import random

    from tgres_spark.operators.consolidate import consolidate, consolidate_salted

    rng = random.Random(13)
    rows = []
    for name in ("hot", "cold"):
        t = 0
        for _ in range(500):
            t += rng.randint(1, 40)
            rows.append((name, t, round(rng.uniform(-50, 50), 3)))
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    for cf in ("wmean", "avg", "sum", "min", "max", "count"):
        plain = {(r["name"], r["t"]): r["value"]
                 for r in consolidate(sf, 60, cf=cf, heartbeat=30).collect()}
        salted = {(r["name"], r["t"]): r["value"]
                  for r in consolidate_salted(sf, 60, cf=cf, n_salts=8, heartbeat=30).collect()}
        assert salted == plain, cf


def _gappy_series(spark):
    """Three series with unique (name, t) — tie order in a lag pass is
    engine-dependent — gaps around the 300s step and the 600s
    heartbeat, and a few NULL values."""
    import random

    rng = random.Random(5)
    rows = []
    for name in ("a", "b", "c"):
        t = 1000
        for _ in range(120):
            t += rng.choice([1, 7, 30, 59, 60, 61, 299, 300, 601, 900])
            v = None if rng.random() < 0.08 else round(rng.uniform(-500, 500), 3)
            rows.append((name, t, v))
    return rows


def test_heartbeat_consolidate_computes_one_lag(spark):
    """The heartbeat test reads the selected ``dur`` column, so the
    optimized plan's Window computes ``lag(t)`` once."""
    sf = mk(spark, _gappy_series(spark))
    plan = (
        consolidate(sf, 300, cf="wmean", xff=0.5, heartbeat=600)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("lag(") == 1, plan


@pytest.mark.parametrize("heartbeat", [None, 600])
@pytest.mark.parametrize("xff", [0.0, 0.5])
@pytest.mark.parametrize("cf", CFS)
def test_consolidate_variants_match_oracle(spark, cf, xff, heartbeat):
    """Every CF × xff × heartbeat: consolidate() equals the DuckDB
    oracle_consolidate_sql exactly, each consolidate_multi archive
    equals consolidate(), and so does consolidate_salted (no `last`,
    no xff)."""
    import duckdb

    from tgres_spark.operators.consolidate import (
        consolidate_multi,
        consolidate_salted,
        oracle_consolidate_sql,
        release_multi_cache,
    )

    rows = _gappy_series(spark)
    sf = mk(spark, rows)
    got = as_map(consolidate(sf, 300, cf=cf, xff=xff, heartbeat=heartbeat))

    con = duckdb.connect()
    con.execute("CREATE TABLE s (name VARCHAR, t BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO s VALUES (?, ?, ?)", rows)
    sql = oracle_consolidate_sql("SELECT * FROM s", 300, cf, xff, heartbeat)
    expect = {(n, t): v for n, t, v in con.execute(sql).fetchall()}
    con.close()
    assert got == expect

    multi = consolidate_multi(sf, [(cf, 300, xff)], heartbeat=heartbeat)
    archive = {(n.split("/", 1)[1], t): v for (n, t), v in as_map(multi).items()}
    release_multi_cache()
    assert archive == got
    if cf != "last" and not xff:  # consolidate_salted takes no xff
        salted = consolidate_salted(sf, 300, cf=cf, n_salts=4, heartbeat=heartbeat)
        assert as_map(salted) == got
