"""The one Graphite read context: a flat SeriesFrame is a one-archive
ArchiveSet, and every DSL fetch goes through ``DslContext.fetch``."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tgres_spark.archive import ArchiveSet, DslContext
from tgres_spark.dsl.evaluator import evaluate
from tgres_spark.dsl.parser import glob_to_regex
from tgres_spark.operators.consolidate import consolidate


def _flat_fetch(catalog, pattern, t_from, t_to, max_points):
    """``DslContext.fetch`` over a flat frame before the frame became a
    one-archive ArchiveSet. Kept as the reference the routed fetch must
    equal plan for plan."""
    df = catalog.where(F.col("name").rlike(glob_to_regex(pattern)))
    if t_from is not None:
        df = df.where(F.col("t") >= t_from)
    if t_to is not None:
        df = df.where(F.col("t") <= t_to)
    if max_points and t_from is not None and t_to is not None:
        step = max(1, (t_to - t_from) // max_points)
        df = consolidate(df, int(step), cf="avg")
    return df.select("name", "t", "value")


def _archive_fetch(arch, pattern, t_from, t_to, max_points):
    """``ArchiveDslContext.fetch`` before it folded into ``DslContext``:
    the reference for the partition filters of a routed fetch."""
    a = arch.best(t_from, t_to, max_points)
    df = a.df
    if a.buckets:
        if t_from is not None:
            df = df.where(F.col("day") >= t_from // 86400)
        if t_to is not None:
            df = df.where(F.col("day") <= t_to // 86400)
        if not any(c in pattern for c in "*?{}[]"):
            df = df.where(
                F.col("bucket") == F.pmod(F.xxhash64(F.lit(pattern)), a.buckets)
            )
    df = df.where(F.col("name").rlike(glob_to_regex(pattern)))
    if t_from is not None:
        df = df.where(F.col("t") >= t_from)
    if t_to is not None:
        df = df.where(F.col("t") <= t_to)
    return df.select("name", "t", "value")


def _plan(df, phase="optimizedPlan"):
    """A plan's text without expression ids, which differ per build."""
    return re.sub(r"#\d+L?", "", getattr(df._jdf.queryExecution(), phase)().toString())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "pattern, t_from, t_to, max_points",
    [
        ("web.h1.hits", 60, 300, None),
        ("web.*.hits", 60, 300, None),
        ("web.*.hits", 0, 360, 3),
    ],
    ids=["exact", "glob", "max_points"],
)
def test_flat_fetch_plan_is_unchanged(spark, pattern, t_from, t_to, max_points):
    rows = [(f"web.h{h}.hits", t, float(t * h)) for h in (1, 2) for t in range(60, 361, 60)]
    catalog = spark.createDataFrame(rows, "name string, t long, value double")
    got = DslContext(catalog, t_from, t_to, max_points).fetch(pattern)
    want = _flat_fetch(catalog, pattern, t_from, t_to, max_points)
    assert _plan(got) == _plan(want)
    assert _rows(got) == _rows(want) and _rows(got)


@pytest.mark.parametrize("pattern", ["m.1", "m.*"])
def test_partitioned_fetch_keeps_partition_filters(spark, tmp_path, pattern):
    from tgres_spark.archive import materialize_archives

    t0 = 1704067200
    rows = [(f"m.{i}", t0 + j * 600, float(j)) for i in range(4) for j in range(288)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    arc = materialize_archives(
        spark, sf, [("wmean", 3600)], str(tmp_path / "arc"),
        partitioned=True, n_buckets=4,
    )
    args = (t0, t0 + 86400, 24)
    got = DslContext(arc, *args).fetch(pattern)
    want = _archive_fetch(arc, pattern, *args)

    def partition_filters(df):
        plan = _plan(df, "executedPlan")
        return plan[plan.index("PartitionFilters"):].split("]")[0]

    assert "day" in partition_filters(got)
    assert partition_filters(got) == partition_filters(want)
    assert _rows(got) == _rows(want)


def test_step_follows_the_routed_archive(spark):
    """Step-dependent functions use the step of the archive the fetch
    routes to (here the 60 s rollup), not the 3600 s a flat frame is
    read at: one hour of 1.0 per minute is a hitcount of 3,600."""
    per_min = [("a.b", t, 1.0) for t in range(60, 7201, 60)]
    per_min += [("r.s", t, float(t // 60)) for t in range(60, 7201, 60)]
    minute = spark.createDataFrame(per_min, "name string, t long, value double")
    hourly = spark.createDataFrame(
        [(n, t, 1.0) for n in ("a.b", "r.s") for t in (3600, 7200)],
        "name string, t long, value double",
    )
    arch = ArchiveSet(minute, base_step=10)
    arch.add("avg", 60, minute)
    arch.add("avg", 3600, hourly)
    ctx = DslContext(arch, 0, 7200, max_points=120)
    assert ctx.step == 60

    hits = evaluate(ctx, 'hitcount(a.b,"1h")').collect()
    assert ctx.last_selected.step == 60
    assert sorted((r["t"], r["value"]) for r in hits) == [(3600, 3600.0), (7200, 3600.0)]

    scaled = evaluate(ctx, "scaleToSeconds(a.b,1)").collect()
    assert len(scaled) == 120 and all(r["value"] == 1.0 / 60 for r in scaled)

    by_time = evaluate(ctx, 'movingAverage(r.s,"10min")').collect()
    by_points = evaluate(ctx, "movingAverage(r.s,10)").collect()
    assert sorted(tuple(r) for r in by_time) == sorted(tuple(r) for r in by_points)


def test_perfbench_archive_context_call_shape(spark):
    """``perfbench/render_wl.py`` routes its rollup request through
    ``archive.ArchiveDslContext(set, t_from, t_to, max_points=...)`` and
    reads ``ctx.last_selected.step``; the benchmark breaks if that
    name or call shape goes."""
    from tgres_spark import archive

    base = spark.createDataFrame([("s", 60, 1.0)], "name string, t long, value double")
    arch = archive.ArchiveSet(base, base_step=60)
    arch.add("avg", 600, base)
    arch.add("avg", 3600, base)
    ctx = archive.ArchiveDslContext(arch, 0, 7 * 86400, max_points=100)
    evaluate(ctx, "averageSeries(s)")
    assert ctx.last_selected.step == 3600
