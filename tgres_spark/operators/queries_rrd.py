"""SURVEY §2.1 — RRD core queries over the events-derived SeriesFrame.

Reference parity: rrd/rra.go (consolidation + xff), rrd/pdp.go
(weighted mean / min / max / last), rrd/ds.go (heartbeat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import EVENTS_SERIES_SQL, series_from_events, workdir
from ..registry import register
from .consolidate import consolidate, oracle_consolidate_sql

STEP = 3600  # 1h slots over the events table


def _cf_query(cf: str, **kw):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return consolidate(series_from_events(spark, sf_dir), STEP, cf=cf, **kw)

    return q


register(
    "rrd_consolidate_wmean",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean"),
)(_cf_query("wmean"))

register(
    "rrd_consolidate_min",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "min"),
)(_cf_query("min"))

register(
    "rrd_consolidate_max",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "max"),
)(_cf_query("max"))

register(
    "rrd_consolidate_last",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "last"),
)(_cf_query("last"))

register(
    "rrd_xff",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean", xff=0.5),
)(_cf_query("wmean", xff=0.5))

register(
    "rrd_heartbeat_gaps",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean", heartbeat=120),
)(_cf_query("wmean", heartbeat=120))


_T0 = 1704067200
_T1 = _T0 + 30 * 86400


@register(
    "rrd_archive_route",
    # the router must pick the 3600s archive for a 30-day/720-point
    # request (expected step = 3600); the oracle pins that choice —
    # a routing regression shows up as a hash mismatch
    sql=(
        "SELECT name, t, value FROM ("
        + oracle_consolidate_sql(EVENTS_SERIES_SQL, 3600, "wmean")
        + f") WHERE t >= {_T0} AND t <= {_T1}"
    ),
)
def rrd_archive_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BestRRA request routing (rrd/ds.go:134-197): a wide-span render
    is served from the coarsest archive satisfying maxDataPoints —
    here 30d/720pts → the 1h rollup, not 10s raw."""
    from ..archive import ArchiveSet, DslContext

    sf = series_from_events(spark, sf_dir)
    arch = ArchiveSet(sf, base_step=10)
    for cf, step in (("wmean", 60), ("wmean", 600), ("wmean", 3600)):
        arch.add(cf, step, consolidate(sf, step, cf=cf))
    ctx = DslContext(arch, t_from=_T0, t_to=_T1, max_points=720)
    out = ctx.fetch("*")
    assert ctx.last_selected is not None and ctx.last_selected.step == 3600
    return out


@register(
    "rrd_multi_rra",
    sql=" UNION ALL ".join(
        f"SELECT '{cf}:{step}' || '/' || name AS name, t, value FROM ("
        + oracle_consolidate_sql(EVENTS_SERIES_SQL, step, cf)
        + ")"
        for cf, step in (("wmean", 600), ("max", 3600), ("min", 86400))
    ),
)
def rrd_multi_rra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One series set fanned into three RRAs sharing a single duration
    pass (rrd/ds.go: DS holds many RRAs updated from the same PDP
    stream — consolidate_multi mirrors that plan shape)."""
    from .consolidate import consolidate_multi

    return consolidate_multi(
        series_from_events(spark, sf_dir),
        [("wmean", 600), ("max", 3600), ("min", 86400)],
    )


@register(
    "rrd_bucketed_consolidate",
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean"),
)
def rrd_bucketed_consolidate(spark, sf_dir):
    """Consolidation read from a name-BUCKETED archive (bucketed.py —
    the cluster/serde layout as a Spark bucketed table): bucketBy(8,
    name) sortBy(name, t) satisfies the window's partitioning+sort AND
    the slot aggregate's distribution straight off disk, so the whole
    consolidate runs with ZERO Exchange operators (pinned in
    tests/test_plans.py). Values are bit-identical to
    rrd_consolidate_wmean — same oracle."""
    from ..bucketed import read_bucketed_series, write_bucketed_series

    path = workdir(spark, "tgres_bucketed_")
    write_bucketed_series(
        series_from_events(spark, sf_dir),
        "tgres_series_bucketed",
        f"{path}/series",
    )
    sf = read_bucketed_series(spark, "tgres_series_bucketed")
    return consolidate(sf, STEP, cf="wmean")


_PRUNE_SPAN = 14 * 86400  # retention: a 14-day RRA over ~30 days of data


@register(
    "rrd_retention_prune",
    # the oracle IS the retention contract: the post-prune re-read
    # must bit-equal the span-windowed full rollup at day granularity
    # (days >= (latest − span) // 86400 survive; the boundary day
    # keeps its few expired slots, as rra.includes tolerates)
    sql=(
        "WITH rolled AS ("
        + oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean")
        + "), mx AS (SELECT MAX(t) AS latest FROM rolled) "
        "SELECT name, t, value FROM rolled, mx "
        f"WHERE t // 86400 >= (latest - {_PRUNE_SPAN}) // 86400"
    ),
)
def rrd_retention_prune(spark, sf_dir):
    """Archive retention expiry — the DELETE half of the reference's
    round-robin ring (rrd/rra.go:113 size = span/step: an RRA never
    holds more than span seconds; old slots are overwritten). The
    parquet archive instead appends day partitions forever, so this
    job drops the aged-out day directories (metadata-only Hadoop-FS
    delete, no rewrite) and the re-read equals the span-windowed full
    rollup. Runs the prune TWICE to pin idempotence before reading."""
    from ..archive import materialize_archives, prune_archive

    sf = series_from_events(spark, sf_dir)
    root = workdir(spark, "tgres_prune_")
    materialize_archives(
        spark, sf, [("wmean", STEP)], root, base_step=10, partitioned=True
    )
    path = f"{root}/wmean_{STEP}"
    first = prune_archive(spark, path, span_s=_PRUNE_SPAN)
    assert first["dropped_days"], "testdata spans ~30d; a 14d prune must drop"
    again = prune_archive(spark, path, span_s=_PRUNE_SPAN)
    assert again["dropped_days"] == [], "prune must be idempotent"
    return spark.read.parquet(path).select("name", "t", "value")


@register(
    "rrd_compact_archive",
    # compaction moves bytes, not data: the post-compaction re-read
    # must hash-match the plain consolidate relation
    sql=oracle_consolidate_sql(EVENTS_SERIES_SQL, STEP, "wmean"),
)
def rrd_compact_archive(spark, sf_dir):
    """Small-file compaction of a day/bucket archive (the refresh-path
    debt collector — see archive.compact_archive): the archive is
    written deliberately FRAGMENTED (repartition(4) upstream of
    partitionBy → up to 4 files per directory), compacted to ≤1 file
    per directory, compacted AGAIN to pin idempotence, and the re-read
    is hash-checked against the plain rollup oracle — same rows, same
    values, fewer files."""
    from ..archive import compact_archive

    sf = series_from_events(spark, sf_dir)
    root = workdir(spark, "tgres_compact_")
    path = f"{root}/wmean_{STEP}"
    rolled = consolidate(sf, STEP, cf="wmean")
    from pyspark.sql import functions as F

    (
        rolled.withColumn("day", F.expr("CAST(t DIV 86400 AS BIGINT)"))
        .withColumn("bucket", F.pmod(F.xxhash64(F.col("name")), 4))
        .repartition(4)
        .write.mode("overwrite")
        .partitionBy("day", "bucket")
        .parquet(path)
    )
    first = compact_archive(spark, path, max_files=1)
    assert first["n_partitions"] > 0, "repartition(4) must fragment"
    again = compact_archive(spark, path, max_files=1)
    assert again["n_partitions"] == 0, "compaction must be idempotent"
    return spark.read.parquet(path).select("name", "t", "value")


@register(
    "series_seasonal_decompose",
    sql=__import__(
        "tgres_spark.operators.align", fromlist=["x"]
    ).seasonal_decompose_sql(EVENTS_SERIES_SQL, step=STEP, period=24),
)
def series_seasonal_decompose(spark, sf_dir):
    """Classical additive trend/seasonal/residual decomposition of
    each hourly series (operators/align.py seasonal_decompose) — the
    non-recursive, fully-oracled cousin of the Holt-Winters family:
    centered 25-slot trend (full windows only), hour-of-day seasonal
    means, residual as the anomaly input. Exact micro6 sliding sums
    keep the window math engine-identical."""
    from .align import seasonal_decompose

    return seasonal_decompose(
        series_from_events(spark, sf_dir), step=STEP, period=24
    )


@register(
    "series_correlate",
    sql=__import__(
        "tgres_spark.operators.align", fromlist=["x"]
    ).series_correlate_sql(EVENTS_SERIES_SQL, "error", step=STEP),
)
def series_correlate(spark, sf_dir):
    """Correlation scan: which series moved with `error`? Pearson corr
    over common hourly slot means, broadcast query side, one exact-
    accumulator groupBy, distributed top-k (operators/align.py
    series_correlate) — the cross-series counterpart of mostDeviant."""
    from .align import series_correlate as corr

    return corr(series_from_events(spark, sf_dir), "error", step=STEP)


@register(
    "series_xcorr",
    sql=__import__(
        "tgres_spark.operators.align", fromlist=["x"]
    ).series_xcorr_sql(EVENTS_SERIES_SQL, "error", step=STEP),
)
def series_xcorr(spark, sf_dir):
    """Lead/lag attribution: the hour offset at which each series best
    correlates with `error` (operators/align.py series_xcorr) —
    shifted broadcast query copies, one (name, lag) accumulator
    groupBy, per-name argmax with a pinned tie rule."""
    from .align import series_xcorr as xc

    return xc(series_from_events(spark, sf_dir), "error", step=STEP)


@register(
    "series_cusum",
    sql=__import__(
        "tgres_spark.operators.align", fromlist=["x"]
    ).series_cusum_sql(EVENTS_SERIES_SQL, step=STEP),
)
def series_cusum(spark, sf_dir):
    """CUSUM drift detector per series (operators/align.py
    series_cusum): the sequential max(0, s+x) recursion restated as
    prefix-sum minus running-min over EXACT micro6 integers — two
    shared-sort windows, no iteration, complements the trailing
    z-score detector (events_anomaly) with cumulative-drift
    sensitivity."""
    from .align import series_cusum as cs

    return cs(series_from_events(spark, sf_dir), step=STEP)


@register(
    "series_trend_slope",
    sql=__import__(
        "tgres_spark.operators.align", fromlist=["x"]
    ).series_trend_slope_sql(EVENTS_SERIES_SQL, step=STEP),
)
def series_trend_slope(spark, sf_dir):
    """Fastest-growing series by exact-integer OLS slope
    (operators/align.py series_trend_slope) — the capacity-planning
    scan: per-series slot indexing keeps every sum in int64, one
    accumulator groupBy, distributed top-k."""
    from .align import series_trend_slope as ts

    return ts(series_from_events(spark, sf_dir), step=STEP)
