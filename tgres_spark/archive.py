"""RRA archive catalog, BestRRA request routing, and the one DSL read
context.

Reference: rrd/ds.go:134-197 BestRRA — a DS holds several RRAs
(cf/step/span); a render request (start, end, maxDataPoints) is served
from the RRA whose span covers the start and whose step is closest to
the span/points resolution the client asked for (no points → the
finest step). dsl/ds_lru.go:271 routes every DSL fetch through it, and
so does ``DslContext.fetch`` here: a flat SeriesFrame is read as a
one-archive set.

Spark-first: archives are *materializations* of ``consolidate()``
written as parquet with the SCALE.md layout (partitioned by day/name
bucket at scale). Routing is pure driver-side metadata math — picking
the coarsest archive that satisfies maxDataPoints means a wide-span
dashboard query scans the 1h rollup (~1/360th the bytes of 10s raw)
and Catalyst still pushes the name/time predicates into that scan.
This is what replaces "downsample raw on the fly" at 100 TB: the
shuffle happens once at write time, not per render.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dsl.parser import glob_to_regex
from .dsl.timespec import parse_time
from .model import NAME, T, VALUE
from .operators.consolidate import consolidate

# Step a flat SeriesFrame is read at: the 1h archive step the query
# suite's catalogs use.
_FRAME_STEP = 3600


@dataclass
class Archive:
    """One materialized RRA. ``span`` = retention seconds (None =
    unbounded, e.g. a parquet archive you never expire); ``latest`` =
    newest slot end (None = assume current); ``buckets`` = name-bucket
    count when the archive is written with the partitioned SCALE.md
    layout (day/bucket partition columns present)."""

    cf: str
    step: int
    df: DataFrame
    span: int | None = None
    latest: int | None = None
    buckets: int | None = None

    def includes(self, t_start: int) -> bool:
        """rra.includes(start) — does this archive's retention window
        still contain t_start?"""
        if self.span is None or self.latest is None:
            return True
        return self.latest - self.span <= t_start


class ArchiveSet:
    """A DS's archive collection with BestRRA routing (ds.go:134-197).

    The raw datapoint table participates as the max-resolution archive
    (step = base_step), so a request finer than every rollup falls
    back to raw exactly like a 10s RRA would serve it."""

    def __init__(self, base: DataFrame, base_step: int = 1,
                 base_span: int | None = None, base_latest: int | None = None):
        self.archives: list[Archive] = [
            Archive("raw", base_step, base, base_span, base_latest)
        ]

    @property
    def base(self) -> DataFrame:
        return self.archives[0].df

    def add(self, cf: str, step: int, df: DataFrame,
            span: int | None = None, latest: int | None = None,
            buckets: int | None = None) -> None:
        self.archives.append(Archive(cf, step, df, span, latest, buckets))

    def best(
        self,
        t_from: int | None,
        t_to: int | None,
        max_points: int | None = None,
    ) -> Archive:
        """BestRRA selection (ds.go:136-197): candidates = archives
        covering start (or already-stale ones, ds.go:141-143); none →
        the longest-spanned; among candidates pick the step closest to
        (end-start)/points, or the finest step when points is None."""
        if t_from is None:
            cands = list(self.archives)
        else:
            cands = [
                a for a in self.archives
                if a.includes(t_from)
                or (a.latest is not None and a.latest < t_from)
            ]
        if not cands:
            cands = [
                max(
                    self.archives,
                    key=lambda a: float("inf") if a.span is None else a.span,
                )
            ]
        if len(cands) == 1:
            return cands[0]
        if max_points and t_from is not None and t_to is not None and max_points > 0:
            expected = (t_to - t_from) / max_points
            return min(cands, key=lambda a: abs(expected - a.step))
        return min(cands, key=lambda a: a.step)


# --- the partitioned layout (docs/SCALE.md) --------------------------------

def _with_partitions(df: DataFrame, n_buckets: int) -> DataFrame:
    """Add the partition columns: ``day`` is the epoch day as an
    INTEGER, never a calendar string (from_unixtime renders through
    the session timezone, so the same table written from two sessions
    would shear its partitions); ``bucket`` is the name's hash bucket."""
    return df.withColumn(
        "day", F.expr(f"CAST(`{T}` DIV 86400 AS BIGINT)")
    ).withColumn("bucket", F.pmod(F.xxhash64(F.col(NAME)), n_buckets))


def _prune_partitions(df: DataFrame, pattern: str, n_buckets: int,
                      t_from: int | None, t_to: int | None) -> DataFrame:
    """Partition-level pruning BEFORE any row filter: the time range
    maps to a day-directory range, and an exact (no glob metachars)
    name folds to one bucket — xxhash64 of a literal constant-folds,
    so both predicates prune at the file listing, not per row."""
    if t_from is not None:
        df = df.where(F.col("day") >= t_from // 86400)
    if t_to is not None:
        df = df.where(F.col("day") <= t_to // 86400)
    if not any(c in pattern for c in "*?{}[]"):
        df = df.where(
            F.col("bucket") == F.pmod(F.xxhash64(F.lit(pattern)), n_buckets)
        )
    return df


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Within the block an overwrite replaces only the partitions it
    writes; the session's previous mode comes back on exit."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def materialize_archives(
    spark: SparkSession,
    sf: DataFrame,
    specs: list[tuple[str, int]],
    root: str,
    base_step: int = 1,
    heartbeat: int | None = None,
    partitioned: bool = False,
    n_buckets: int = 8,
) -> ArchiveSet:
    """Write each (cf, step) rollup of ``sf`` as parquet under
    ``root/<cf>_<step>`` and return an ArchiveSet reading them back.
    The nightly-compaction shape: each archive is one consolidate()
    (single shuffle), written once, served forever.

    ``partitioned=True`` writes the docs/SCALE.md layout —
    ``partitionBy(day, bucket=pmod(xxhash64(name), B))`` — so a
    render's time range prunes day directories and an exact-name
    fetch prunes to one bucket BEFORE any file is opened (the fetch
    still filters rows; day/bucket are derived columns the reader
    drops). At 100 TB size B so a (day, bucket) partition lands at
    256 MB–1 GB compressed."""
    out = ArchiveSet(sf, base_step=base_step)
    for cf, step in specs:
        path = f"{root}/{cf}_{step}"
        rolled = consolidate(sf, step, cf=cf, heartbeat=heartbeat)
        if partitioned:
            (
                _with_partitions(rolled, n_buckets)
                .write.mode("overwrite")
                .partitionBy("day", "bucket")
                .parquet(path)
            )
            out.add(cf, step, spark.read.parquet(path), buckets=n_buckets)
        else:
            rolled.write.mode("overwrite").parquet(path)
            out.add(cf, step, spark.read.parquet(path))
    return out


def refresh_archives(
    spark: SparkSession,
    sf: DataFrame,
    specs: list[tuple[str, int]],
    root: str,
    since_t: int,
    lookback_s: int = 86400,
    heartbeat: int | None = None,
    n_buckets: int = 8,
) -> None:
    """Incremental nightly rollup: re-consolidate ONLY the day
    partitions from ``since_t`` forward and dynamically overwrite
    them, leaving all earlier (day, bucket) directories untouched —
    the operational path at 100 TB, where a full rebuild re-reads the
    whole history for one new day of data.

    Exactness: consolidate's lag pass needs each point's predecessor,
    so the raw slice starts ``lookback_s`` before the first refreshed
    day — INCLUSIVE (``>=``): a predecessor exactly at
    ``day_start - lookback_s`` still bounds an interval of exactly
    ``lookback_s`` ending at ``day_start``, which is valid when
    ``heartbeat == lookback_s``; dropping it would turn a point at
    ``day_start`` into a series head (dur=1.0) and diverge from a
    full rebuild. The refresh is BIT-equal to a full rebuild whenever
    ``heartbeat <= lookback_s``: an interval strictly longer than the
    lookback exceeds the heartbeat too, so its value is unknown in
    both computations and the sliced lag's wrong series-head duration
    never reaches a written slot (boundary case asserted in
    tests/test_archive.py).
    Only meaningful for archives written with ``partitioned=True``."""
    day_start = (since_t // 86400) * 86400
    sliced = sf.where(F.col(T) >= day_start - lookback_s)
    with _dynamic_overwrite(spark):
        for cf, step in specs:
            rolled = consolidate(sliced, step, cf=cf, heartbeat=heartbeat)
            (
                _with_partitions(rolled, n_buckets)
                .where(F.col("day") >= since_t // 86400)
                .write.mode("overwrite")
                .partitionBy("day", "bucket")
                .parquet(f"{root}/{cf}_{step}")
            )


def prune_archive(
    spark: SparkSession,
    path: str,
    span_s: int,
    latest: int | None = None,
) -> dict:
    """Retention prune: drop the day partitions that have aged out of
    an archive's span, the delete half of the reference's round-robin
    ring (rrd/rra.go:113 — an RRA sized span/step never holds more
    than span seconds; old slots are overwritten in place). Parquet
    archives only ever append days, so without this job a 14-day
    archive grows without bound — the gap a real operator hits in
    month one.

    Granularity is the DAY PARTITION: a directory is removed only
    when every slot it can contain is strictly older than
    ``latest − span`` (day < (latest−span) // 86400); the boundary
    day keeps its handful of expired slots, exactly as rra.includes
    (archive.py:47) already tolerates when routing. The delete is a
    partition-metadata operation through the Hadoop FileSystem API —
    no data rewrite, no shuffle, identical on file://, HDFS, or S3A —
    and IDEMPOTENT: re-running finds nothing below the cutoff.

    ``latest`` defaults to the archive's max slot (one bounded scalar
    aggregate — the only read). Returns a manifest dict
    (latest, cutoff_day, dropped/kept day lists) for audit logging;
    the post-prune re-read is BIT-equal to the span-windowed full
    archive (pinned in tests/test_archive.py and hash-checked as
    ``rrd_retention_prune``)."""
    if latest is None:
        row = spark.read.parquet(path).agg(F.max(T)).collect()[0]
        latest = row[0]
    if latest is None:  # empty archive: nothing to prune
        return {"path": path, "latest": None, "cutoff_day": None,
                "dropped_days": [], "kept_days": []}
    cutoff_day = (latest - span_s) // 86400
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    dropped, kept = [], []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not name.startswith("day="):
            continue
        day = int(name[len("day="):])
        if day < cutoff_day:
            fs.delete(st.getPath(), True)
            dropped.append(day)
        else:
            kept.append(day)
    return {
        "path": path,
        "latest": latest,
        "cutoff_day": cutoff_day,
        "dropped_days": sorted(dropped),
        "kept_days": sorted(kept),
    }


def compact_archive(
    spark: SparkSession,
    path: str,
    max_files: int = 1,
) -> dict:
    """Small-file compaction — the other month-one operational job a
    day/bucket-partitioned archive needs beside retention
    (prune_archive): every incremental refresh_archives pass appends
    task-count files to each touched (day, bucket) directory, and at
    100 TB a year of nightly refreshes turns the scan's file listing
    into the bottleneck (1000s of KB-sized footers per partition).

    Reads ONLY the fragmented partitions (directories holding more
    than ``max_files`` data files — found by listing, no data read),
    rewrites each as one task's worth of row-identical output via
    dynamic partition overwrite, and leaves every already-compact
    directory untouched. Idempotent: after one pass no directory
    exceeds ``max_files``, so a second pass rewrites nothing. The
    re-read is BIT-equal (same rows, same values — compaction moves
    bytes, not data; pinned in tests/test_archive.py and hash-checked
    as ``rrd_compact_archive``). Returns a manifest dict with
    files-before/after per compacted partition."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    frag: list[str] = []
    files_before: dict[str, int] = {}
    for day_st in fs.listStatus(jpath):
        if not day_st.getPath().getName().startswith("day="):
            continue
        for b_st in fs.listStatus(day_st.getPath()):
            bname = b_st.getPath().getName()
            if not bname.startswith("bucket="):
                continue
            n = sum(
                1
                for f_st in fs.listStatus(b_st.getPath())
                if f_st.getPath().getName().endswith(".parquet")
            )
            rel = f"{day_st.getPath().getName()}/{bname}"
            if n > max_files:
                frag.append(str(b_st.getPath()))
                files_before[rel] = n
    if not frag:
        return {"path": path, "compacted": {}, "n_partitions": 0}
    df = spark.read.option("basePath", path).parquet(*frag)
    with _dynamic_overwrite(spark):
        # one task per fragmented partition → max_files=1 output
        # files; hash collisions only co-locate partitions in a task,
        # never split one across tasks
        (
            df.repartition(len(frag), F.col("day"), F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("day", "bucket")
            .parquet(path)
        )
    return {
        "path": path,
        "compacted": files_before,
        "n_partitions": len(frag),
    }


class DslContext:
    """The Graphite read context (dsl.ParseDsl(db, src, from, to,
    maxPoints), dsl/dsl.go:69). ``source`` is an ArchiveSet or a flat
    SeriesFrame; a frame is read as a one-archive set at _FRAME_STEP.
    ``t_from``/``t_to`` accept epoch ints OR graphite time strings
    ('-1h', '-7d', 'now', '1704067200' — the reference's parseTime,
    http/graphite.go:197-218); relative forms anchor to ``now`` (epoch
    seconds; wall clock when omitted — pass it explicitly for
    deterministic replays)."""

    def __init__(
        self,
        source: ArchiveSet | DataFrame,
        t_from: int | str | None = None,
        t_to: int | str | None = None,
        max_points: int | None = None,
        now: int | None = None,
    ):
        if not isinstance(source, ArchiveSet):
            source = ArchiveSet(source, base_step=_FRAME_STEP)
        self.archives = source
        self.spark = source.base.sparkSession
        self.now = now
        self.t_from = parse_time(t_from, now)
        self.t_to = parse_time(t_to, now)
        self.max_points = max_points
        self.last_selected: Archive | None = None

    def _route(self) -> Archive:
        return self.archives.best(self.t_from, self.t_to, self.max_points)

    @property
    def step(self) -> int:
        """Step of the archive this context's fetches read: the series
        step of scaleToSeconds, hitcount, consolidateBy, duration
        windows and the generators."""
        return self._route().step

    def fetch(self, pattern: str) -> DataFrame:
        """One pattern's series: BestRRA picks the archive (recorded in
        ``last_selected``), a partitioned archive prunes day/bucket
        directories, then the name and time filters. Only a set with
        nothing to route to (one archive) re-consolidates to
        maxDataPoints; a routed archive's data is returned at its
        native step — the RRA's DPs are the render payload."""
        a = self.last_selected = self._route()
        df = a.df
        if a.buckets:
            df = _prune_partitions(df, pattern, a.buckets, self.t_from, self.t_to)
        df = df.where(F.col(NAME).rlike(glob_to_regex(pattern)))
        if self.t_from is not None:
            df = df.where(F.col(T) >= self.t_from)
        if self.t_to is not None:
            df = df.where(F.col(T) <= self.t_to)
        if (
            self.max_points and self.t_from is not None
            and self.t_to is not None and len(self.archives.archives) == 1
        ):
            # time-bucket approximation of the reference's positional
            # dense-slot walk (rra_series.go Next): identical when the
            # span divides evenly. The faithful positional form — moves
            # = round(groupBy/step) slots over the dense grid, partial
            # tail dropped — is operators/align.maxpoints_group, used
            # when the source step is known (dsl_maxDataPoints query).
            step = max(1, (self.t_to - self.t_from) // self.max_points)
            df = consolidate(df, int(step), cf="avg")
        return df.select(NAME, T, VALUE)


# the name perfbench/render_wl.py reads routed archives through
ArchiveDslContext = DslContext
