"""Streaming name catalog: create-on-first-write for live ingest.

Reference: receiver/dscache.go — the receiver keeps a DS cache and
CREATES a DS the first time a datapoint arrives for an unseen name
(getByNameOrLoadOrCreate), so `/metrics/find` sees a series the
moment its first point lands. The batch engine derives the catalog
per query; this is the live analog: a Structured Streaming query
folds each micro-batch's names into a persistent catalog relation

    (name, first_seen bigint, last_seen bigint, n_points bigint)

where first_seen is fixed by the batch that created the entry
(create-on-first-write) and last_seen/n_points advance with traffic.

Spark-first shape: foreachBatch + snapshot-versioned parquet. Each
batch writes a NEW hash-bucketed snapshot directory ``v<batch_id>``
(``snapshot_buckets`` tasks in parallel — no single-task coalesce(1)
funnel; at 10M series ≈ a few hundred MB the write spreads across
the cluster) and then publishes an IMMUTABLE manifest file
``manifest/v<batch_id>`` naming it. The newest manifest IS the
latest pointer: manifests are write-once (a single small-object PUT,
atomic on both POSIX and object storage — no rename required), so a
reader that lists the manifest directory and takes the largest
version always sees a complete snapshot, never a half-written one; a
crashed batch dies before its manifest lands and the previous
pointer stays live (the checkpoint replays the batch). All
filesystem access goes through the JVM Hadoop FileSystem API, so
``catalog_dir`` may be any Hadoop-supported URI (file://, hdfs://,
s3a://, ...) — no POSIX assumptions. The merge itself is one
full-outer groupBy-join of the (small) catalog with the batch's
per-name aggregate; a table format with row-level merge
(Iceberg/Delta) slots in behind the same API when available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import NAME, T
from . import run_available_now

_MANIFEST_DIR = "manifest"


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` via the session JVM."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _list_versions(spark: SparkSession, catalog_dir: str) -> list[int]:
    """Sorted snapshot versions that have a published manifest."""
    fs, mdir, _ = _fs(spark, f"{catalog_dir}/{_MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        n = st.getPath().getName()
        if n.startswith("v") and n[1:].isdigit():
            out.append(int(n[1:]))
    return sorted(out)


def _snapshot_path(catalog_dir: str, version: int) -> str:
    return f"{catalog_dir}/v{version:012d}"


def read_catalog(spark: SparkSession, catalog_dir: str) -> DataFrame | None:
    """Latest complete snapshot, or None before the first write."""
    versions = _list_versions(spark, catalog_dir)
    if not versions:
        return None
    return spark.read.parquet(_snapshot_path(catalog_dir, versions[-1]))


def _latest_before(
    spark: SparkSession, catalog_dir: str, batch_id: int
) -> DataFrame | None:
    """Newest published snapshot with version strictly below
    ``batch_id`` — the replay-safe merge base (see
    merge_catalog_batch)."""
    versions = [v for v in _list_versions(spark, catalog_dir) if v < batch_id]
    if not versions:
        return None
    return spark.read.parquet(_snapshot_path(catalog_dir, versions[-1]))


def _publish_manifest(
    spark: SparkSession, catalog_dir: str, version: int
) -> None:
    """Write-once pointer: one tiny immutable object per version.

    A single create()+close() of a small object is atomic on POSIX
    (O_CREAT + page-sized write) and on object stores (PUT) — readers
    list the manifest dir and take max(version), so there is no
    read-modify-write race and no rename dependency. Re-publishing
    the same version (batch replay) rewrites identical content."""
    import json

    fs, mpath, _ = _fs(
        spark, f"{catalog_dir}/{_MANIFEST_DIR}/v{version:012d}"
    )
    out = fs.create(mpath, True)
    try:
        body = json.dumps(
            {"version": version, "snapshot": f"v{version:012d}"}
        )
        out.write(bytearray(body.encode("utf-8")))
    finally:
        out.close()


def merge_catalog_batch(
    batch: DataFrame,
    batch_id: int,
    catalog_dir: str,
    snapshot_buckets: int = 8,
) -> None:
    """Fold one micro-batch of points into the catalog (foreachBatch
    target). Idempotent per batch_id: the merge base is the newest
    snapshot with version < batch_id — NOT the latest pointer — so a
    batch replayed after a crash (manifest already published, stream
    checkpoint not yet committed) folds against its original base
    instead of double-counting itself into n_points."""
    spark = batch.sparkSession
    incoming = batch.groupBy(NAME).agg(
        F.min(T).alias("b_first"),
        F.max(T).alias("b_last"),
        F.count("*").alias("b_n"),
    )
    cur = _latest_before(spark, catalog_dir, batch_id)
    if cur is None:
        merged = incoming.select(
            NAME,
            F.col("b_first").alias("first_seen"),
            F.col("b_last").alias("last_seen"),
            F.col("b_n").alias("n_points"),
        )
    else:
        j = cur.join(incoming, NAME, "full")
        merged = j.select(
            NAME,
            # create-on-first-write: an existing entry KEEPS its
            # first_seen even if a late point predates it (the
            # reference's DS creation time is the arrival time too)
            F.coalesce(F.col("first_seen"), F.col("b_first")).alias("first_seen"),
            F.greatest(
                F.coalesce(F.col("last_seen"), F.lit(-(1 << 62))),
                F.coalesce(F.col("b_last"), F.lit(-(1 << 62))),
            ).alias("last_seen"),
            (
                F.coalesce(F.col("n_points"), F.lit(0))
                + F.coalesce(F.col("b_n"), F.lit(0))
            ).alias("n_points"),
        )
    # hash-bucketed snapshot: the write fans out over
    # snapshot_buckets tasks keyed on name (same key every version,
    # so a version-over-version diff reader co-locates too)
    (
        merged.repartition(snapshot_buckets, F.col(NAME))
        .write.mode("overwrite")
        .parquet(_snapshot_path(catalog_dir, batch_id))
    )
    _publish_manifest(spark, catalog_dir, batch_id)
    _retire_old_snapshots(spark, catalog_dir, keep=2)


def _retire_old_snapshots(
    spark: SparkSession, catalog_dir: str, keep: int = 2
) -> None:
    """Drop snapshots older than the newest ``keep`` — the previous
    snapshot stays readable for any in-flight reader that resolved
    the pointer just before the new manifest landed; everything older
    is unreachable (max(version) only moves forward). The manifest is
    removed FIRST so a retired snapshot is never resolvable
    mid-delete."""
    versions = _list_versions(spark, catalog_dir)
    for v in versions[:-keep]:
        fs, mpath, jvm = _fs(
            spark, f"{catalog_dir}/{_MANIFEST_DIR}/v{v:012d}"
        )
        fs.delete(mpath, False)
        spath = jvm.org.apache.hadoop.fs.Path(_snapshot_path(catalog_dir, v))
        fs.delete(spath, True)


def run_catalog_pipeline(
    spark: SparkSession,
    in_path: str,
    catalog_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 16,
) -> None:
    """Graphite-line file drops → per-batch catalog merge
    (availableNow; rate-limited triggers exercise multi-batch
    folding)."""
    from .ingest import read_graphite_stream

    parsed = read_graphite_stream(spark, in_path, max_files_per_trigger)
    run_available_now(
        parsed,
        checkpoint,
        foreach_batch=lambda df, bid: merge_catalog_batch(df, bid, catalog_dir),
    )


def _merge_two(base: DataFrame | None, nxt: DataFrame) -> DataFrame:
    """The catalog fold (same algebra as merge_catalog_batch): earlier
    relation's first_seen wins (create-on-first-write), last_seen is
    the max, n_points the sum."""
    if base is None:
        return nxt
    j = base.alias("a").join(nxt.alias("b"), NAME, "full")
    return j.select(
        NAME,
        F.coalesce(F.col("a.first_seen"), F.col("b.first_seen")).alias(
            "first_seen"
        ),
        F.greatest(
            F.coalesce(F.col("a.last_seen"), F.lit(-(1 << 62))),
            F.coalesce(F.col("b.last_seen"), F.lit(-(1 << 62))),
        ).alias("last_seen"),
        (
            F.coalesce(F.col("a.n_points"), F.lit(0))
            + F.coalesce(F.col("b.n_points"), F.lit(0))
        ).alias("n_points"),
    )


def compact_catalog(
    spark: SparkSession,
    generation_dirs: list[str],
    out_dir: str,
    snapshot_buckets: int = 8,
) -> dict:
    """Compact stream-incarnation catalogs into one (round 9) — the
    streaming twin of archive.compact_archive. Each stream incarnation
    (its own checkpoint restarts batch ids at 0) writes its own
    catalog generation; left alone, generations accumulate forever and
    every reader must fold them at read time. This job folds the
    existing compacted catalog (if any) with each generation IN ORDER
    — first_seen keeps the earliest generation's value
    (create-on-first-write across incarnations, exactly the per-batch
    rule one level up), last_seen/n_points merge — then publishes ONE
    new snapshot under the SAME write-once manifest protocol the live
    stream uses: snapshot directory first, manifest pointer second, so
    a crash between the two leaves the previous pointer live and the
    half-written snapshot unreachable (rerun overwrites it); the
    pointer only ever moves forward. After a successful publish the
    superseded inputs are dropped: older out-dir versions AND the
    folded generation directories (their manifests deleted FIRST, so
    a retired generation is never resolvable mid-delete).

    Idempotent by construction: a second run finds no generations and
    is a no-op (returns n_generations=0, pointer untouched) — pinned
    in tests along with the crash window and the hash-equal re-read.

    Scale: the fold is G full-outer joins on the uniform name key of
    catalog-sized relations (names, not points); the publish fans out
    over snapshot_buckets tasks like every live snapshot."""
    gens = [
        g for g in generation_dirs if _list_versions(spark, g)
    ]
    cur = read_catalog(spark, out_dir)
    if not gens:
        return {"out": out_dir, "n_generations": 0, "version": None}
    merged = cur
    for g in gens:
        merged = _merge_two(merged, read_catalog(spark, g))
    prev_versions = _list_versions(spark, out_dir)
    version = (prev_versions[-1] + 1) if prev_versions else 0
    (
        merged.repartition(snapshot_buckets, F.col(NAME))
        .write.mode("overwrite")
        .parquet(_snapshot_path(out_dir, version))
    )
    _publish_manifest(spark, out_dir, version)
    _retire_old_snapshots(spark, out_dir, keep=1)
    for g in gens:
        for v in _list_versions(spark, g):
            fs, mpath, jvm = _fs(spark, f"{g}/{_MANIFEST_DIR}/v{v:012d}")
            fs.delete(mpath, False)
            spath = jvm.org.apache.hadoop.fs.Path(_snapshot_path(g, v))
            fs.delete(spath, True)
    return {"out": out_dir, "n_generations": len(gens), "version": version}
