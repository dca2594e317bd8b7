"""Generic cumulative-refresh streaming deployment: the shape for any
relation that is NOT per-batch decomposable (forward-looking windows,
corpus-wide means, global ranks). Each micro-batch (1) lands its raw
rows idempotently in ``raw/b<id>`` (overwrite — a replayed batch
rewrites identical content, never appends twice), then (2) recomputes
the FULL relation over everything landed and publishes it as
``snap/b<id>``. The LATEST snapshot always equals the batch operator
over all input seen, so the batch oracle checks the streaming
deployment verbatim. A replayed batch rewrites byte-identical raw
content, and only the highest-numbered snapshot is published, so a
replay's transient snapshot can't be observed (read_latest_snapshot).

First extracted from streaming_attribution. Multi-touch attribution
is NOT per-batch decomposable: a touch's credit depends on a
conversion that may arrive in a LATER batch (the forward-min window
looks ahead), so a stateless per-batch twin would be wrong by
construction. At production scale the recompute is the per-refresh
cost of a cumulative dashboard, bounded by one linear-in-events
window job; an incremental variant would carry per-(user,
pending-touch) state in applyInPandasWithState for strictly less
re-read at strictly more state-management complexity. Attribution is
per-USER decomposable, though, so streaming_attribution_delta runs it
through run_delta_refresh below. streaming_rfm is the second
cumulative instance: RFM segments depend on corpus means and the
corpus max timestamp, so a purchase arriving in batch N can flip
segment letters assigned in batch N−1, exactly the cross-batch
dependency per-batch processing cannot express. Reference analogue:
the aggregator's flush-cycle republish (aggregator.go) — recompute
the published view each cycle from accumulated input."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import run_available_now


def _raw_gens(spark: SparkSession, out_dir: str, kind: str) -> list[int]:
    """Committed generations under ``out_dir/<kind>``: numbered b*
    directories CONTAINING a _SUCCESS marker — a crash mid-write
    leaves the dir uncommitted and invisible to every reader, and the
    replayed batch's overwrite completes it (the manifest discipline
    of dedup_index_update, with parquet's own job-commit marker as
    the manifest)."""
    from .catalog import _fs

    fs, d, jvm = _fs(spark, f"{out_dir}/{kind}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        n = st.getPath().getName()
        if (
            n.startswith("b")
            and n[1:].isdigit()
            and fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    f"{out_dir}/{kind}/{n}/_SUCCESS"
                )
            )
        ):
            out.append(int(n[1:]))
    return sorted(out)


def _live_raw(spark: SparkSession, out_dir: str) -> DataFrame:
    """Everything landed so far: the newest committed rawbase fold
    plus every committed raw generation above it. Without folds this
    is exactly the old ``raw/b*`` glob; after a fold the listing (and
    parquet footer count) is bounded by the fold cadence instead of
    growing with total batch count."""
    bases = _raw_gens(spark, out_dir, "rawbase")
    raws = _raw_gens(spark, out_dir, "raw")
    floor = -1
    parts = []
    if bases:
        floor = bases[-1]
        parts.append(
            spark.read.parquet(f"{out_dir}/rawbase/b{floor:06d}")
        )
    parts.extend(
        spark.read.parquet(f"{out_dir}/raw/b{g:06d}")
        for g in raws
        if g > floor
    )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def _fold_raw(spark: SparkSession, out_dir: str, batch_id: int) -> None:
    """Fold the live raw generations into one ``rawbase/b<batch_id>``
    (dedup_index_compact's grace-retire discipline): the PREVIOUS
    fold's sources — old bases and the raw generations it consumed —
    retire first (shadowed for a full cycle, no reader can hold
    them); the generations THIS fold consumes stay readable until the
    next fold. A crash before the new base's _SUCCESS leaves readers
    on the old base + raws (identical relation); a replayed batch
    rewrites its own raw/b<id> but the read path ignores ids at or
    below the base floor."""
    from .catalog import _fs

    bases = _raw_gens(spark, out_dir, "rawbase")
    raws = _raw_gens(spark, out_dir, "raw")
    if bases:
        prev = bases[-1]
        fs, _, jvm = _fs(spark, out_dir)
        for g in [g for g in raws if g <= prev]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{out_dir}/raw/b{g:06d}"), True
            )
        for b in bases[:-1]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{out_dir}/rawbase/b{b:06d}"),
                True,
            )
    _live_raw(spark, out_dir).write.mode("overwrite").parquet(
        f"{out_dir}/rawbase/b{batch_id:06d}"
    )


def _maybe_fold_raw(
    spark: SparkSession, out_dir: str, batch_id: int, every: int | None
) -> None:
    if every is None:
        return
    bases = _raw_gens(spark, out_dir, "rawbase")
    floor = bases[-1] if bases else -1
    live = [g for g in _raw_gens(spark, out_dir, "raw") if g > floor]
    # ADVICE r11: with every=1, a REPLAYED fold batch has no live raw
    # generation above the base floor — folding then would delete its
    # own raw dir and overwrite the sole rawbase copy while reading it
    # (a V1 self-overwrite). Nothing to fold => skip.
    if not live:
        return
    if len(live) + (1 if bases else 0) >= every:
        _fold_raw(spark, out_dir, batch_id)


def run_cumulative_refresh(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    relation_fn: Callable[[DataFrame], DataFrame],
    files_per_trigger: int = 1,
    raw_compact_every: int | None = None,
) -> None:
    def _refresh(batch, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            f"{out_dir}/raw/b{batch_id:06d}"
        )
        allrows = _live_raw(spark, out_dir)
        relation_fn(allrows).write.mode("overwrite").parquet(
            f"{out_dir}/snap/b{batch_id:06d}"
        )
        _maybe_fold_raw(spark, out_dir, batch_id, raw_compact_every)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_refresh)


def read_latest_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """The published relation: the highest-numbered snapshot only
    (a replay's transient snapshot is unobservable through this).
    Listing goes through the Hadoop FileSystem API — same abstraction
    as the write path — so out_dir works on HDFS/S3A, not just the
    local FS (catalog.py's _fs pattern)."""
    from .catalog import _fs

    fs, snapdir, _ = _fs(spark, f"{out_dir}/snap")
    snaps = sorted(
        st.getPath().getName()
        for st in fs.listStatus(snapdir)
        if st.getPath().getName().startswith("b")
    )
    return spark.read.parquet(f"{out_dir}/snap/{snaps[-1]}")


# --- per-key delta refresh (round 10) ----------------------------------------
#
# Three-class deployment rule for streaming a non-per-batch-
# decomposable relation:
#   1. per-batch decomposable (stateless per row/doc)      -> plain
#      foreachBatch scoring (streaming_dedup_incremental's shape);
#   2. per-KEY decomposable (every output row is a function of ONE
#      key's input rows — attribution: a touch's conversion is
#      same-user)                                          -> delta
#      refresh below: recompute only the keys a batch touches, carry
#      every other key's rows from the prior snapshot;
#   3. globally entangled (corpus means / global ranks — RFM) ->
#      cumulative refresh above: the full recompute is genuinely
#      necessary, because any row can flip any other.
# The published relation is identical in all three; what changes is
# how much history each micro-batch re-reads.


def run_delta_refresh(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    key_relation_fn: Callable[[DataFrame], DataFrame],
    key_col: str,
    publish_fn: Callable[[DataFrame], DataFrame] | None = None,
    files_per_trigger: int = 1,
    raw_compact_every: int | None = None,
) -> None:
    """Per-key delta refresh: ``key_relation_fn`` must be per-key
    decomposable on ``key_col`` (its output for a key depends only on
    input rows of that key). Each micro-batch (1) lands raw rows
    idempotently, (2) recomputes the relation ONLY over the full
    history of keys present in the batch, (3) unions that with the
    prior state snapshot's UNTOUCHED keys, (4) writes the new state
    and publishes ``publish_fn`` of it (identity when None) as
    ``snap/b<id>`` — so the latest snapshot still equals the batch
    operator over everything seen, same oracle verbatim, but a batch
    re-reads O(touched keys' history), not O(everything).

    Replay-safe like merge_catalog_batch: the merge base is the
    newest STATE with version strictly below batch_id, so a replayed
    batch folds against its original base instead of seeing its own
    half-finished output. 100 TB: land raw bucketed by key and the
    touched-history scan prunes to the touched buckets (here the
    broadcast semi-join reaches the parquet scan as a pushed IN
    filter); the state snapshot is key-bucketed so the anti-join
    co-locates; snap is publish_fn-sized (channels, not users).
    ``raw_compact_every`` bounds the raw landing's file listing:
    every N live generations the accumulated raws fold into one
    rawbase generation (_fold_raw's grace-retire discipline), so a
    long-lived stream's per-batch history read stays O(fold cadence)
    directories instead of O(total batches); None (default) keeps
    the unbounded-but-simple layout."""
    from .catalog import _fs

    def _latest_state_before(batch_id: int):
        fs, sdir, _ = _fs(spark, f"{out_dir}/state")
        if not fs.exists(sdir):
            return None
        vers = sorted(
            int(st.getPath().getName()[1:])
            for st in fs.listStatus(sdir)
            if st.getPath().getName().startswith("b")
            and st.getPath().getName()[1:].isdigit()
        )
        vers = [v for v in vers if v < batch_id]
        if not vers:
            return None
        return spark.read.parquet(f"{out_dir}/state/b{vers[-1]:06d}")

    def _refresh(batch, batch_id: int) -> None:
        import pyspark.sql.functions as F

        batch.write.mode("overwrite").parquet(f"{out_dir}/raw/b{batch_id:06d}")
        keys = batch.select(key_col).distinct()
        hist = _live_raw(spark, out_dir)
        touched = key_relation_fn(
            hist.join(F.broadcast(keys), key_col, "semi")
        )
        base = _latest_state_before(batch_id)
        state = (
            touched
            if base is None
            else base.join(F.broadcast(keys), key_col, "anti").unionByName(
                touched
            )
        )
        state.write.mode("overwrite").parquet(
            f"{out_dir}/state/b{batch_id:06d}"
        )
        cur = spark.read.parquet(f"{out_dir}/state/b{batch_id:06d}")
        out = publish_fn(cur) if publish_fn is not None else cur
        out.write.mode("overwrite").parquet(f"{out_dir}/snap/b{batch_id:06d}")
        _maybe_fold_raw(spark, out_dir, batch_id, raw_compact_every)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_refresh)


# --- frozen-generation pack refresh (round 12) --------------------------------
#
# Class 4 of the deployment rule above: APPEND-ONLY FROZEN
# GENERATIONS. The shard table (pipeline/prep.py pack_weighted) fits
# none of classes 1-3: its seeded-hash prefix-sum is global, so a
# cumulative refresh would re-pack EVERY shard on every batch —
# invalidating shards a training run may already have consumed, the
# one thing a shard store must never do. The production discipline is
# the opposite: shard assignments FREEZE per generation. Each
# micro-batch packs ONLY its own docs' copies (weights, multiplicity
# and the pack order computed within the generation) into NEW shards
# starting at max(prior shard)+1 per lang; prior generations' files
# are never rewritten. The tradeoff — per-generation weight
# normalization drifts from the corpus-global mixture the full
# re-pack would give — is documented in docs/SCALE.md; the published
# relation is the union of committed generations.


def run_generation_pack(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    pack_fn: Callable[[DataFrame], DataFrame],
    files_per_trigger: int = 1,
) -> None:
    """``pack_fn(batch_docs)`` must return (lang, doc_id, copy_id,
    n_tokens, shard) with GENERATION-RELATIVE shard ids (0-based, as
    pack_weighted emits). Each batch lands as ``gen/b<id>`` with its
    shards offset by max(absolute shard)+1 per lang over committed
    generations STRICTLY BELOW batch_id — so a replayed batch
    recomputes the same offsets from the same priors and its
    overwrite is idempotent, and later batches never touch earlier
    files (frozenness is pytest-pinned on mtimes)."""
    import pyspark.sql.functions as F

    def _refresh(batch, batch_id: int) -> None:
        rel = pack_fn(batch)
        prior = [
            g for g in _raw_gens(spark, out_dir, "gen") if g < batch_id
        ]
        if prior:
            pri = spark.read.parquet(
                *[f"{out_dir}/gen/b{g:06d}" for g in prior]
            )
            offs = pri.groupBy("lang").agg(
                (F.max("shard") + 1).cast("bigint").alias("off")
            )
            rel = rel.join(F.broadcast(offs), "lang", "left").select(
                "lang",
                "doc_id",
                "copy_id",
                "n_tokens",
                (F.col("shard") + F.coalesce(F.col("off"), F.lit(0)))
                .cast("bigint")
                .alias("shard"),
            )
        rel.write.mode("overwrite").parquet(f"{out_dir}/gen/b{batch_id:06d}")

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_refresh)


def read_generations(spark: SparkSession, out_dir: str) -> DataFrame:
    """The published shard table: the union of committed generations."""
    gens = _raw_gens(spark, out_dir, "gen")
    return spark.read.parquet(
        *[f"{out_dir}/gen/b{g:06d}" for g in gens]
    )
