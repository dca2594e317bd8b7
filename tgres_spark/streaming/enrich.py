"""Stream-static enrichment join: a live event stream joined to a
broadcast dimension table, then windowed-aggregated per dimension
attribute.

Reference analog: none directly — the reference keys everything by the
metric name baked in at the client. Enriching in-flight (events keyed
by user joined to a slowly-changing customer dimension, aggregated by
market segment) is the standard Spark deployment shape for exactly
that: the dimension moves OUT of the event payload.

This is the one Structured Streaming join mode the repo exercises
nowhere else: STREAM⋈STATIC. The static side broadcasts (no state, no
watermark requirement on the dim), the stream side carries the only
event-time; the join adds zero streaming state — only the downstream
windowed aggregation holds any.

Correctness: the join itself is stateless per-row, so a single
availableNow batch emits exactly {windows with end <= max(t) - wm - 1}
under the -1 s slot shift (same closed form as
streaming_ingest_pipeline); batch-equivalence and the closed form are
pinned in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import micro6
from . import run_available_now


def enrich_window_agg(
    events: DataFrame,
    dim: DataFrame,
    step_s: int = 3600,
    watermark_s: int = 60,
) -> DataFrame:
    """events (user_id, t, value) ⋈ broadcast dim (user_id, segment)
    → per-(segment, slot) count + micro6 sum. Slot label = end of the
    (start, end] interval, matching batch consolidate()."""
    # watermark assigned on the STREAM side before the join — rows the
    # inner join drops must still advance event time
    with_ts = events.withColumn(
        "ts", (F.col("t") - 1).cast("timestamp")
    ).withWatermark("ts", f"{watermark_s} seconds")
    joined = with_ts.join(F.broadcast(dim), "user_id")
    agg = (
        joined
        .groupBy(F.window("ts", f"{step_s} seconds"), F.col("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            (F.sum(micro6(F.col("value"))).cast("double") / 1000000.0).alias(
                "total"
            ),
        )
    )
    return agg.select(
        "segment",
        F.unix_timestamp(F.col("window.end")).cast("bigint").alias("t"),
        "n_events",
        "total",
    )


def run_enrich_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    dim: DataFrame,
    step_s: int = 3600,
    watermark_s: int = 60,
) -> None:
    src = spark.readStream.schema(schema).parquet(in_dir)
    out = enrich_window_agg(src, dim, step_s=step_s, watermark_s=watermark_s)
    run_available_now(out, checkpoint, path=out_dir)


def run_asof_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    right: DataFrame,
    on: str,
    t: str,
    left_cols: list,
    right_cols: list,
) -> None:
    """Stream-static BACKWARD AS-OF enrichment: each micro-batch of
    left rows is as-of joined (operators/asof.py) against a static
    right-side snapshot inside foreachBatch — the deployment shape
    for enriching a live stream with the latest config/price/model
    row at-or-before each event.

    Batching-invariance is structural, not asserted: a left row's
    match depends ONLY on the static right side, so any partition of
    the left stream into micro-batches appends exactly the batch
    as-of result — which is why the streaming query hash-checks
    against the SAME DuckDB ASOF JOIN oracle as the batch operator.
    (A stream⋈stream as-of would need the union+window state to span
    batches — that is the documented cut: Structured Streaming has no
    ordered cross-row window; the interval join covers the bounded-
    lag case.)"""
    from ..operators.asof import asof_backward

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        out = asof_backward(bdf, right, on, t, left_cols, right_cols)
        out.write.mode("append").parquet(out_dir)

    run_available_now(src, checkpoint, foreach_batch=sink)
