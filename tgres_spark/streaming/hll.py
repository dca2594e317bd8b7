"""Streaming HyperLogLog: the deterministic HLL register relation
(operators/sketch.py) as a stateful Structured Streaming aggregation.

max(rho) per (group, bucket) is an order-independent merge — exactly
like streaming dedup's count/min state — so the register table after
ANY batching of the input (one availableNow batch, file-per-trigger
micro-batches, a kill/restart resume) is bit-identical to the batch
hll_registers() over the same rows, and the estimate computed from it
hash-matches the same DuckDB oracle as the batch operator. This is
the streaming cardinality story at 100 TB: state is <= 256 rows per
group (two ints each) regardless of how many distinct keys flow by,
vs. the unbounded per-key state exact streaming COUNT(DISTINCT)
would need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import hll_registers
from . import run_available_now


def run_hll_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    group_col: str,
    key_col: str,
    files_per_trigger: int = 1,
) -> None:
    """Fold the stream into the register table (complete mode — the
    driver contract wants the final relation; an at-scale variant
    would emit register CHANGES in update mode)."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    regs = hll_registers(src, group_col, key_col)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    run_available_now(
        regs, checkpoint, foreach_batch=sink, output_mode="complete"
    )


def run_histogram_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    group_col: str,
    value_col: str,
    width: float = 0.5,
    files_per_trigger: int = 1,
) -> None:
    """Streaming histogram sketch: bin COUNTS sum-merge across
    micro-batches (the third associative-merge state after dedup's
    count/min and HLL's max), so the final bin relation — and any
    quantile read off it — is bit-identical to the batch sketch over
    the same rows."""
    from ..operators.sketch import histogram_bins

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    hist = histogram_bins(src, group_col, value_col, width=width)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    run_available_now(
        hist, checkpoint, foreach_batch=sink, output_mode="complete"
    )


def run_cms_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    key_col: str,
    files_per_trigger: int = 1,
) -> None:
    """Streaming count-min sketch: the 4x256 cell COUNTS sum-merge
    across micro-batches (the same + state family as the histogram),
    so the final sketch — and any point query off it — is
    bit-identical to the batch cms_sketch over the same rows."""
    from ..operators.sketch import cms_sketch

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    sk = cms_sketch(src, key_col)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    run_available_now(
        sk, checkpoint, foreach_batch=sink, output_mode="complete"
    )


def run_bloom_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    group_col: str,
    key_col: str,
    files_per_trigger: int = 1,
) -> None:
    """Streaming Bloom filter: the word registers OR-merge across
    micro-batches — the fourth merge family (histogram +, HLL max,
    CMS +, Bloom OR), and the only IDEMPOTENT one: replaying a batch
    (at-least-once delivery) cannot change the filter, so this state
    is exactly-once-equivalent under retries with no dedup bookkeeping
    at all. Final word table is bit-identical to the batch
    bloom_sketch over the same rows."""
    from ..operators.sketch import bloom_sketch

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    sk = bloom_sketch(src, group_col, key_col)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    run_available_now(
        sk, checkpoint, foreach_batch=sink, output_mode="complete"
    )
