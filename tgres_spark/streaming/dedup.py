"""Streaming exact deduplication: the LLM-pipeline dedup_exact as a
stateful Structured Streaming aggregation.

Reference analog: receiver/dscache.go's create-on-first-write keyed
state (a datapoint either hits an existing DS or registers a new one);
here the key is the document text hash and the state is (n_dups,
keeper_id) per hash.

Spark shape: groupBy(md5(text)) with count + min(doc_id) in COMPLETE
output mode. Both aggregates are order-independent merges (count sums,
min is monotone), so the final state after ANY batching of the input —
one availableNow batch, file-at-a-time triggers, or a kill/restart
resume — is bit-identical to the batch dedup_exact() over the same
corpus. That makes the streaming run oracle-checkable against the SAME
DuckDB SQL as the batch operator, with real multi-batch state merging
exercised (maxFilesPerTrigger=1 over a multi-file drop).

100 TB posture: state is one row per DISTINCT document hash (16-byte
key + two longs) — the RocksDB state store holds billions of keys off
heap; the md5 key space is uniform so state partitions stay balanced.
An at-scale variant would emit only NEW keepers per batch (update
mode) instead of rewriting the full table; complete mode is used here
because the driver contract wants the final relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import run_available_now


def streaming_dedup_keepers(docs: DataFrame) -> DataFrame:
    """The streaming aggregation: (h, n_dups, keeper_id) per distinct
    text hash — same output relation as batch dedup_exact()."""
    return docs.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.count("*").cast("bigint").alias("n_dups"),
        F.min("doc_id").alias("keeper_id"),
    )


def run_dedup_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    """Drive the dedup stream over a parquet file-drop source until no
    input remains (availableNow), rewriting the keeper table from the
    full state each batch (complete mode)."""
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    kept = streaming_dedup_keepers(docs)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    run_available_now(
        kept, checkpoint, foreach_batch=sink, output_mode="complete"
    )


def run_dedup_stream_updates(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    """The at-scale emission variant: UPDATE output mode appends only
    the keys whose state CHANGED each micro-batch (tagged with the
    batch id) instead of rewriting the whole keeper table. The change
    log reconstructs the final state as latest-row-per-key — at 10B
    documents the per-flush write is proportional to the batch's novel
    hashes, not the corpus (complete mode's rewrite is the demo-scale
    convenience; this is what a production sink compacts from)."""
    from pyspark.sql import functions as F

    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    kept = streaming_dedup_keepers(docs)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    run_available_now(
        kept, checkpoint, foreach_batch=sink, output_mode="update"
    )
