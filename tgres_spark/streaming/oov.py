"""Streaming OOV scoring: the reference-split vocabulary is a ONE-row
sorted array (≤vocab_size entries at ANY corpus size — the same
constant-size-artifact property the DSIR hashed model has), so crawl
increments score statelessly: broadcast cross join + in-row array
algebra, no explode, no aggregation, no watermark, zero state.
Batch-equivalence is structural — a doc's OOV stats depend only on its
own text and the static vocab, so any micro-batching appends exactly
the batch relation and the streaming query hash-checks against the
same per-doc oracle (pipeline/textstats.py oov_doc_scores_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import run_available_now


def run_oov_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    vocab_row: DataFrame,
) -> None:
    from ..pipeline.textstats import oov_score_stream

    src = spark.readStream.schema(schema).parquet(in_dir)
    out = oov_score_stream(src, vocab_row)
    run_available_now(out, checkpoint, path=out_dir)
