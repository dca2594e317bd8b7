"""Streaming DSIR scoring: the trained hashed-feature model (ONE row:
a ≤ n_buckets-entry map + the closed-form unseen score) broadcasts
into a stateless stream projection — score every crawl increment as
it lands, with zero streaming state and zero shuffle.

This is the deployment shape the paper's hashed-feature trick buys
(Xie et al. 2023): because the model is CONSTANT-size however large
the training corpus, stream scoring needs no join state, no
watermark, and no aggregation — each doc's weight derives entirely
in-row (pipeline/textstats.py dsir_score_stream). Batch-equivalence
is structural, not asserted: a doc's score depends only on its own
text and the static model, so any micro-batching appends exactly the
batch scored relation — which is why the streaming query hash-checks
against the SAME per-doc oracle (dsir_scores_sql) as the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import run_available_now


def run_dsir_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    model_row: DataFrame,
) -> None:
    from ..pipeline.textstats import dsir_score_stream

    src = spark.readStream.schema(schema).parquet(in_dir)
    out = dsir_score_stream(src, model_row)
    run_available_now(out, checkpoint, path=out_dir)
