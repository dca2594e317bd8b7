"""Streaming shot-boundary detection: mm_scene_cuts over a live video
feed. A video's cuts depend ONLY on its own payload (the lag window
partitions by media_id and a video arrives as one row), so the
operator is per-batch decomposable and the deployment is the
STATELESS foreachBatch shape (streaming/incdedup.py's class, not the
cumulative-refresh class): each micro-batch runs the batch engine and
overwrites its own ``b<id>`` output dir (replay-idempotent), and the
union of batch outputs equals the batch relation over all input —
micro-batching is invisible, so the batch oracle checks the stream
verbatim. Contrast documented in streaming/refresh.py: attribution/RFM
need the cumulative refresh because their rows depend on OTHER rows'
future; a per-video signal does not."""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import run_available_now


def run_scene_cut_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    from ..pipeline.multimodal import mm_scene_cuts

    def _cuts(batch, batch_id: int) -> None:
        (
            mm_scene_cuts(batch)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/b{batch_id:06d}")
        )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_cuts)
