"""Stream-stream interval join: click→purchase attribution within a
time window, as a watermarked Structured Streaming join.

Reference analog: none — the reference daemon routes each datapoint
to one series; correlating two live streams is the capability Spark
adds. This demonstrates the last major Structured Streaming feature
the repo exercises nowhere else: a STREAM⋈STREAM equi-join with an
event-time RANGE condition, where the watermarks + range bound how
long each side's rows stay in join state (purchases need clicks at
most ``window_s`` old: state per user is the last hour of clicks,
not the stream's history).

Correctness: for an INNER join, watermarks only bound state and drop
LATE rows — they never suppress matches between on-time rows — so a
single availableNow batch emits exactly the batch join's rows and the
query is hash-checkable against a plain SQL self-join. Multi-batch
equivalence needs time-ordered drops (late data is the declared
batch/backfill trade, as everywhere in streaming/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import run_available_now


def interval_join(
    left: DataFrame,
    right: DataFrame,
    window_s: int = 3600,
    watermark_s: int = 60,
) -> DataFrame:
    """(user_id, click_t, purchase_t, lag_s): right events joined to
    the most recent ``window_s`` of left events per user. Both inputs
    are (user_id, t) epoch-second frames (left = cause, right =
    effect); t -> timestamp via tz-free bigint cast."""
    a = left.select(
        F.col("user_id").alias("a_user"),
        F.col("t").alias("click_t"),
        F.col("t").cast("timestamp").alias("a_ts"),
    ).withWatermark("a_ts", f"{watermark_s} seconds")
    b = right.select(
        F.col("user_id").alias("b_user"),
        F.col("t").alias("purchase_t"),
        F.col("t").cast("timestamp").alias("b_ts"),
    ).withWatermark("b_ts", f"{watermark_s} seconds")
    j = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {window_s} SECONDS")),
    )
    return j.select(
        F.col("a_user").alias("user_id"),
        "click_t",
        "purchase_t",
        (F.col("purchase_t") - F.col("click_t")).alias("lag_s"),
    )


def run_interval_join_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    window_s: int = 3600,
    watermark_s: int = 60,
) -> None:
    """Both sides read from ONE file-drop source (split by event_type
    in-plan — a real deployment points two sources here)."""
    src = spark.readStream.schema(schema).parquet(in_dir)
    left = src.where(F.col("event_type") == "click").select("user_id", "t")
    right = src.where(F.col("event_type") == "purchase").select("user_id", "t")
    joined = interval_join(left, right, window_s=window_s, watermark_s=watermark_s)
    run_available_now(joined, checkpoint, path=out_dir)
