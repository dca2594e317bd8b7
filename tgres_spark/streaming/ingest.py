"""Structured Streaming ingest: the tgres receiver pipeline re-expressed.

Reference: receiver/receiver.go + director.go + flusher.go — datapoints
arrive on a socket, a director routes them to per-DS caches, flushers
write consolidated chunks to PostgreSQL on a timer.

Spark-first: readStream (socket/file/kafka) → protocol parse (the same
pure-column parsers as batch) → the same aggregation as batch → sink.
Every windowed aggregation here groups through
``aggregator.flush_slots``, and the statsd/pixel pipelines call the
batch flush family builders themselves, so a streamed window equals
the batch one by construction. The vcache+flusher machinery collapses
into watermark + output-mode semantics: append mode writes a slot once
the watermark passes its end; points later than the watermark are
dropped (the reference drops points older than the last flush too,
aggregator.go:130-132).

The streaming RRA consolidation averages the slot's points without
duration weights: lag-based weighting needs each series' previous
point across micro-batches, i.e. state — consolidate() remains the
batch/backfill path for WMEAN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregator import (
    _flush_counters,
    _flush_gauges,
    _flush_timers,
    flush_slots,
    window_end,
)
from ..model import NAME, T, VALUE, micro6
from ..sources.graphite import parse_graphite_lines
from ..sources.statsd import parse_statsd_packets
from . import run_available_now


def read_graphite_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-drop source of graphite line-protocol text (the socket
    source swaps in transparently: .format('socket') yields the same
    single-column frame)."""
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
        .withColumnRenamed("value", "line")
    )
    return parse_graphite_lines(lines)


def read_statsd_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-drop statsd source. Lines carry `t packet` (epoch-second
    prefix) so replays are deterministic — arrival-clock stamping would
    make checkpoint recovery produce different slots than the original
    run. A live socket gateway is expected to stamp lines on receipt
    *before* they reach the stream (the reference daemon stamps at the
    socket too, receiver/receiver.go); lines without a valid epoch
    prefix are dropped."""
    raw = (
        spark.readStream.format("text")
        .load(path)
        .withColumnRenamed("value", "line")
    )
    parts = F.split(F.col("line"), " ", 2)
    pk = raw.select(
        F.element_at(parts, 1).try_cast("bigint").alias("t"),
        F.element_at(parts, 2).alias("packet"),
    ).where(F.col("t").isNotNull())
    return parse_statsd_packets(pk)


def streaming_consolidate(
    parsed: DataFrame,
    step_s: int = 60,
    watermark_s: int = 600,
    cf: str = "avg",
) -> DataFrame:
    """RRA consolidation as a watermarked windowed aggregation.

    Window end == the slot-end label of batch consolidate() (event time
    t - 1, see aggregator.flush_slots), so streaming and batch slots
    are identical on integer-second data; late data inside the
    watermark revises the slot (update mode), like PDP accumulation
    before movePdpToDps."""
    # avg/sum accumulate micro6 BIGINT micro-units exactly like batch
    # consolidate() — a plain double sum's result depends on partial-
    # aggregation order (varies run to run, and vs DuckDB), which
    # would break both the batch-equivalence tests and the SQL oracle
    agg = {
        "avg": F.sum(micro6(F.col(VALUE))).cast("double")
        / 1000000.0
        / F.count(VALUE),
        "sum": F.sum(micro6(F.col(VALUE))).cast("double") / 1000000.0,
        "min": F.min(VALUE),
        "max": F.max(VALUE),
        "count": F.count(VALUE).cast("double"),
        "last": F.max_by(VALUE, T),
    }[cf]
    return (
        flush_slots(parsed, step_s, watermark_s)
        .agg(agg.alias(VALUE))
        .select(F.col(NAME), window_end().alias(T), F.col(VALUE).cast("double"))
    )


def run_file_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    step_s: int = 60,
    watermark_s: int = 600,
) -> None:
    """End-to-end: text file drops → parse → consolidate → parquet
    archive, exactly-once via checkpointing.

    Append-mode emission rule (same trade as the reference's flusher
    delay): a slot is written only once the watermark passes its end —
    the still-open head slot stays buffered in state until later data
    arrives. Tests push a sentinel point to flush deterministically.
    """
    parsed = read_graphite_stream(spark, in_path)
    rolled = streaming_consolidate(parsed, step_s=step_s, watermark_s=watermark_s)
    run_available_now(rolled, checkpoint, path=out_path)


def run_statsd_file_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    flush_s: int = 60,
    watermark_s: int = 600,
) -> None:
    """Streaming statsd counters: packets → parse → the batch counter
    flush (per-window micro6 rate) — the aggworker/flusher loop
    (receiver/aggworker.go) as one watermarked aggregation.

    Input files carry `t packet` lines so replays are deterministic
    (see read_statsd_stream)."""
    parsed = read_statsd_stream(spark, in_path)
    rate = _flush_counters(parsed, flush_s, "stats", watermark_s)
    run_available_now(rate, checkpoint, path=out_path)


def run_statsd_timers_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    flush_s: int = 60,
    watermark_s: int = 600,
) -> None:
    """Streaming statsd TIMERS: the batch timer flush — one sorted
    sample list per window, then the percentile-stat family. Append
    mode emits a window only when it is complete, so the sorted-list
    stats are exact. State per open window = the sample list, bounded
    by events-per-flush like the reference's in-memory timer buffer
    (aggregator.go:141-169)."""
    parsed = read_statsd_stream(spark, in_path)
    stats = _flush_timers(parsed, flush_s, "stats", watermark_s=watermark_s)
    run_available_now(stats, checkpoint, path=out_path)


def run_statsd_gauges_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    flush_s: int = 60,
    watermark_s: int = 600,
) -> None:
    """Streaming statsd GAUGES: the batch gauge flush — per window, the
    last SET value (ties → larger value) plus the micro6-summed
    deltas; append mode emits each window once its watermark passes."""
    parsed = read_statsd_stream(spark, in_path)
    gauges = _flush_gauges(parsed, flush_s, "stats", watermark_s)
    run_available_now(gauges, checkpoint, path=out_path)


def run_pixel_counter_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    schema,
    flush_s: int = 60,
    watermark_s: int = 60,
) -> None:
    """Streaming counter flush over an already-parsed pixel command
    frame (aggregator.pixel_agg_parsed shape): the façade's /pixel/add
    hits run through the batch counter flush, micro6 rate included."""
    src = spark.readStream.schema(schema).parquet(in_path)
    rate = _flush_counters(src, flush_s, "stats", watermark_s)
    run_available_now(rate, checkpoint, path=out_path)
