"""Structured Streaming ingest: the tgres receiver pipeline re-expressed.

Reference: receiver/receiver.go + director.go + flusher.go — datapoints
arrive on a socket, a director routes them to per-DS caches, flushers
write consolidated chunks to PostgreSQL on a timer.

Spark-first: readStream (socket/file/kafka) → protocol parse (the same
pure-column parsers as batch — identical semantics by construction) →
watermarked sliding aggregation = the RRA consolidation → sink. The
vcache+flusher machinery collapses into watermark + output-mode
semantics: late points within the watermark update their slot exactly
like the reference's PDP updates; beyond it they're dropped (the
reference drops points older than the last flush too,
aggregator.go:130-132).

The streaming WMEAN uses arrival-order weighting inside the slot
(sum/count on micro-batch rows); exact lag-based duration weighting
needs the previous point which streaming can't see across batches
without state — consolidate() remains the batch/backfill path, and
`statsd_flush`'s window aggregation IS expressible streaming-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

    Window end == the slot-end label of batch consolidate(); late data
    inside the watermark revises the slot (update mode), like PDP
    accumulation before movePdpToDps.

    Slot alignment: Spark windows are [start, end) but RRA slots are
    (start, end] (rra.go movePdpToDps) — shifting event time by -1s
    maps boundary points into the same end-labeled slot as the batch
    consolidate(), so streaming and batch results are identical on
    integer-second data."""
    with_ts = parsed.withColumn("ts", (F.col(T) - 1).cast("timestamp"))
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
        "last": F.max_by(VALUE, "ts"),
    }[cf]
    w = (
        with_ts.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.window("ts", f"{step_s} seconds"), F.col(NAME))
        .agg(agg.alias(VALUE))
    )
    return w.select(
        F.col(NAME),
        F.unix_timestamp(F.col("window.end")).cast("bigint").alias(T),
        F.col(VALUE).cast("double"),
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
    """Streaming statsd counters: packets → parse → per-window rate —
    the aggworker/flusher loop (receiver/aggworker.go) as one
    watermarked aggregation. Timers/gauges follow the same shape; the
    batch `statsd_flush` stays the backfill authority (its sorted-list
    percentile stats need the full window, which append-mode emission
    guarantees here too).

    Input files carry `t packet` lines so replays are deterministic
    (see read_statsd_stream)."""
    parsed = read_statsd_stream(spark, in_path)
    counters = parsed.where(F.col("metric") == "c").withColumn(
        "ts", (F.col(T) - 1).cast("timestamp")
    )
    rate = (
        counters.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.window("ts", f"{flush_s} seconds"), F.col(NAME))
        .agg(
            (F.sum(F.col(VALUE) / F.col("sample")) / float(flush_s)).alias(VALUE)
        )
        .select(
            F.concat(F.lit("stats."), F.col(NAME)).alias(NAME),
            F.unix_timestamp(F.col("window.end")).cast("bigint").alias(T),
            F.col(VALUE).cast("double"),
        )
    )
    run_available_now(rate, checkpoint, path=out_path)


def run_statsd_timers_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    flush_s: int = 60,
    watermark_s: int = 600,
) -> None:
    """Streaming statsd TIMERS: the full percentile-stat family
    (count/lower/upper/sum/mean + threshold stats) as one watermarked
    windowed aggregation whose buffer is the sorted sample list —
    append mode guarantees the window is complete when it emits, so
    the sorted-list stats are exact, identical math to the batch
    flush (timer_stats_from_sorted is shared code). State per open
    window = the sample list, bounded by events-per-flush like the
    reference's in-memory timer buffer (aggregator.go:141-169)."""
    from ..aggregator import timer_stats_from_sorted

    parsed = read_statsd_stream(spark, in_path)
    timers = parsed.where(F.col("metric") == "ms").withColumn(
        "ts", (F.col(T) - 1).cast("timestamp")
    )
    grouped = (
        timers.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.window("ts", f"{flush_s} seconds"), F.col(NAME))
        .agg(F.array_sort(F.collect_list(VALUE)).alias("arr"))
        .select(
            F.col(NAME),
            F.unix_timestamp(F.col("window.end")).cast("bigint").alias("slot"),
            "arr",
        )
    )
    stats = timer_stats_from_sorted(grouped, "stats")
    run_available_now(stats, checkpoint, path=out_path)


def run_statsd_gauges_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    flush_s: int = 60,
    watermark_s: int = 600,
) -> None:
    """Streaming statsd GAUGES: per window, the last SET value (ties
    at the same second break to the larger value — max of the (t, v)
    struct is exactly the batch tmax-then-max-v rule) plus the
    window's micro6-summed delta adjustments. Window-local semantics
    matching the batch authority `_flush_gauges` bit-for-bit; append
    mode emits each window once its watermark passes."""
    from ..model import micro6

    parsed = read_statsd_stream(spark, in_path)
    g = parsed.where(F.col("metric") == "g").withColumn(
        "ts", (F.col(T) - 1).cast("timestamp")
    )
    agg = (
        g.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.window("ts", f"{flush_s} seconds"), F.col(NAME))
        .agg(
            F.max(
                F.when(~F.col("delta"), F.struct(F.col(T), F.col(VALUE)))
            ).alias("last_set"),
            (
                F.sum(F.when(F.col("delta"), micro6(F.col(VALUE)))).cast(
                    "double"
                )
                / 1000000.0
            ).alias("d"),
        )
        .select(
            F.concat(F.lit("stats.gauges."), F.col(NAME)).alias(NAME),
            F.unix_timestamp(F.col("window.end")).cast("bigint").alias(T),
            (
                F.coalesce(F.col(f"last_set.{VALUE}"), F.lit(0.0))
                + F.coalesce(F.col("d"), F.lit(0.0))
            ).cast("double").alias(VALUE),
        )
    )
    run_available_now(agg, checkpoint, path=out_path)


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
    frame (aggregator.pixel_agg_parsed shape): the façade's
    /pixel/add hits rate-convert in the SAME watermarked window shape
    as run_statsd_file_pipeline, but with the micro6 BIGINT fold so
    the registered query hash-checks (a plain double SUM is
    accumulation-order-dependent)."""
    src = spark.readStream.schema(schema).parquet(in_path)
    counters = src.where(F.col("metric") == "c").withColumn(
        "ts", (F.col("t") - 1).cast("timestamp")
    )
    mv = F.floor(
        F.col("value") / F.col("sample") * 1000000.0 + F.lit(0.5)
    ).cast("bigint")
    rate = (
        counters.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.window("ts", f"{flush_s} seconds"), F.col("name"))
        .agg(F.sum(mv).alias("smv"))
        .select(
            F.concat(F.lit("stats."), F.col("name")).alias("name"),
            F.unix_timestamp(F.col("window.end")).cast("bigint").alias("t"),
            (F.col("smv").cast("double") / 1000000.0 / float(flush_s)).alias(
                "value"
            ),
        )
    )
    run_available_now(rate, checkpoint, path=out_path)
