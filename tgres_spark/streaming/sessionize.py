"""Streaming gap-based sessionization: events_sessionize as a native
Structured Streaming session-window aggregation.

Reference analog: the receiver's per-series keyed state (a datapoint
either extends a live series or starts one, receiver/dscache.go);
here the key is user_id and the state is the set of open session
intervals, merged by Spark's built-in session_window — no custom
applyInPandasWithState needed for THE canonical stateful stream op.

Gap semantics: the batch operator (tpch.py events_sessionize) breaks
a session when t - prev > 1800 on truncated epoch SECONDS, i.e. a gap
of exactly 1800 stays in-session. session_window merges an event into
a session iff event_time <= session_end where session_end advances to
last_event + gap (NON-strict compare — verified empirically on a
delta == gap pair), so gap_s = 1800 reproduces the batch rule
bit-for-bit: merge iff delta <= 1800.

Emission: append mode — a session is final (and written) once the
watermark passes its end (last event + gap). That is the same trade
the reference's flusher makes: the open head stays buffered in state.
The registered query feeds ONE availableNow batch so the emitted set
is exactly {sessions with last_t + gap <= max_t - delay}, which a
batch SQL oracle can state in closed form; cross-batch interval
MERGING (a later file extending an earlier session) is pinned in
tests/test_streaming.py with time-ordered file drops.

100 TB posture: state is one (user_id, open-interval) row per live
session keyed by the uniform user id — RocksDB holds it off-heap;
session_window aggregation is a single shuffle on user_id, identical
to the batch operator's one window shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import run_available_now


def streaming_sessions(
    events: DataFrame, gap_s: int = 1800, watermark_s: int = 60
) -> DataFrame:
    """Session aggregation over a (user_id, t epoch-sec) stream:
    (user_id, session_start, n_events, duration_s) per closed session.
    Same output relation as batch events_sessionize minus the
    order-dependent session_id — session_start IS the stable identity
    streaming can assign without a global per-user ordinal."""
    with_ts = events.withColumn("ts", F.col("t").cast("timestamp"))
    return (
        with_ts.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.session_window("ts", f"{gap_s} seconds"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("t").alias("session_start"),
            (F.max("t") - F.min("t")).alias("duration_s"),
        )
        .select("user_id", "session_start", "n_events", "duration_s")
    )


def run_sessionize_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    gap_s: int = 1800,
    watermark_s: int = 60,
    files_per_trigger: int | None = None,
) -> None:
    """Drive the session stream over a parquet file-drop source until
    no input remains (availableNow), appending closed sessions."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    events = reader.parquet(in_dir)
    sessions = streaming_sessions(events, gap_s=gap_s, watermark_s=watermark_s)
    run_available_now(sessions, checkpoint, path=out_dir)
