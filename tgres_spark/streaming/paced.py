"""Stateful streaming paced metrics — receiver/pacedmetric.go as an
applyInPandasWithState operator.

The reference's paced-metric worker rate-limits a firehose to one
datapoint per pace interval per ident: 'sum' accumulates and resets on
each flush (pacedMetricFlush, pacedmetric.go:50-61); 'gauge' keeps a
ClockPdp that time-weights values by inter-arrival duration and is
NOT reset across flushes ("NB: We do not reset the gauges map, it
lives on" — pacedmetric.go:59).

Spark-first: groupBy(name).applyInPandasWithState. State is a handful
of scalars per series name; emission is event-time driven (a window
emits when a later point proves it complete), never wall-clock driven,
so checkpoint replay is deterministic — the same rule the file-drop
ingest pipeline follows (streaming/ingest.py). The still-open head
window stays in state, exactly like the reference's not-yet-flushed
accumulator.

At scale: state is O(distinct names) × ~40 bytes, hash-partitioned by
name across executors by the groupBy — no skew beyond name popularity
(one hot series still serializes through one state partition, same as
the reference's per-ident map shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Tt

from ..model import NAME, T, VALUE
from . import run_available_now

_OUT_SCHEMA = Tt.StructType(
    [
        Tt.StructField("name", Tt.StringType()),
        Tt.StructField("t", Tt.LongType()),
        Tt.StructField("value", Tt.DoubleType()),
    ]
)

# win: current pace-window index; acc: sum accumulator; have: acc valid;
# last_t/last_v + dsum/wsum: ClockPdp state for gauges.
_STATE_SCHEMA = Tt.StructType(
    [
        Tt.StructField("win", Tt.LongType()),
        Tt.StructField("acc", Tt.DoubleType()),
        Tt.StructField("have", Tt.BooleanType()),
        Tt.StructField("last_t", Tt.LongType()),
        Tt.StructField("dsum", Tt.DoubleType()),
        Tt.StructField("wsum", Tt.DoubleType()),
    ]
)


def streaming_paced_metrics(
    parsed: DataFrame, pace_s: int = 60, kind: str = "sum"
) -> DataFrame:
    """Rate-limit (name, t, value) to ≤1 point per ``pace_s`` per name.

    'sum': emits the window's sum when a point in a LATER window
    arrives, then resets — batch-equivalent to
    ``paced_metrics(sf, pace_s, 'sum')`` minus the final open window
    (withheld in state; tests/test_streaming.py pushes a sentinel).
    'gauge': ClockPdp — each value weighted by duration since the
    previous point; the duration chain crosses window boundaries and
    is never reset, per the reference. Slot labels are (start, end]
    window ends, matching batch consolidate().

    Points older than the current open window are dropped, the same
    trade the reference makes for points older than the last flush
    (aggregator.go:130-132)."""
    if kind not in ("sum", "gauge"):
        raise ValueError(kind)
    is_sum = kind == "sum"
    pace = int(pace_s)

    def fn(key, pdfs, state):
        import math

        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("t", kind="mergesort")
        if state.exists:
            win, acc, have, last_t, dsum, wsum = state.get
        else:
            win, acc, have, last_t, dsum, wsum = None, 0.0, False, None, 0.0, 0.0
        # 'sum' accumulates micro6 integer units (carried in the
        # double state slot — integral and far below 2^53), so the
        # window sum is independent of arrival order WITHIN a
        # timestamp tie and matches batch consolidate(cf='sum') /
        # the DuckDB oracle bit-for-bit
        acc = int(acc)
        out = []
        name = key[0]
        for t, v in zip(rows["t"], rows["value"]):
            t = int(t)
            w = (t - 1) // pace
            if win is not None and w < win:
                continue  # older than the open window — dropped
            if win is None:
                win = w
            if w != win:
                if is_sum:
                    if have:
                        out.append(
                            (name, (win + 1) * pace, float(acc) / 1000000.0)
                        )
                    acc, have = 0, False
                else:
                    if dsum > 0:
                        out.append((name, (win + 1) * pace, wsum / dsum))
                    dsum, wsum = 0.0, 0.0  # Reset(); last_t/last_v live on
                win = w
            if is_sum:
                acc += math.floor(float(v) * 1000000.0 + 0.5)
                have = True
            else:
                if last_t is not None and t > last_t:
                    dur = float(t - last_t)
                    dsum += dur
                    wsum += dur * float(v)
                last_t = t
        state.update((win, float(acc), have, last_t, dsum, wsum))
        yield pd.DataFrame(out, columns=["name", "t", "value"])

    return (
        parsed.select(NAME, T, VALUE)
        .groupBy(NAME)
        .applyInPandasWithState(
            fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
        .select(
            F.col("name").alias(NAME),
            F.col("t").cast("bigint").alias(T),
            F.col("value").cast("double").alias(VALUE),
        )
    )


def run_paced_file_pipeline(
    spark,
    in_path: str,
    out_path: str,
    checkpoint: str,
    pace_s: int = 60,
    kind: str = "sum",
    max_files_per_trigger: int = 16,
) -> None:
    """File-drop graphite lines → stateful paced metrics → parquet,
    exactly-once via checkpointing (availableNow trigger honors
    maxFilesPerTrigger, so N files / M per trigger = ceil(N/M)
    micro-batches with state carried across every one)."""
    from .ingest import read_graphite_stream

    parsed = read_graphite_stream(spark, in_path, max_files_per_trigger)
    paced = streaming_paced_metrics(parsed, pace_s=pace_s, kind=kind)
    run_available_now(paced, checkpoint, path=out_path)
