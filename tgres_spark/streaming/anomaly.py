"""Streaming trailing z-score anomaly detection: the batch
events_anomaly (operators/dsl_calculate.py anomaly_zscore) as a
custom stateful operator — applyInPandasWithState carrying the last
W values per series.

This is the shape Spark's built-in aggregations can't express: the
score of each point depends on a ROLLING window of the series'
previous values across micro-batch boundaries, not on a keyed
aggregate. State per series is exactly W doubles + W epochs (W=24 →
~400 B), keyed by the uniform series name — the same RocksDB-ready
posture as the paced-metric operator (streaming/paced.py).

Determinism: the Python math replays the batch operator's
micro6/dec6 quantization EXACTLY — sums of floor(v*1e6+0.5) (and of
floor(v*v*1e6+0.5)) accumulate as Python ints (exact, < 2^53 for
W=24), divided in the same order the batch expression divides, so a
single-availableNow-batch run is bit-identical to the batch window
operator and shares its DuckDB oracle. Multi-batch runs require
time-ordered arrival per series (enforced upstream by the archive
layout; late points belong to the batch/backfill path, exactly like
streaming_consolidate's watermark trade) — cross-batch state carry
is pinned in tests with time-split file drops.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import run_available_now

_OUT_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("t", LongType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("ts", ArrayType(LongType())),
        StructField("vs", ArrayType(DoubleType())),
    ]
)


def _q6(x: float) -> int:
    return int(math.floor(x * 1000000.0 + 0.5))


def streaming_anomaly(
    series: DataFrame, points: int = 24, k: float = 2.0
) -> DataFrame:
    """(name, t, value, zscore, is_anomaly) over a streaming series
    frame — same relation as batch anomaly_zscore."""
    w = int(points)
    thresh = float(k)

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            ts, vs = state.get
            ts, vs = list(ts), list(vs)
        else:
            ts, vs = [], []
        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("t")
            for t, v in zip(pdf["t"], pdf["value"]):
                t, v = int(t), float(v)
                cnt = len(vs)
                z = None
                if cnt >= w:
                    sm = sum(_q6(x) for x in vs)
                    s2 = sum(_q6(x * x) for x in vs)
                    ex = float(sm) / 1000000.0 / cnt
                    ex2 = float(s2) / 1000000.0 / cnt
                    var = ex2 - ex * ex
                    sd = math.sqrt(var) if var > 0.0 else 0.0
                    if sd > 0.0:
                        z = (v - ex) / sd
                out_rows.append(
                    (key[0], t, v, z, bool(abs(z) > thresh) if z is not None else False)
                )
                ts.append(t)
                vs.append(v)
                if len(vs) > w:
                    ts, vs = ts[-w:], vs[-w:]
        state.update((ts, vs))
        yield pd.DataFrame(
            out_rows, columns=["name", "t", "value", "zscore", "is_anomaly"]
        )

    return (
        series.groupBy("name")
        .applyInPandasWithState(
            fn, _OUT_SCHEMA, _STATE_SCHEMA,
            outputMode="append", timeoutConf="NoTimeout",
        )
    )


def run_anomaly_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    points: int = 24,
    k: float = 2.0,
    files_per_trigger: int | None = None,
) -> None:
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    src = reader.parquet(in_dir)
    scored = streaming_anomaly(src, points=points, k=k)
    run_available_now(scored, checkpoint, path=out_dir)
