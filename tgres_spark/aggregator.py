"""Statsd-style flush aggregation over fixed windows, batch and streaming.

Reference: aggregator/aggregator.go Flush (aggregator.go:155-211) and
statsd.go AggregatorCmd routing:

- counter (CmdAdd): sum(value / sample) per flush window, emitted as a
  per-second rate over the window.
- gauge set (CmdSetGauge): last value in the window; gauge delta
  (CmdAddGauge): running sum of deltas applied to the last set value.
- timer (CmdAppend): per window over the sorted sample list —
  count, lower, upper, sum, mean, and for each threshold p:
  idx = floor(p/100*n + .5) - 1, upper_p = sorted[idx],
  sum_p = sum(sorted[..idx]), mean_p = sum_p/(idx+1).

Deviation (documented): aggregator.go:185-187 fills ``cumul`` with
``cumul[n] += v`` on a fresh slice, so its ".sum" is really the max
sample — a bug. We implement the statsd-standard cumulative sum.

Spark shape: one engine for batch and streaming. ``flush_slots``
groups a parsed relation by (end-labeled flush window, name) under an
event-time watermark; Catalyst drops the watermark from batch plans,
so the family builders below are the batch ``statsd_flush`` queries
and, over a ``readStream`` source, the ``streaming/ingest.py``
pipelines (append mode emits a window once the watermark passes its
end, i.e. with the same rows the batch window holds). Each family is
one aggregate per (window, name) — one shuffle: counters and gauge
deltas sum micro6 units, the last gauge set is max(struct(t, v)),
timers keep one sorted sample list and left-fold partial sums so both
engines sum in the same order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F
from .model import literal_df

from .model import NAME, T, VALUE, micro6

THRESHOLDS = (90,)  # reference default Thresholds: []int{90}


def statsd_flush(
    parsed: DataFrame,
    flush_s: int = 60,
    prefix: str = "stats",
    thresholds: tuple[int, ...] = THRESHOLDS,
) -> DataFrame:
    """(t, name, value, metric, sample, delta) → flushed SeriesFrame.

    One output series per counter/gauge; 5 + 3·len(thresholds) per
    timer (count/lower/upper/sum/mean + upper_p/sum_p/mean_p per
    configured percentile, mirroring aggregator.State.Thresholds).
    """
    # fence the shared parse (optimization round 13, guide §7.2): the
    # parsed relation feeds three family branches and each union
    # branch re-evaluated the whole regex-parse projection from the
    # packets scan; one cache pass computes it once. Batch only — a
    # stream runs one family per query (streaming/ingest.py).
    parsed = parsed.persist()  # fence: returned plan reads this cache
    counters = _flush_counters(parsed, flush_s, prefix)
    gauges = _flush_gauges(parsed, flush_s, prefix)
    timers = _flush_timers(parsed, flush_s, prefix, thresholds)
    return counters.unionAll(gauges).unionAll(timers)


def flush_slots(df: DataFrame, flush_s: int, watermark_s: int) -> GroupedData:
    """Group ``df`` by (flush window, name) — the one place the flush
    window is built. ``window_end()`` labels a group's slot; it equals
    ``operators.consolidate.slot_end(flush_s)``.

    Spark windows are [start, end) but slots are (start, end] (rra.go
    movePdpToDps): event time t - 1 puts a boundary point in the same
    end-labeled slot as batch ``slot_end``. The watermark bounds
    streaming state and sets when append mode emits a window; batch
    plans drop it."""
    return (
        df.withColumn("ts", (F.col(T) - 1).cast("timestamp"))
        .withWatermark("ts", f"{watermark_s} seconds")
        .groupBy(F.window("ts", f"{flush_s} seconds"), F.col(NAME))
    )


def window_end():
    """Slot label of a ``flush_slots`` group: window end, epoch seconds."""
    return F.unix_timestamp(F.col("window.end")).cast("bigint")


def _flush_counters(
    parsed: DataFrame, flush_s: int, prefix: str, watermark_s: int = 0
) -> DataFrame:
    rate = (
        F.sum(micro6(F.col(VALUE) / F.col("sample"))).cast("double")
        / 1000000.0
        / float(flush_s)
    )
    c = parsed.where(F.col("metric") == "c")
    return (
        flush_slots(c, flush_s, watermark_s)
        .agg(rate.alias(VALUE))
        .select(
            F.concat(F.lit(prefix + "."), F.col(NAME)).alias(NAME),
            window_end().alias(T),
            F.col(VALUE),
        )
    )


def flush_counters_sql(parsed_sql: str, flush_s: int, prefix: str = "stats") -> str:
    slot = f"CAST(FLOOR((t - 1) / {flush_s}) * {flush_s} + {flush_s} AS BIGINT)"
    return (
        f"SELECT '{prefix}.' || name AS name, {slot} AS t, "
        f"CAST(SUM(CAST(FLOOR((value / sample) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / {float(flush_s)!r} AS value "
        f"FROM ({parsed_sql}) WHERE metric = 'c' GROUP BY name, {slot}"
    )


def _flush_gauges(
    parsed: DataFrame, flush_s: int, prefix: str, watermark_s: int = 0
) -> DataFrame:
    """Per window, the last SET value plus the micro6-summed deltas
    (a delta-only window starts from 0). Ties at the same second break
    to the larger value — the max of the (t, v) struct, the same
    cross-engine tie-break as consolidate cf=last."""
    g = parsed.where(F.col("metric") == "g")
    last_set = F.max(F.when(~F.col("delta"), F.struct(F.col(T), F.col(VALUE))))
    deltas = F.sum(F.when(F.col("delta"), micro6(F.col(VALUE)))).cast("double")
    return (
        flush_slots(g, flush_s, watermark_s)
        .agg(last_set.alias("last_set"), (deltas / 1000000.0).alias("d"))
        .select(
            F.concat(F.lit(prefix + ".gauges."), F.col(NAME)).alias(NAME),
            window_end().alias(T),
            (
                F.coalesce(F.col(f"last_set.{VALUE}"), F.lit(0.0))
                + F.coalesce(F.col("d"), F.lit(0.0))
            ).alias(VALUE),
        )
    )


def flush_gauges_sql(parsed_sql: str, flush_s: int, prefix: str = "stats") -> str:
    slot = f"CAST(FLOOR((t - 1) / {flush_s}) * {flush_s} + {flush_s} AS BIGINT)"
    sets = (
        f"SELECT name, slot, MAX(v) AS base FROM ("
        f"SELECT name, t, {slot} AS slot, value AS v, "
        f"MAX(t) OVER (PARTITION BY name, {slot}) AS tmax "
        f"FROM ({parsed_sql}) WHERE metric = 'g' AND NOT delta"
        f") WHERE t = tmax GROUP BY name, slot"
    )
    deltas = (
        f"SELECT name, {slot} AS slot, "
        f"CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS d "
        f"FROM ({parsed_sql}) WHERE metric = 'g' AND delta GROUP BY name, {slot}"
    )
    return (
        f"SELECT '{prefix}.gauges.' || COALESCE(s.name, d.name) AS name, "
        f"COALESCE(s.slot, d.slot) AS t, "
        f"COALESCE(s.base, 0.0) + COALESCE(d.d, 0.0) AS value "
        f"FROM ({sets}) s FULL JOIN ({deltas}) d ON s.name = d.name AND s.slot = d.slot"
    )


def _flush_timers(
    parsed: DataFrame,
    flush_s: int,
    prefix: str,
    thresholds: tuple[int, ...] = THRESHOLDS,
    watermark_s: int = 0,
) -> DataFrame:
    t_ = parsed.where(F.col("metric") == "ms")
    # ONE aggregate buffer (the sorted sample list); every stat is a
    # cheap post-projection on it — not six parallel collect_lists.
    grouped = (
        flush_slots(t_, flush_s, watermark_s)
        .agg(F.array_sort(F.collect_list(VALUE)).alias("arr"))
        .select(NAME, window_end().alias("slot"), "arr")
    )
    return timer_stats_from_sorted(grouped, prefix, thresholds)


def timer_stats_from_sorted(
    grouped: DataFrame,
    prefix: str,
    thresholds: tuple[int, ...] = THRESHOLDS,
) -> DataFrame:
    """Stat projection over a (name, slot, arr) relation where ``arr``
    is the SORTED timer sample list."""
    arr = F.col("arr")
    n = F.size(arr)
    lfold = lambda a: F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    # fold the sorted array ONCE per distinct prefix: `total` feeds
    # both sum and mean, `s_{th}` feeds sum_th and mean_th —
    # expressed as a pre-projection because expressions get no CSE
    # across select-list entries (the naive form folded arr 2+2/th
    # times; CollapseProject keeps this split since the folds are
    # non-cheap and multiply referenced). Same folds, same division
    # order — values unchanged.
    folded = grouped.select(
        NAME,
        "slot",
        "arr",
        lfold(arr).alias("total"),
        *[
            F.when(
                F.floor(F.lit(th / 100.0) * n.cast("double") + 0.5).cast("int")
                - 1
                >= 0,
                lfold(
                    F.slice(
                        arr,
                        1,
                        F.floor(
                            F.lit(th / 100.0) * n.cast("double") + 0.5
                        ).cast("int"),
                    )
                ),
            ).alias(f"s_{th}")
            for th in thresholds
        ],
    )
    cols = [
        n.cast("double").alias("count"),
        F.element_at(arr, 1).alias("lower"),
        F.element_at(arr, n).alias("upper"),
        F.col("total").alias("sum"),
        (F.col("total") / n.cast("double")).alias("mean"),
    ]
    suffixes = ["count", "lower", "upper", "sum", "mean"]
    for th in thresholds:
        idx = F.floor(F.lit(th / 100.0) * n.cast("double") + 0.5).cast("int") - 1
        cols += [
            F.when(idx >= 0, F.element_at(arr, idx + 1)).alias(f"upper_{th}"),
            F.col(f"s_{th}").alias(f"sum_{th}"),
            (F.col(f"s_{th}") / (idx + 1).cast("double")).alias(f"mean_{th}"),
        ]
        suffixes += [f"upper_{th}", f"sum_{th}", f"mean_{th}"]
    wide = folded.select(NAME, "slot", *cols)
    stack = ", ".join(f"'{s}', `{s}`" for s in suffixes)
    return wide.selectExpr(
        "name", "slot", f"stack({len(suffixes)}, {stack}) AS (suffix, value)"
    ).select(
        F.concat(
            F.lit(prefix + ".timers."), F.col(NAME), F.lit("."), F.col("suffix")
        ).alias(NAME),
        F.col("slot").alias(T),
        F.col(VALUE).cast("double").alias(VALUE),
    )


def flush_timers_sql(
    parsed_sql: str,
    flush_s: int,
    prefix: str = "stats",
    thresholds: tuple[int, ...] = THRESHOLDS,
) -> str:
    slot = f"CAST(FLOOR((t - 1) / {flush_s}) * {flush_s} + {flush_s} AS BIGINT)"
    arr = "list_sort(list(value))"
    n = f"len({arr})"
    fold = "list_reduce(list_prepend(0.0, {a}), (acc, x) -> acc + x)"
    foldall = fold.format(a=arr)
    stat_sql = [
        f"CAST({n} AS DOUBLE) AS \"count\"",
        f"{arr}[1] AS lower",
        f"{arr}[{n}] AS upper",
        f"{foldall} AS \"sum\"",
        f"{foldall} / {n} AS mean",
    ]
    suffixes = ["count", "lower", "upper", "sum", "mean"]
    for th in thresholds:
        idx = f"CAST(FLOOR({th / 100.0!r} * {n} + 0.5) AS BIGINT) - 1"
        foldhead = fold.format(a=f"list_slice({arr}, 1, ({idx}) + 1)")
        stat_sql += [
            f"CASE WHEN ({idx}) >= 0 THEN {arr}[({idx}) + 1] END AS upper_{th}",
            f"CASE WHEN ({idx}) >= 0 THEN {foldhead} END AS sum_{th}",
            f"CASE WHEN ({idx}) >= 0 THEN {foldhead} / (({idx}) + 1) END AS mean_{th}",
        ]
        suffixes += [f"upper_{th}", f"sum_{th}", f"mean_{th}"]
    wide = (
        f"SELECT name, {slot} AS slot, " + ", ".join(stat_sql)
        + f" FROM ({parsed_sql}) WHERE metric = 'ms' GROUP BY name, {slot}"
    )
    pieces = []
    for s in suffixes:
        pieces.append(
            f"SELECT '{prefix}.timers.' || name || '.{s}' AS name, slot AS t, "
            f"CAST(\"{s}\" AS DOUBLE) AS value FROM w"
        )
    return f"WITH w AS ({wide}) " + " UNION ALL ".join(pieces)


def paced_metrics(sf: DataFrame, pace_s: int, kind: str = "sum") -> DataFrame:
    """receiver/pacedmetric.go: rate-limit a firehose to ≤1 datapoint
    per pace interval per name — 'sum' accumulates, 'gauge' is a
    time-weighted mean (ClockPdp)."""
    from .operators.consolidate import consolidate

    if kind == "sum":
        return consolidate(sf, pace_s, cf="sum")
    if kind == "gauge":
        return consolidate(sf, pace_s, cf="wmean")
    raise ValueError(kind)


def paced_metrics_sql(base_sql: str, pace_s: int, kind: str = "sum") -> str:
    from .operators.consolidate import oracle_consolidate_sql

    return oracle_consolidate_sql(
        base_sql, pace_s, "sum" if kind == "sum" else "wmean"
    )


def pixel_agg_frame(spark, commands) -> DataFrame:
    """http/pixel.go:87-145 parity: the `/pixel/{add,addgauge,setgauge,
    append}` routes queue aggregator commands (aggregator.go:217-220 —
    CmdAdd counter, CmdAddGauge gauge delta, CmdSetGauge gauge set,
    CmdAppend timer list). This turns the façade's queued
    ``(cmd, name, value, t)`` tuples into the SAME parsed-statsd frame
    ``parse_statsd_packets`` emits, so one flush path (``statsd_flush``)
    serves sockets and pixels alike — no second aggregation engine.
    Name sanitization happens here (misc.SanitizeName parity), like
    ``render.pixel_datapoints`` does for the count pixels."""
    from .model import sanitize_name

    cmds = literal_df(spark,
        list(commands), "cmd string, name string, value double, t long"
    )
    return pixel_agg_parsed(cmds)


def pixel_agg_parsed(cmds: DataFrame) -> DataFrame:
    """(cmd, name, value, t) relation → the parsed-statsd frame shape
    (t, name, value, metric, sample, delta); the distributed half of
    pixel_agg_frame, reusable over any command relation (the
    statsd_pixel_flush attestation query synthesizes one from
    events)."""
    from .model import sanitize_name

    metric = (
        F.when(F.col("cmd") == "add", F.lit("c"))
        .when(F.col("cmd") == "append", F.lit("ms"))
        .otherwise(F.lit("g"))
    )
    return cmds.select(
        F.col("t"),
        sanitize_name(F.col("name")).alias("name"),
        F.col("value"),
        metric.alias("metric"),
        F.lit(1.0).alias("sample"),
        (F.col("cmd") == "addgauge").alias("delta"),
    )
