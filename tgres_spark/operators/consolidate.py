"""RRD-style consolidation: SeriesFrame → fixed-step archive.

Reference semantics (rrd/rra.go:179-253, rrd/pdp.go:96-141):

- A datapoint at time t with predecessor at time p represents the
  interval (p, t]; its weight is the interval's duration.
- WMEAN = duration-weighted mean; MIN/MAX/LAST ignore weights but need
  duration > 0; NaN contributes nothing (pdp.go AddValue*).
- Heartbeat: an interval longer than hb is *unknown* — it still spans
  time but contributes no known duration (rrd/ds.go updateRange).
- XFF (rra.go:232-237): if known_duration/step < xff the slot is NULL.
- Slots are labeled by their END time (rra.go movePdpToDps).

Spark-first shape: a single window `lag(t) over (partition by name
order by t)` computes interval durations (no shuffle beyond the one
hash partition by name), then one groupBy((name, slot)) — partial
aggregation map-side, one shuffle, no Python. Deviation from the
reference, documented: an interval crossing a slot boundary is
attributed wholly to the slot of its endpoint rather than split
pro-rata (exact splitting needs an explode per crossed slot; at normal
step≫sample-interval ratios the difference vanishes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..model import NAME, T, VALUE, micro6

CFS = ("wmean", "min", "max", "last", "avg", "sum", "count")


def slot_end(step: int, t_col: str = T):
    """End-of-slot label: slot covering t is (k*step, (k+1)*step]."""
    return (F.floor((F.col(t_col) - 1) / step) * step + step).cast("bigint")


def consolidate(
    sf: DataFrame,
    step: int,
    cf: str = "wmean",
    xff: float = 0.0,
    heartbeat: int | None = None,
) -> DataFrame:
    """Consolidate a SeriesFrame to a fixed step with consolidation
    function ``cf`` ∈ {wmean,min,max,last,avg,sum,count}.

    Returns (name, t, value) where t = slot end, ordered-agnostic.
    """
    return _agg_from_pts(_durations(sf, heartbeat), step, cf, xff)


def _durations(sf: DataFrame, heartbeat: int | None) -> DataFrame:
    """SeriesFrame → (name, t, v, dur): the one lag-duration pass every
    consolidate variant shares. ``dur`` is the point's interval (p, t];
    a series' first point has no predecessor and weighs 1s (the
    reference seeds a DS at its first point; ds.go processDataPoint).
    An interval longer than ``heartbeat`` leaves ``v`` unknown (NULL)."""
    w = Window.partitionBy(NAME).orderBy(T)
    dur = F.coalesce((F.col(T) - F.lag(T).over(w)).cast("double"), F.lit(1.0))
    pts = sf.select(F.col(NAME), F.col(T), F.col(VALUE).alias("v"), dur.alias("dur"))
    if heartbeat is None:
        return pts
    # test the selected column: inlining ``dur`` again would make the
    # Window compute a second, identical lag
    return pts.withColumn("v", F.when(F.col("dur") <= float(heartbeat), F.col("v")))


def consolidate_multi(
    sf: DataFrame,
    archives: list[tuple],
    heartbeat: int | None = None,
) -> DataFrame:
    """Fan one SeriesFrame into several archives sharing ONE duration
    pass — the reference's shape exactly: a single PDP stream feeds
    every RRA of a DS (rrd/ds.go updateRRAs). Interval durations are
    step-independent, so the lag window computes once (and persists)
    while each (cf, step[, xff]) archive adds only its own groupBy —
    a 3-tuple's xff applies the RRA's X-Files-Factor (slot NULL unless
    known-duration fraction ≥ xff, rra.go:232-237) per archive.

    Output names are prefixed `<cf>:<step>/` like rrd_multi_rra.

    Caching lifetime: the shared (v, dur) relation is persisted because
    every archive's groupBy re-reads it (without it the lag window runs
    once per archive). Call ``release_multi_cache()`` after the union
    is materialized to free it; it is also released automatically the
    next time consolidate_multi runs.
    """
    specs = [(a[0], a[1], a[2] if len(a) > 2 else 0.0) for a in archives]
    for cf, _step, _xff in specs:
        if cf.lower() not in CFS:
            raise ValueError(f"unknown consolidation function: {cf}")
    release_multi_cache()
    pts = _durations(sf, heartbeat).persist()  # fence: returned plan reads this cache
    _MULTI_CACHE.append(pts)

    outs = []
    for cf, step, xff in specs:
        prefix = f"{cf}:{step}/" if not xff else f"{cf}:{step}:xff{xff:g}/"
        outs.append(
            _agg_from_pts(pts, step, cf, xff=xff).select(
                F.concat(F.lit(prefix), F.col(NAME)).alias(NAME), T, VALUE
            )
        )
    return reduce(DataFrame.unionAll, outs)


_MULTI_CACHE: list[DataFrame] = []


def release_multi_cache() -> None:
    """Unpersist the shared pts relation(s) from prior
    consolidate_multi calls (safe to call any time; lazy re-use of an
    unpersisted frame just recomputes)."""
    while _MULTI_CACHE:
        _MULTI_CACHE.pop().unpersist()


def _partials() -> dict:
    """Per-slot aggregates over (v, dur) that every CF reads. Each one
    merges losslessly (sums add, min/max compose), so
    consolidate_salted can fold them in two phases (``_MERGE``)."""
    v = F.col("v")
    return {
        "num": F.sum(
            F.when(v.isNotNull(), micro6(v) * F.col("dur").cast("bigint"))
        ),
        "msum": F.sum(micro6(v)),
        "cnt": F.count(v),
        "vmin": F.min(v),
        "vmax": F.max(v),
        "known": F.sum(F.when(v.isNotNull(), F.col("dur")).otherwise(0.0)),
    }


_MERGE = {
    "num": F.sum, "msum": F.sum, "cnt": F.sum,
    "vmin": F.min, "vmax": F.max, "known": F.sum,
}


def _cf_value(cf: str, p: dict):
    """The CF table over ``_partials``-shaped aggregates (cf ≠ last)."""
    if cf == "wmean":
        return F.when(
            p["known"] > 0.0, p["num"].cast("double") / 1000000.0 / p["known"]
        )
    if cf == "avg":
        return F.when(
            p["cnt"] > 0, p["msum"].cast("double") / 1000000.0 / p["cnt"]
        )
    if cf == "sum":
        return p["msum"].cast("double") / 1000000.0
    if cf == "count":
        return p["cnt"].cast("double")
    return p["vmin"] if cf == "min" else p["vmax"]


def _agg_from_pts(
    pts: DataFrame, step: int, cf: str, xff: float = 0.0
) -> DataFrame:
    """Aggregation stage of consolidate() over a ``_durations``
    relation (name, t, v, dur). ``cf`` must be in CFS; ``xff`` NULLs a
    slot whose known-duration fraction is below it."""
    cf = cf.lower()
    if cf not in CFS:
        raise ValueError(f"unknown consolidation function: {cf}")
    p = pts.select(NAME, T, slot_end(step).alias("slot"), "v", "dur")
    # Deterministic sums accumulate micro6 BIGINT micro-units (exact,
    # order-free, codegen-friendly — see model.micro6 for the bound).
    # dur is an integral double by construction (epoch diffs; 1.0 for
    # a series head), so its BIGINT cast is exact in both engines.
    # WMEAN envelope: the per-slot Σ|v|·dur must stay under 9.2e12
    # (int64 / 1e6) — at dur-sum ≤ 86400 s/slot that's |v| < ~1e8,
    # comfortably covering metric gauges/rates; values beyond it
    # (e.g. raw nanosecond counters) should be scaled at ingest, and
    # an overflow is an ANSI fail-stop, never a silent wrong answer.
    parts = _partials()
    if cf == "last":
        # Deterministic "last": max value at the latest known t (ties on
        # t are real in point data; max(v) is the cross-engine tie-break).
        nn = p.where(F.col("v").isNotNull())
        wmax = Window.partitionBy(NAME, "slot")
        nn = nn.withColumn("tmax", F.max(T).over(wmax))
        agg = (
            nn.where(F.col(T) == F.col("tmax"))
            .groupBy(NAME, "slot")
            .agg(F.max("v").alias("cv"))
        )
        if xff > 0.0:
            # xff needs the full known-duration, not just the last row's
            full = p.groupBy(NAME, "slot").agg(parts["known"].alias("kf"))
            agg = agg.join(full, [NAME, "slot"]).withColumn(
                "cv",
                F.when(F.col("kf") / float(step) >= float(xff), F.col("cv")),
            )
        return agg.select(NAME, F.col("slot").alias(T), F.col("cv").alias(VALUE))
    val = _cf_value(cf, parts)
    if xff > 0.0:
        val = F.when(parts["known"] / float(step) >= float(xff), val)
    agg = p.groupBy(NAME, "slot").agg(val.alias("cv"))
    return agg.select(NAME, F.col("slot").alias(T), F.col("cv").alias(VALUE))


def oracle_consolidate_sql(
    base_sql: str,
    step: int,
    cf: str = "wmean",
    xff: float = 0.0,
    heartbeat: int | None = None,
) -> str:
    """DuckDB SQL equivalent of consolidate() over ``base_sql``
    (a SELECT producing name,t,value)."""
    hb = (
        f"CASE WHEN dur <= {heartbeat} THEN value END"
        if heartbeat is not None
        else "value"
    )
    slot = f"CAST(FLOOR((t - 1) / {step}) * {step} + {step} AS BIGINT)"
    inner = (
        "SELECT name, t, value, "
        "COALESCE(CAST(t - LAG(t) OVER (PARTITION BY name ORDER BY t) AS DOUBLE), 1.0) AS dur "
        f"FROM ({base_sql})"
    )
    pts = f"SELECT name, t, slot, {hb} AS v, dur FROM (SELECT *, {slot} AS slot FROM ({inner}))"
    if cf == "last":
        nn = f"SELECT * FROM ({pts}) WHERE v IS NOT NULL"
        wt = (
            f"SELECT name, slot, t, v, dur, "
            f"MAX(t) OVER (PARTITION BY name, slot) AS tmax FROM ({nn})"
        )
        sel = (
            f"SELECT name, slot AS t, MAX(v) AS value FROM ({wt}) "
            f"WHERE t = tmax GROUP BY name, slot"
        )
        if xff > 0.0:
            known_full = (
                f"SELECT name, slot, SUM(CASE WHEN v IS NOT NULL THEN dur ELSE 0.0 END) AS known_full "
                f"FROM ({pts}) GROUP BY name, slot"
            )
            sel = (
                f"SELECT l.name AS name, l.t AS t, "
                f"CASE WHEN k.known_full / {float(step)} >= {float(xff)} THEN l.value END AS value "
                f"FROM ({sel}) l JOIN ({known_full}) k ON l.name = k.name AND l.t = k.slot"
            )
        return sel

    known = "SUM(CASE WHEN v IS NOT NULL THEN dur ELSE 0.0 END)"
    # micro6 BIGINT accumulation mirrored from the Spark side: sum
    # micro-units exactly (HUGEINT here, int64 there), cast to double,
    # THEN divide — op-for-op the same IEEE sequence both engines.
    msum_v = "CAST(SUM(CAST(FLOOR((v) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0"
    if cf == "wmean":
        val = (
            f"CASE WHEN {known} > 0.0 THEN "
            "CAST(SUM(CASE WHEN v IS NOT NULL THEN CAST(FLOOR((v) * 1000000.0 + 0.5) AS BIGINT) * CAST(dur AS BIGINT) END) AS DOUBLE) "
            f"/ 1000000.0 / ({known}) END"
        )
    elif cf == "avg":
        val = f"CASE WHEN COUNT(v) > 0 THEN {msum_v} / COUNT(v) END"
    elif cf == "sum":
        val = msum_v
    elif cf == "min":
        val = "MIN(v)"
    elif cf == "max":
        val = "MAX(v)"
    elif cf == "count":
        val = "CAST(COUNT(v) AS DOUBLE)"
    else:
        raise ValueError(cf)
    xff_wrap = (
        f"CASE WHEN {known} / {float(step)} >= {float(xff)} THEN {val} END"
        if xff > 0.0
        else val
    )
    return (
        f"SELECT name, slot AS t, {xff_wrap} AS value FROM ({pts}) "
        f"GROUP BY name, slot"
    )


def consolidate_salted(
    sf: DataFrame,
    step: int,
    cf: str = "wmean",
    n_salts: int = 8,
    heartbeat: int | None = None,
) -> DataFrame:
    """The SCALE.md hot-series fix, as tested code: when ONE series is
    hotter than an executor partition, the single groupBy(name, slot)
    funnels it through one task. This variant salts the key with
    pmod(hash(t), k) — phase 1 aggregates (name, slot, salt) partial
    states, phase 2 merges k rows per slot — and is EXACTLY equal to
    consolidate() because every partial state merges losslessly:
    micro6 sums add, counts add, min/max compose, and WMEAN merges as
    (Σ num_i) / (Σ known_i). Only `last` is excluded (its max-t row
    selection needs no salting: the window already partitions by
    (name, slot)).

    The lag-duration pass is consolidate()'s own (``_durations``);
    durations are computed BEFORE salting, so slot semantics do not
    change."""
    cf = cf.lower()
    if cf not in CFS or cf == "last":
        raise ValueError(f"consolidate_salted does not support cf={cf!r}")
    pts = _durations(sf, heartbeat).select(
        F.col(NAME),
        slot_end(step).alias("slot"),
        "v",
        "dur",
        F.pmod(F.hash(F.col(T)), n_salts).alias("salt"),
    )
    # phase 1: per-salt partial states (micro-unit partial sums are
    # exact int64, so the two-phase merge is bit-equal to one groupBy)
    partial = pts.groupBy(NAME, "slot", "salt").agg(
        *[c.alias(k) for k, c in _partials().items()]
    )
    # phase 2: merge k partials per (name, slot)
    merged = {k: fold(k) for k, fold in _MERGE.items()}
    return (
        partial.groupBy(NAME, "slot")
        .agg(_cf_value(cf, merged).alias("cv"))
        .select(F.col(NAME), F.col("slot").alias(T), F.col("cv").alias(VALUE))
    )
