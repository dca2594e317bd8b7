"""Relational analytics spine (SURVEY §2.9): TPC-H-shaped queries on
the testdata star schema + event sessionization/funnel.

These exercise the join/agg machinery at bench scale and document the
100 TB join strategy: dimension tables (region/nation/supplier/
customer/part) are broadcast — lineitem/orders never shuffle for the
dim side; only the orders⋈lineitem fact join shuffles, on the
uniformly distributed order key. Aggregates use exact decimal sums
(order-independent) so results hash-match DuckDB.

Timestamps are bigint nanos (see session.py); date predicates compare
against epoch-second literals computed from the same ISO dates in
both engines.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import epoch_s, load_table
from .registry import register


def _epoch(date: str) -> int:
    return int(
        _dt.datetime.fromisoformat(date).replace(tzinfo=_dt.timezone.utc).timestamp()
    )


def _dec(c) -> F.Column:
    return c.cast("decimal(38,6)")


@register(
    "tpch_q1",
    sql="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE epoch_ns(l_shipdate) // 1000000000 <= {cut}
GROUP BY l_returnflag, l_linestatus
""".format(cut=_epoch("1998-09-02")),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(epoch_s("l_shipdate", li) <= _epoch("1998-09-02"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
        F.sum(_dec(disc)).cast("double").alias("sum_disc_price"),
        F.sum(_dec(charge)).cast("double").alias("sum_charge"),
        (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.count("*")).alias("avg_price"),
        (F.sum(_dec(F.col("l_discount"))).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "tpch_q3",
    sql="""
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
  epoch_ns(o_orderdate) // 1000000000 AS o_orderdate_s, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND epoch_ns(o_orderdate) // 1000000000 < {cut}
  AND epoch_ns(l_shipdate) // 1000000000 > {cut}
GROUP BY l_orderkey, epoch_ns(o_orderdate) // 1000000000, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""".format(cut=_epoch("1995-03-15")),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = _epoch("1995-03-15")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(epoch_s("o_orderdate", orders) < cut)
    li = load_table(spark, sf_dir, "lineitem")
    li = li.where(epoch_s("l_shipdate", li) > cut)
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy(
            "l_orderkey",
            epoch_s("o_orderdate", j).alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .agg(F.sum(_dec(rev)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate_s", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5",
    sql="""
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND epoch_ns(o_orderdate) // 1000000000 >= {lo}
  AND epoch_ns(o_orderdate) // 1000000000 < {hi}
GROUP BY n_name
""".format(lo=_epoch("1996-01-01"), hi=_epoch("1997-01-01")),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo, hi = _epoch("1996-01-01"), _epoch("1997-01-01")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(
        (epoch_s("o_orderdate", orders) >= lo)
        & (epoch_s("o_orderdate", orders) < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy("n_name").agg(F.sum(_dec(rev)).cast("double").alias("revenue"))


@register(
    "tpch_q6",
    sql="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE epoch_ns(l_shipdate) // 1000000000 >= {lo}
  AND epoch_ns(l_shipdate) // 1000000000 < {hi}
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""".format(lo=_epoch("1996-01-01"), hi=_epoch("1997-01-01")),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo, hi = _epoch("1996-01-01"), _epoch("1997-01-01")
    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(
        (epoch_s("l_shipdate", li) >= lo)
        & (epoch_s("l_shipdate", li) < hi)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("double")
        .alias("revenue")
    )


@register(
    "tpch_q4",
    sql="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE epoch_ns(o_orderdate) // 1000000000 >= {lo}
  AND epoch_ns(o_orderdate) // 1000000000 < {hi}
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND epoch_ns(l_shipdate) // 1000000000
          > epoch_ns(o_orderdate) // 1000000000 + {late}
  )
GROUP BY o_orderpriority
""".format(lo=_epoch("1996-07-01"), hi=_epoch("1996-10-01"), late=60 * 86400),
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped EXISTS semi-join: orders in a quarter with at least
    one lineitem shipped > 60 days after the order date, counted by
    priority. (The classic q4 commit/receipt columns are absent from
    the reduced testdata schema; the late-shipment predicate keeps the
    same correlated-EXISTS shape.) 100 TB: a shuffled LEFT SEMI join
    on the uniform order key — the date filter prunes the orders side
    at the scan, and the non-equi ship-date condition rides the join."""
    lo, hi = _epoch("1996-07-01"), _epoch("1996-10-01")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.where(
        (epoch_s("o_orderdate", orders) >= lo)
        & (epoch_s("o_orderdate", orders) < hi)
    ).select("o_orderkey", "o_orderpriority", epoch_s("o_orderdate", orders).alias("o_t"))
    li = load_table(spark, sf_dir, "lineitem")
    l = li.select("l_orderkey", epoch_s("l_shipdate", li).alias("l_t"))
    j = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_t") > F.col("o_t") + 60 * 86400),
        "left_semi",
    )
    return j.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "tpch_q12",
    sql="""
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE epoch_ns(l_shipdate) // 1000000000 >= {lo}
  AND epoch_ns(l_shipdate) // 1000000000 < {hi}
GROUP BY l_returnflag
""".format(lo=_epoch("1997-01-01"), hi=_epoch("1998-01-01")),
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped conditional aggregation: per return flag, how many
    1997 shipments belong to high- vs low-priority orders. (Shipmode
    is absent from the reduced schema; returnflag plays its role.)
    100 TB: one fact-fact shuffle join on the uniform order key, then
    map-side-combinable integer CASE sums — the canonical two-way
    pivot without a pivot operator. BIGINT casts on both sides keep
    DuckDB's HUGEINT SUM from hash-mismatching."""
    lo, hi = _epoch("1997-01-01"), _epoch("1998-01-01")
    li = load_table(spark, sf_dir, "lineitem")
    l = li.where(
        (epoch_s("l_shipdate", li) >= lo) & (epoch_s("l_shipdate", li) < hi)
    ).select("l_orderkey", "l_returnflag")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hi_pri = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = l.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(hi_pri, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~hi_pri, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


@register(
    "tpch_q14",
    sql="""
SELECT
  CAST(SUM(CASE WHEN p_type = 'PROMO'
       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
       ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) * 100.0
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
  AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE epoch_ns(l_shipdate) // 1000000000 >= {lo}
  AND epoch_ns(l_shipdate) // 1000000000 < {hi}
""".format(lo=_epoch("1997-09-01"), hi=_epoch("1997-10-01")),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promo-revenue share: the broadcast-dimension showcase — the
    part table rides to every lineitem partition, the month filter
    prunes the fact scan, and both branch sums are exact decimal so
    the ratio is cross-engine identical (numerator×100 before the
    divide, same order both sides)."""
    lo, hi = _epoch("1997-09-01"), _epoch("1997-10-01")
    li = load_table(spark, sf_dir, "lineitem")
    l = li.where((epoch_s("l_shipdate", li) >= lo) & (epoch_s("l_shipdate", li) < hi))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = l.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", _dec(rev)).otherwise(
        _dec(F.lit(0))
    )
    return j.agg(
        (
            F.sum(promo).cast("double") * 100.0
            / F.sum(_dec(rev)).cast("double")
        ).alias("promo_revenue")
    )


@register(
    "tpch_q10",
    sql="""
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
    AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE epoch_ns(o_orderdate) // 1000000000 >= {lo}
  AND epoch_ns(o_orderdate) // 1000000000 < {hi}
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""".format(lo=_epoch("1996-10-01"), hi=_epoch("1997-01-01")),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item report: top-20 customers by returned revenue
    in a quarter. Join strategy at 100 TB: nation AND customer
    broadcast (dims), orders⋈lineitem is the only fact shuffle (on
    the uniform order key, both sides date/flag-pruned at the scan),
    and the top-20 is a distributed TakeOrderedAndProject — never a
    global sort."""
    lo, hi = _epoch("1996-10-01"), _epoch("1997-01-01")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.where(
        (epoch_s("o_orderdate", orders) >= lo)
        & (epoch_s("o_orderdate", orders) < hi)
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_dec(rev)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "events_sessionize",
    sql="""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events
), marked AS (
  SELECT user_id, t,
    CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) > 1800
         OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM e
), sess AS (
  -- CAST: DuckDB promotes integer SUM to HUGEINT, which pandas fetch
  -- renders as float64 (5.0 vs Spark's bigint 5) -> hash mismatch.
  SELECT user_id, t,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, COUNT(*) AS n_events,
  MIN(t) AS session_start, MAX(t) - MIN(t) AS duration_s
FROM sess GROUP BY user_id, session_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): the canonical stateful
    event-stream op, done with two windows — no Python, one shuffle
    on user_id."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", epoch_s("ts", ev).alias("t"))
    w = Window.partitionBy("user_id").orderBy("t")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("t").over(w)
    new_s = F.when(prev.isNull() | (F.col("t") - prev > 1800), 1).otherwise(0)
    sess = e.withColumn("new_session", new_s).withColumn(
        "session_id", F.sum("new_session").over(run)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("t").alias("session_start"),
        (F.max("t") - F.min("t")).alias("duration_s"),
    )


_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS t FROM events
), stage1 AS (
  SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
), stage2 AS (
  SELECT e.user_id, MIN(t) AS t2 FROM e JOIN stage1 ON e.user_id = stage1.user_id
  WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id
), stage3 AS (
  SELECT e.user_id, MIN(t) AS t3 FROM e JOIN stage2 ON e.user_id = stage2.user_id
  WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id
)
SELECT
  (SELECT COUNT(*) FROM stage1) AS n_view,
  (SELECT COUNT(*) FROM stage2) AS n_view_click,
  (SELECT COUNT(*) FROM stage3) AS n_view_click_purchase
"""


def funnel_user_relation(ev: DataFrame) -> DataFrame:
    """(user_id, t1, t2, t3): per-user ordered funnel stage times —
    every aggregation keys on user_id, so a user's row depends ONLY on
    that user's events (per-key decomposable: the delta-refresh class
    of refresh.py's deployment rule). events_funnel =
    funnel_rollup over this."""
    e = ev.select("user_id", "event_type", epoch_s("ts", ev).alias("t"))
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        e.join(F.broadcast(s1), "user_id")
        .where((F.col("event_type") == "click") & (F.col("t") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.join(F.broadcast(s2), "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("t") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    # single distributed plan — no driver-side .count() round-trips
    return s1.join(s2, "user_id", "left").join(s3, "user_id", "left")


def funnel_rollup(urel: DataFrame) -> DataFrame:
    """The 3-count funnel panel from the per-user stage times (exact
    integer counts fold associatively across users)."""
    return urel.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_view_click_purchase"),
    )


@register("events_funnel", sql=_FUNNEL_SQL)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: per-stage min-time joins.
    Each stage is a semi-join on user_id (broadcastable: one row per
    user); see funnel_user_relation for the per-user decomposition."""
    return funnel_rollup(
        funnel_user_relation(load_table(spark, sf_dir, "events"))
    )


@register(
    "events_props_extract",
    sql="""
SELECT event_type,
  COUNT(*) AS n,
  -- outer CAST: SUM(BIGINT) still promotes to HUGEINT in DuckDB
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
GROUP BY event_type
""",
)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: JSON props parsed JVM-side
    (get_json_object — no Python), filtered and aggregated. The
    standard shape for event payloads at scale; the JSON path predicate
    stays in whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("*")).alias("avg_k"),
        )
    )


@register(
    "events_retention",
    sql="""
WITH e AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS w FROM events
), firsts AS (
  SELECT user_id, MIN(w) AS cohort_week FROM e GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, cohort_week, w - cohort_week AS week_offset
  FROM e JOIN firsts ON e.user_id = firsts.user_id
)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM activity GROUP BY cohort_week, week_offset
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week,
    counted per active week offset — the canonical product-analytics
    rollup. Two groupBys and a distinct, ALL keyed by user_id (or
    supersets of it), so at scale one hash partitioning by user_id
    serves every stage; the final (cohort, offset) agg is a tiny
    relation."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", (epoch_s("ts", ev) / 604800).cast("bigint").alias("w")
    )
    firsts = e.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("w") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


from .operators.sketch import histogram_quantiles, histogram_quantiles_sql  # noqa: E402


@register(
    "events_hist_quantiles",
    sql=histogram_quantiles_sql(
        "SELECT event_type, value FROM events", "event_type", "value"
    ),
)
def events_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram percentiles of event value per type — the
    sketch-based answer to percentiles over groups too big to sort
    (operators/sketch.py; the reference's sorted-sample timer stats
    at aggregator/aggregator.go scale only to flush-window groups)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return histogram_quantiles(ev, "event_type", "value")


from .operators.sketch import hll_distinct, hll_distinct_sql  # noqa: E402


@register(
    "events_hll_distinct",
    sql=hll_distinct_sql(
        "SELECT event_type, user_id FROM events", "event_type", "user_id"
    ),
)
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the deterministic HLL sketch
    (operators/sketch.py hll_distinct): 256 max-merged registers per
    group instead of shuffling every key — the COUNT(DISTINCT) scale
    path; the exact count rides along as the accuracy dial and the
    whole thing (string-algebra rho, sorted register fold, linear-
    counting branch) hash-matches the DuckDB twin."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_distinct(ev, "event_type", "user_id")


@register(
    "events_conversion_lag",
    sql=histogram_quantiles_sql(
        """
SELECT 'signup_purchase' AS grp, t2 - t1 AS lag_s FROM (
  WITH e AS (
    SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS t FROM events
  ), s1 AS (
    SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'signup'
    GROUP BY user_id
  ), s2 AS (
    SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
    WHERE event_type = 'purchase' AND t > t1 GROUP BY e.user_id
  )
  SELECT t1, t2 FROM s1 JOIN s2 ON s1.user_id = s2.user_id
)""",
        "grp",
        "lag_s",
        width=65536.0,
    ),
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the lag from first
    signup to the first purchase AFTER it, summarized as p50/p90/p99
    through the mergeable histogram sketch (width 2^16 s ≈ 18 h, so
    value/width stays exact double math). The composition is the
    point at 100 TB: the funnel stages are per-user min-aggregations
    (uniform key, broadcastable results) and the latency distribution
    never sorts raw lags — bin counts merge map-side exactly like
    every other sketch in the family."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", epoch_s("ts", ev).alias("t"))
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        e.join(F.broadcast(s1), "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("t") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    lags = s1.join(s2, "user_id").select(
        F.lit("signup_purchase").alias("grp"),
        (F.col("t2") - F.col("t1")).alias("lag_s"),
    )
    return histogram_quantiles(lags, "grp", "lag_s", width=65536.0)


from .operators.sketch import cms_heavy_hitters, cms_heavy_hitters_sql  # noqa: E402


@register(
    "events_cms_heavy_hitters",
    sql=cms_heavy_hitters_sql("SELECT user_id FROM events", "user_id"),
)
def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most active users by count-min-estimated event count —
    the third mergeable sketch (histogram +, HLL max, CMS +) applied
    to the classic heavy-hitters question. The 4x256 counter relation
    replaces shuffling raw keys when the key space is huge; est >=
    exact always (collisions only inflate), and the exact count rides
    along as the accuracy dial. Deterministic md5 cells hash-match the
    DuckDB twin (operators/sketch.py cms_heavy_hitters)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return cms_heavy_hitters(ev, "user_id", topk=20)


from .operators.sketch import (  # noqa: E402
    bloom_membership,
    bloom_membership_sql,
    bloom_sketch,
)

# deterministic probe set: low ids overlap real users (present mix
# varies per event_type — a user active in one type is a natural
# absent probe for another), the 1e6 block is never present (the
# false-positive dial)
_BLOOM_PROBES_SQL = (
    "SELECT g, probe FROM "
    "(SELECT DISTINCT event_type AS g FROM events) "
    "CROSS JOIN (SELECT range AS probe FROM range(0, 200) "
    "UNION ALL SELECT range FROM range(1000000, 1000100))"
)


@register(
    "events_bloom_membership",
    sql=bloom_membership_sql(
        "SELECT event_type, user_id FROM events",
        "event_type",
        "user_id",
        _BLOOM_PROBES_SQL,
    ),
)
def events_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Bloom filter over user_id probed by a fixed id
    set — the FOURTH mergeable sketch (histogram +, HLL max, CMS +,
    Bloom OR; OR is also idempotent, so at-least-once replays are
    free). 'Has this user triggered this event type?' in 128 int64
    words per group with no key retention; no false negatives ever
    (structural), false positives MEASURED beside the exact answer,
    not asserted. Deterministic md5 bit positions hash-match the
    DuckDB twin (operators/sketch.py bloom_membership)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = bloom_sketch(ev, "event_type", "user_id")
    probes, exact = _bloom_probes_and_exact(spark, ev)
    return bloom_membership(sk, probes, exact)


def _bloom_probes_and_exact(spark, ev):
    """(probes, exact) relations matching _BLOOM_PROBES_SQL: probe ids
    0..199 + the never-present 1e6 block, crossed with the (tiny,
    broadcast) distinct group set — a BroadcastNestedLoopJoin over
    ~300×5 rows, never a CartesianProduct over data-sized inputs."""
    groups = ev.select(F.col("event_type").alias("g")).distinct()
    ids = spark.range(0, 200).union(spark.range(1000000, 1000100))
    probes = ids.select(F.col("id").cast("string").alias("probe")).crossJoin(
        F.broadcast(groups)
    ).select("g", "probe")
    exact = ev.select(
        F.col("event_type").alias("g"),
        F.col("user_id").cast("string").alias("probe"),
    ).distinct()
    return probes, exact


_ASOF_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ns(ts) // 1000000000 AS t FROM events
), p AS (
  SELECT user_id, event_id AS purchase_id, t FROM e
  WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, t, arg_max(value, event_id) AS click_value FROM e
  WHERE event_type = 'click' GROUP BY user_id, t
)
SELECT p.user_id, purchase_id, p.t AS purchase_t,
  CAST(c.t AS DOUBLE) AS click_t, c.click_value,
  CAST(p.t - c.t AS DOUBLE) AS gap_s
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.t >= c.t
"""


@register("events_asof_join", sql=_ASOF_JOIN_SQL)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases enriched with each user's latest at-or-before click —
    the backward as-of join (operators/asof.py): union + one per-key
    window instead of a per-key-quadratic range join; inclusive-tie
    semantics hash-checked against DuckDB's NATIVE `ASOF LEFT JOIN`.
    Clicks pre-aggregate to one row per (user, t) with max_by on the
    unique event_id so the tie order is engine-independent."""
    from .operators.asof import asof_backward

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", "event_type", "value",
        epoch_s("ts", ev).alias("t"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "t"
    )
    c = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "t")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    out = asof_backward(p, c, "user_id", "t", ["purchase_id"], ["click_value"])
    return out.select(
        "user_id",
        "purchase_id",
        F.col("t").alias("purchase_t"),
        # doubles, not nullable bigints: a NULLable int column comes
        # back float64 from DuckDB's pandas fetch, and the gate is
        # deliberately type-sensitive (round-2 lesson in check_oracle)
        F.col("r_t").cast("double").alias("click_t"),
        F.col("r_click_value").alias("click_value"),
        (F.col("t") - F.col("r_t")).cast("double").alias("gap_s"),
    )


_CUBE_SQL = """
WITH e AS (
  SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day,
         CAST(value AS DOUBLE) AS v FROM events
)
SELECT COALESCE(event_type, '<all>') AS event_type,
  COALESCE(day, -1) AS day,
  CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid,
  CAST(COUNT(v) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
    / 1000000.0 / COUNT(v) AS avg_v
FROM e GROUP BY CUBE (event_type, day)
"""


@register("events_rollup_cube", sql=_CUBE_SQL)
def events_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over (event_type, day): every grouping-set combination
    — per-cell, per-type, per-day, and grand total — in ONE aggregation
    pass with grouping_id disambiguating real NULL keys from rolled-up
    ones (the classic dashboard materialization; Spark expands the
    sets in a single Expand+partial-agg, no 4× re-scan). micro6 means
    keep every level hash-identical to the DuckDB CUBE."""
    from .model import micro6

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (epoch_s("ts", ev) / 86400).cast("bigint").alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    g = e.cube("event_type", "day").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("v").cast("bigint").alias("n"),
        (
            F.sum(micro6(F.col("v"))).cast("double") / 1000000.0 / F.count("v")
        ).alias("avg_v"),
    )
    return g.select(
        F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
        F.coalesce("day", F.lit(-1)).alias("day"),
        "gid",
        "n",
        "avg_v",
    )


_FEATURES_SQL = """
WITH e AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v,
         epoch_ns(ts) // 1000000000 AS t FROM events
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(MAX(t) - MIN(t) AS BIGINT) AS lifetime_s,
  CAST(SUM(CASE WHEN event_type = 'purchase'
       THEN CAST(FLOOR(v * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
    / 1000000.0 AS purchase_value,
  CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
       THEN CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) END
    AS purchase_per_click
FROM e GROUP BY user_id
"""


@register("events_feature_matrix", sql=_FEATURES_SQL)
def events_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ML feature matrix in ONE pass: typed count pivots
    (conditional sums combine map-side — no N-pass pivot), lifetime
    span, micro6 purchase value, guarded ratio features. The feature-
    engineering stage between the event log and a trainer; every
    column exact or deterministically derived, so the whole matrix
    hash-matches."""
    from .model import micro6

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type",
        F.col("value").cast("double").alias("v"),
        epoch_s("ts", ev).alias("t"),
    )

    def cnt(t):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))

    g = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        cnt("click").cast("bigint").alias("n_click"),
        cnt("purchase").cast("bigint").alias("n_purchase"),
        cnt("error").cast("bigint").alias("n_error"),
        (F.max("t") - F.min("t")).cast("bigint").alias("lifetime_s"),
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", micro6(F.col("v"))
                ).otherwise(F.lit(0))
            ).cast("double")
            / 1000000.0
        ).alias("purchase_value"),
    )
    return g.withColumn(
        "purchase_per_click",
        F.when(
            F.col("n_click") > 0,
            F.col("n_purchase").cast("double") / F.col("n_click"),
        ),
    )


_TRANSITIONS_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS t, event_id
  FROM events
), s AS (
  SELECT user_id, event_type,
    LAG(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
      AS prev_type
  FROM e
), c AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n FROM s
  WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
), tot AS (
  SELECT prev_type, SUM(n) AS tot FROM c GROUP BY prev_type
)
SELECT c.prev_type, next_type, CAST(n AS BIGINT) AS n,
  CAST(n AS DOUBLE) / tot AS p
FROM c JOIN tot ON c.prev_type = tot.prev_type
"""


_MARKOV_PATHS_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS t, event_id
  FROM events
), s AS (
  SELECT event_type AS step1,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
      AS step2,
    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY t, event_id)
      AS step3
  FROM e
), c AS (
  SELECT step1, step2, step3, COUNT(*) AS n FROM s
  WHERE step2 IS NOT NULL AND step3 IS NOT NULL
  GROUP BY step1, step2, step3
), tot AS (SELECT SUM(n) AS tot FROM c)
SELECT step1, step2, step3, CAST(n AS BIGINT) AS n,
  CAST(n AS DOUBLE) / tot AS share
FROM c CROSS JOIN tot
ORDER BY n DESC, step1, step2, step3 LIMIT 25
"""


@register("events_markov_paths", sql=_MARKOV_PATHS_SQL)
def events_markov_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order behavior model: the top-25 event-type TRIGRAM
    paths with corpus share — the path-analysis step up from
    events_transitions' bigram matrix ('what three-step journeys
    dominate?'). Two lead()s share ONE per-user window ordered by
    (t, event_id) (the unique id breaks same-second ties identically
    in both engines), the path groupBy map-side combines (≤
    |event_types|³ keys), the total re-enters as a one-row broadcast,
    and the top-k is TakeOrderedAndProject with full-path tie-break."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", epoch_s("ts", ev).alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    s = e.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type").over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    c = (
        s.where(F.col("step2").isNotNull() & F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count("*").alias("n"))
    )
    tot = c.agg(F.sum("n").alias("tot"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "step1",
            "step2",
            "step3",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n").cast("double") / F.col("tot")).alias("share"),
        )
        .orderBy(
            F.col("n").desc(), "step1", "step2", "step3"
        )
        .limit(25)
    )


@register("events_transitions", sql=_TRANSITIONS_SQL)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: the event-type transition matrix
    (prev → next counts and probabilities) — one lag() per user
    ordered by (t, event_id) (the unique id breaks same-second ties
    identically in both engines), one groupBy of the pair, row
    totals re-entering co-keyed. The 'what do users do after X?'
    relation that drives funnel design."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", epoch_s("ts", ev).alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    s = e.withColumn("prev_type", F.lag("event_type").over(w))
    c = (
        s.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = c.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return c.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("tot")).alias("p"),
    )


_ATTRIB_LOOKBACK = 259_200  # 3 days; events span ~30


_ATTRIBUTION_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS t, event_id,
         printf('%019d|%019d', epoch_ns(ts) // 1000000000, event_id) AS k
  FROM events
), nx AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN k END) OVER (
    PARTITION BY user_id ORDER BY t, event_id
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv_k
  FROM e
), tch AS (
  SELECT user_id, event_type, k, conv_k FROM nx
  WHERE event_type <> 'purchase' AND conv_k IS NOT NULL
    AND CAST(substr(conv_k, 1, 19) AS BIGINT) - t <= {_ATTRIB_LOOKBACK}
), marked AS (
  SELECT event_type,
         k = MIN(k) OVER (PARTITION BY user_id, conv_k) AS is_first,
         k = MAX(k) OVER (PARTITION BY user_id, conv_k) AS is_last,
         COUNT(*) OVER (PARTITION BY user_id, conv_k) AS n_touches
  FROM tch
)
SELECT event_type AS channel,
  CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
  CAST(SUM(CASE WHEN is_last THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
  CAST(SUM(CAST(FLOOR(1.0 / n_touches * 1000000.0 + 0.5) AS BIGINT))
       AS DOUBLE) / 1000000.0 AS linear_credit
FROM marked GROUP BY event_type
"""


@register("events_attribution", sql=_ATTRIBUTION_SQL)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attribution_relation over the events table — see below."""
    return attribution_relation(load_table(spark, sf_dir, "events"))


def attribution_user_relation(ev: DataFrame) -> DataFrame:
    """Per-user half of multi-touch attribution (round 10 split):
    (user_id, channel, n_first, n_last, lin6) — every window below is
    partitioned by user_id, so a user's rows depend ONLY on that
    user's events; that per-key decomposability is what the streaming
    delta refresh exploits (recompute just the users a micro-batch
    touches). attribution_relation = attribution_rollup over this.

    Multi-touch attribution: per channel (event_type),
    credit under the three standard models at once — first-touch,
    last-touch, and linear — for every purchase conversion, counting
    the user's non-purchase touches inside a 3-day lookback.

    The scale-critical choice: touches attach to their NEXT
    conversion via a running forward MIN window (the zero-padded
    '(t|event_id)' string key — lexicographic min = composite numeric
    min, the md5-hex trick on timestamps), NOT a (user, range) join
    of touches × conversions — each touch credits exactly one
    conversion, the relation stays linear in events, and there is no
    range-join blowup when a user has many conversions. first/last
    flags and touch counts ride windows partitioned by
    (user_id, conversion) — group sizes are per-conversion touch
    counts, never corpus-scale. Determinism: the composite key breaks
    same-second ties by event_id in both engines; linear credits
    quantize each 1/n to micro6 BIGINT before the order-free sum."""
    from pyspark.sql import Window

    key = F.format_string("%019d|%019d", epoch_s("ts", ev), F.col("event_id"))
    e = ev.select(
        "user_id",
        "event_type",
        epoch_s("ts", ev).alias("t"),
        "event_id",
        key.alias("k"),
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nx = e.withColumn(
        "conv_k",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("k"))
        ).over(w_fwd),
    )
    tch = nx.where(
        (F.col("event_type") != "purchase")
        & F.col("conv_k").isNotNull()
        & (
            F.substring("conv_k", 1, 19).cast("bigint") - F.col("t")
            <= _ATTRIB_LOOKBACK
        )
    ).select("user_id", "event_type", "k", "conv_k")
    w_conv = Window.partitionBy("user_id", "conv_k")
    marked = tch.select(
        "user_id",
        "event_type",
        (F.col("k") == F.min("k").over(w_conv)).alias("is_first"),
        (F.col("k") == F.max("k").over(w_conv)).alias("is_last"),
        F.count("*").over(w_conv).alias("n_touches"),
    )
    lin6 = F.floor(1.0 / F.col("n_touches") * 1000000.0 + F.lit(0.5)).cast(
        "bigint"
    )
    return marked.groupBy("user_id", F.col("event_type").alias("channel")).agg(
        F.sum(F.col("is_first").cast("int")).cast("bigint").alias("n_first"),
        F.sum(F.col("is_last").cast("int")).cast("bigint").alias("n_last"),
        F.sum(lin6).cast("bigint").alias("lin6"),
    )


def attribution_rollup(urel: DataFrame) -> DataFrame:
    """Channel relation from the per-user relation: exact-integer
    partial sums fold associatively, so rollup(user_relation) ≡ the
    one-shot channel aggregate — the algebra the per-user delta
    refresh (streaming/refresh.py) publishes through."""
    return urel.groupBy("channel").agg(
        F.sum("n_first").cast("bigint").alias("n_first"),
        F.sum("n_last").cast("bigint").alias("n_last"),
        (F.sum("lin6").cast("double") / 1000000.0).alias("linear_credit"),
    )


def attribution_relation(ev: DataFrame) -> DataFrame:
    """Channel-level multi-touch attribution — the registered/oracled
    relation (see attribution_user_relation for the algorithm and the
    per-user decomposition)."""
    return attribution_rollup(attribution_user_relation(ev))


_RFM_SQL = """
WITH p AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS t,
         CAST(FLOOR(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v6
  FROM events WHERE event_type = 'purchase'
), u AS (
  SELECT user_id, MAX(t) AS last_t, COUNT(*) AS frequency,
         SUM(v6) AS m6
  FROM p GROUP BY user_id
), mx AS (SELECT MAX(t) AS max_t FROM p),
r AS (
  SELECT user_id, max_t - last_t AS recency_s, frequency, m6
  FROM u CROSS JOIN mx
), tot AS (
  SELECT COUNT(*) AS n_users, SUM(recency_s) AS tot_r,
         SUM(frequency) AS tot_f, SUM(m6) AS tot_m
  FROM r
)
SELECT user_id, CAST(recency_s AS BIGINT) AS recency_s,
  CAST(frequency AS BIGINT) AS frequency,
  CAST(m6 AS DOUBLE) / 1000000.0 AS monetary,
  (CASE WHEN CAST(recency_s AS HUGEINT) * n_users <= tot_r THEN 'H' ELSE 'L' END)
  || (CASE WHEN CAST(frequency AS HUGEINT) * n_users >= tot_f THEN 'H' ELSE 'L' END)
  || (CASE WHEN CAST(m6 AS HUGEINT) * n_users >= tot_m THEN 'H' ELSE 'L' END)
  AS segment
FROM r CROSS JOIN tot
"""


@register("events_rfm", sql=_RFM_SQL)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rfm_relation over the events table — see below."""
    return rfm_relation(load_table(spark, sf_dir, "events"))


def rfm_relation(ev: DataFrame) -> DataFrame:
    """RFM segmentation (round 9): per purchasing user, recency (s
    since last purchase, against the corpus max), frequency, monetary
    (micro6-exact value sum) — plus the 8-way H/L segment against the
    corpus MEANS. The classic retention/churn relation every events
    warehouse derives.

    The deliberate scale choice: no quintile ntile() — that is a
    GLOBAL SORT window over every user (the exact smell plan_audit
    exists to catch). Mean-split segments replace it with exact
    integer algebra: x >= mean(x) tested as x·n_users >= Σx (both
    sides exact — recency/frequency integers, money in micro6; Spark
    DECIMAL(38,0) vs DuckDB HUGEINT), so no double mean, no division,
    no tie ambiguity. One groupBy on user_id; the corpus max and the
    three totals re-enter as one-row broadcasts."""
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        epoch_s("ts", ev).alias("t"),
        F.floor(F.col("value").cast("double") * 1000000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("v6"),
    )
    u = p.groupBy("user_id").agg(
        F.max("t").alias("last_t"),
        F.count("*").alias("frequency"),
        F.sum("v6").alias("m6"),
    )
    mx = p.agg(F.max("t").alias("max_t"))
    r = u.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("max_t") - F.col("last_t")).alias("recency_s"),
        "frequency",
        "m6",
    )
    tot = r.agg(
        F.count("*").alias("n_users"),
        F.sum("recency_s").alias("tot_r"),
        F.sum("frequency").alias("tot_f"),
        F.sum("m6").alias("tot_m"),
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    seg = F.concat(
        F.when(d("recency_s") * d("n_users") <= d("tot_r"), "H").otherwise("L"),
        F.when(d("frequency") * d("n_users") >= d("tot_f"), "H").otherwise("L"),
        F.when(d("m6") * d("n_users") >= d("tot_m"), "H").otherwise("L"),
    )
    return r.crossJoin(F.broadcast(tot)).select(
        "user_id",
        F.col("recency_s").cast("bigint").alias("recency_s"),
        F.col("frequency").cast("bigint").alias("frequency"),
        (F.col("m6").cast("double") / 1000000.0).alias("monetary"),
        seg.alias("segment"),
    )


_DAU_WAU_SQL = """
WITH du AS (
  SELECT DISTINCT (epoch_ns(ts) // 1000000000) // 86400 AS day, user_id
  FROM events
), dau AS (
  SELECT day, COUNT(*) AS dau FROM du GROUP BY day
), contrib AS (
  SELECT DISTINCT UNNEST(range(day, day + 7)) AS wday, user_id FROM du
), wau AS (
  SELECT wday AS day, COUNT(*) AS wau FROM contrib GROUP BY wday
)
SELECT CAST(day AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
  CAST(wau AS BIGINT) AS wau,
  CAST(dau AS DOUBLE) / wau AS stickiness
FROM dau JOIN wau USING (day)
"""


@register("events_dau_wau", sql=_DAU_WAU_SQL)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day (round 9) — the
    engagement panel every product warehouse charts; stickiness
    (DAU/WAU, Facebook's classic ratio) says whether activity is
    habitual or drive-by.

    The scale move: NO range join and NO windowed COUNT DISTINCT —
    each distinct (day, user) row contributes itself to the 7 trailing
    windows it belongs to via a literal-bounded sequence explode
    (fan-out exactly 7), then ONE dedup + count per window day. Both
    groupBys are day-keyed (map-side combined, day domain = corpus
    timespan); day ids are exact integer floor division of the epoch.
    Output rows only for OBSERVED days (inner join to dau), so
    trailing windows past the last activity don't invent days."""
    ev = load_table(spark, sf_dir, "events")
    e = epoch_s("ts", ev)
    day = ((e - e % 86400) / 86400).cast("bigint")
    du = ev.select(day.alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    contrib = du.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("wday"),
        "user_id",
    ).distinct()
    wau = contrib.groupBy(F.col("wday").alias("day")).agg(
        F.count("*").cast("bigint").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


_LTV_SQL = """
WITH p AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS week,
         CAST(FLOOR(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v6
  FROM events WHERE event_type = 'purchase'
), f AS (
  SELECT user_id, MIN(week) AS cohort FROM p GROUP BY user_id
), s AS (
  SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY cohort
), r AS (
  SELECT f.cohort, p.week - f.cohort AS off, SUM(v6) AS rev6
  FROM p JOIN f USING (user_id) GROUP BY 1, 2
), c AS (
  SELECT cohort, off, rev6,
         SUM(rev6) OVER (PARTITION BY cohort ORDER BY off
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum6
  FROM r
)
SELECT CAST(cohort AS BIGINT) AS cohort_week,
       CAST(off AS BIGINT) AS week_offset,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       CAST(rev6 AS DOUBLE) / 1000000.0 AS revenue,
       CAST(cum6 AS DOUBLE) / 1000000.0 AS cum_revenue,
       (CAST(cum6 AS DOUBLE) / 1000000.0) / cohort_size AS ltv_per_user
FROM c JOIN s USING (cohort)
"""


@register("events_cohort_ltv", sql=_LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle (round 10): purchasers cohorted
    by FIRST-purchase week; each (cohort, week_offset) cell reports
    that week's revenue, the running cumulative, and LTV per cohort
    user — the panel that turns events_retention's activity counts
    into money, and the one every payback-period model reads.

    Scale: linear in purchase events — per-user MIN for the cohort,
    one user-co-keyed join back, a (cohort × offset)-domain groupBy,
    and the cumulative as a window PARTITIONED BY COHORT ordered by
    offset (group size = a cohort's observed offsets, never
    corpus-scale). Money accumulates micro6 BIGINTs end-to-end — the
    running sum is an INT window sum, so both engines agree regardless
    of their float-window implementation; doubles appear only at the
    final /1e6 casts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = epoch_s("ts", ev)
    week = ((e - e % 604800) / 604800).cast("bigint")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        week.alias("week"),
        F.floor(F.col("value").cast("double") * 1000000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("v6"),
    )
    f = p.groupBy("user_id").agg(F.min("week").alias("cohort"))
    s = f.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    r = (
        p.join(f, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("off"))
        .agg(F.sum("v6").alias("rev6"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = r.withColumn("cum6", F.sum("rev6").over(w))
    return c.join(s, "cohort").select(
        F.col("cohort").cast("bigint").alias("cohort_week"),
        F.col("off").cast("bigint").alias("week_offset"),
        "cohort_size",
        (F.col("rev6").cast("double") / 1000000.0).alias("revenue"),
        (F.col("cum6").cast("double") / 1000000.0).alias("cum_revenue"),
        (
            (F.col("cum6").cast("double") / 1000000.0) / F.col("cohort_size")
        ).alias("ltv_per_user"),
    )


_ACTIVITY_HIST_SQL = """
WITH u AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
), b AS (
  SELECT CAST(FLOOR(LOG2(n_events)) AS BIGINT) AS bucket,
         n_events
  FROM u
), tot AS (SELECT COUNT(*) AS all_users, SUM(n_events) AS all_events FROM u)
SELECT bucket,
       CAST(POW(2, bucket) AS BIGINT) AS min_events,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS DOUBLE) / all_users AS user_share,
       CAST(SUM(n_events) AS DOUBLE) / all_events AS event_share
FROM b CROSS JOIN tot GROUP BY bucket, all_users, all_events
"""


@register("events_activity_histogram", sql=_ACTIVITY_HIST_SQL)
def events_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale-curve activity histogram (round 10): users bucketed by
    floor(log2(events)) with user/event shares per bucket — the
    power-law panel behind "1% of users generate 40% of events",
    WITHOUT the global sort a decile/ntile formulation needs: log2
    buckets are computed in-row, so the plan is one user groupBy plus
    one ≤~40-key bucket groupBy (both map-combined) and a one-row
    totals broadcast. Bucket ids by exact integer algebra — n_events
    is a positive bigint, and floor(log2(n)) over the bigint domain is
    exactly the bit length minus one in BOTH engines for every n <
    2^47 (log2 of an exactly-representable int is exact or lands
    strictly inside the unit interval — no tie to round); shares
    divide exact integers."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    b = u.select(
        F.floor(F.log2("n_events")).cast("bigint").alias("bucket"),
        "n_events",
    )
    tot = u.agg(
        F.count("*").alias("all_users"), F.sum("n_events").alias("all_events")
    )
    g = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("min_events"),
        "n_users",
        "n_events",
        (F.col("n_users").cast("double") / F.col("all_users")).alias(
            "user_share"
        ),
        (F.col("n_events").cast("double") / F.col("all_events")).alias(
            "event_share"
        ),
    )


_MARKOV_SQL = """
WITH ordered AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
trans AS (
  SELECT src, dst, COUNT(*) AS n FROM ordered
  WHERE dst IS NOT NULL GROUP BY src, dst
),
rowtot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY src),
p1 AS (
  SELECT trans.src, trans.dst,
         n, CAST(n AS DOUBLE) / tot AS p1
  FROM trans JOIN rowtot ON trans.src = rowtot.src
),
p2 AS (
  SELECT a.src, b.dst,
         CAST(SUM(CAST(FLOOR((a.p1 * b.p1) * 1000000.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 1000000.0 AS p2
  FROM p1 a JOIN p1 b ON a.dst = b.src
  GROUP BY a.src, b.dst
),
types AS (SELECT DISTINCT event_type AS t FROM events)
SELECT s.t AS src_type, d.t AS dst_type,
       CAST(COALESCE(n, 0) AS BIGINT) AS n,
       COALESCE(p1.p1, 0.0) AS p1,
       COALESCE(p2.p2, 0.0) AS p2
FROM types s CROSS JOIN types d
LEFT JOIN p1 ON p1.src = s.t AND p1.dst = d.t
LEFT JOIN p2 ON p2.src = s.t AND p2.dst = d.t
"""


@register("events_markov_chain", sql=_MARKOV_SQL)
def events_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov chain (round 11): the event-type transition
    matrix — per user, consecutive events (ordered by ts with the
    unique event_id as the deterministic tie-break) yield (src, dst)
    counts; p1 row-normalizes them, and p2 is the COMPOSED two-step
    transition (Σ_mid p1·p1 — the unrolled chain power, same
    fixed-iteration discipline as pagerank2/lloyd2), emitted over the
    full type×type grid so absorbing gaps read as explicit zeros. The
    journey-structure panel next to events_funnel's fixed 3-stage
    view: the funnel asks "did view→click→purchase happen", the chain
    reports where EVERY step actually goes (e.g. how much traffic
    error kicks back to view).

    Scale: one user-co-keyed lead() window over events (sessionize's
    audited shape); everything after lives on the TYPE domain (≤
    |types|² rows — constants, not data-sized); the 2-step sum
    quantizes micro6 before the ≤|types|-term groupBy per the
    bounded-group rule; the grid is a broadcast nested-loop of two
    tiny type relations, never a corpus cartesian. Exact-integer p1;
    all divisions guarded by construction (rowtot ≥ n ≥ 1)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    trans = (
        ordered.where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rowtot = trans.groupBy("src").agg(F.sum("n").alias("tot"))
    p1 = trans.join(rowtot, "src").select(
        "src", "dst", "n", (F.col("n").cast("double") / F.col("tot")).alias("p1")
    )
    a = p1.select(F.col("src"), F.col("dst").alias("mid"), F.col("p1").alias("pa"))
    b = p1.select(F.col("src").alias("mid"), F.col("dst"), F.col("p1").alias("pb"))
    p2 = (
        a.join(b, "mid")
        .groupBy("src", "dst")
        .agg(
            (
                F.sum(
                    F.floor(
                        (F.col("pa") * F.col("pb")) * 1000000.0 + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / 1000000.0
            ).alias("p2")
        )
    )
    types = ev.select(F.col("event_type").alias("t")).distinct()
    grid = types.select(F.col("t").alias("src_type")).crossJoin(
        F.broadcast(types.select(F.col("t").alias("dst_type")))
    )
    return (
        grid.join(
            p1.select(
                F.col("src").alias("src_type"),
                F.col("dst").alias("dst_type"),
                "n",
                "p1",
            ),
            ["src_type", "dst_type"],
            "left",
        )
        .join(
            p2.select(
                F.col("src").alias("src_type"),
                F.col("dst").alias("dst_type"),
                "p2",
            ),
            ["src_type", "dst_type"],
            "left",
        )
        .select(
            "src_type",
            "dst_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.coalesce("p1", F.lit(0.0)).alias("p1"),
            F.coalesce("p2", F.lit(0.0)).alias("p2"),
        )
    )
