"""Relational operator registry (SURVEY.md §2B rows: projection/filter,
joins, aggregations, windows, sort/limit, set ops, scalar functions,
subqueries, pivot). Each entry = Spark DataFrame plan + DuckDB oracle SQL.

Plans are written declaratively so Catalyst owns the physical strategy:
filters/projections push into the parquet scan, small sides broadcast,
AQE re-plans skew. Explicit hints appear only where they document intent
(broadcast dims, merge for large-large).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (
    davg,
    dcharge,
    drev,
    dsum,
    dsum_dec,
    sql_charge,
    sql_davg,
    sql_dsum,
    sql_dsum_dec,
    sql_rev,
)
from ..operators.asof import (
    asof_join,
    asof_join_forward,
    asof_join_nearest,
    asof_join_tolerance,
)
from ..schemas import load_table
from .spec import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Headline analytical queries (TPC-H-shaped)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy group-by with 8 aggregates. One shuffle;
    partial aggregation collapses to 4 groups map-side."""
    li = _t(spark, sf_dir, "lineitem")
    # Products computed IN decimal (operands cast first): a double product
    # cast to decimal rounds differently in Spark vs DuckDB on .xxxx5
    # boundaries and the grouped sum drifts (round-1 sum_charge failure).
    disc_price = drev()
    charge = dcharge()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_dec(disc_price).alias("sum_disc_price"),
            dsum_dec(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum_dec(sql_rev())} AS sum_disc_price,
       {sql_dsum_dec(sql_charge())} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + top-10. The customer filter
    shrinks that side enough to broadcast; lineitem⋈orders is the real
    shuffle. Deterministic top-k: (revenue desc, orderkey asc)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("date")
    )
    revenue = drev()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum_dec(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {sql_dsum_dec(sql_rev())} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-03-15'
  AND l_shipdate  > DATE '1996-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. region/nation/supplier broadcast
    (tiny dims); customer⋈orders⋈lineitem shuffle on the fact keys.
    The c_nationkey = s_nationkey condition makes it a genuine multi-way
    constraint, not a chain."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = drev()
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_dec(revenue).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name, {sql_dsum_dec(sql_rev())} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Projection / filter
# --------------------------------------------------------------------------

def filter_project_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushed to the scan (ReadSchema carries only
    4 columns); includes a null-safe inequality (reference A3 semantics:
    null must be KEPT by a != filter)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45)
        & (F.coalesce(F.col("l_returnflag"), F.lit("")) != "A")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        drev().cast("double").alias("net_price"),
    )


FILTER_PROJECT_SQL = f"""
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST({sql_rev()} AS DOUBLE) AS net_price
FROM lineitem
WHERE l_quantity > 45 AND COALESCE(l_returnflag, '') <> 'A'
"""


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): no shuffle of the fact side at all — the
    idiomatic replacement for the reference's driver-dict lookup (A7)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
    )


JOIN_BROADCAST_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi-join, explicitly hinted MERGE: both sides shuffle
    on the key once; at scale this is the shape that must avoid a
    broadcast OOM. Co-partitioning (bucketing) would drop the shuffle
    entirely when both tables are bucketed by orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").hint("merge")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


JOIN_SORT_MERGE_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n_lineitems,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders; aggregates
    with coalesce over the null side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


JOIN_LEFT_OUTER_SQL = f"""
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       COALESCE({sql_dsum('o_totalprice')}, 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations vs the nations of high-balance suppliers —
    both unmatched sides survive with nulls."""
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rich_suppliers"))
    )
    return (
        nation.join(supp, nation.n_nationkey == supp.s_nationkey, "full")
        .select(
            "n_nationkey",
            "n_name",
            "s_nationkey",
            F.coalesce("n_rich_suppliers", F.lit(0).cast("long")).alias("n_rich_suppliers"),
        )
    )


JOIN_FULL_OUTER_SQL = """
SELECT n_nationkey, n_name, s_nationkey,
       COALESCE(n_rich_suppliers, 0) AS n_rich_suppliers
FROM nation
FULL OUTER JOIN (
    SELECT s_nationkey, COUNT(*) AS n_rich_suppliers
    FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey
) s ON n_nationkey = s_nationkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS): customers with at least one urgent order,
    counted per nation. Semi joins shuffle only keys — no payload."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


JOIN_SEMI_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti (NOT EXISTS): parts with no shipment in 2001, per brand.
    (Unfiltered "never sold" is vacuously empty in this dataset — the
    date filter makes the anti-join actually exclude rows.)"""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("date")
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_unsold_parts"))
    )


JOIN_ANTI_SQL = """
SELECT p_brand, COUNT(*) AS n_unsold_parts
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND l_shipdate >= DATE '2001-01-01')
GROUP BY p_brand
"""


def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range predicate (repeat orders within 30 days): the
    range condition evaluates as a post-join filter on the equi-join, so
    the shuffle stays keyed on custkey — no cartesian blowup."""
    o1 = _t(spark, sf_dir, "orders").alias("o1")
    o2 = _t(spark, sf_dir, "orders").alias("o2")
    cond = (
        (F.col("o1.o_custkey") == F.col("o2.o_custkey"))
        & (F.col("o2.o_orderdate") > F.col("o1.o_orderdate"))
        & (F.col("o2.o_orderdate") <= F.col("o1.o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        o1.join(o2, cond)
        .groupBy(F.col("o1.o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_followups"),
            dsum(F.col("o2.o_totalprice")).alias("followup_revenue"),
        )
    )


JOIN_RANGE_SQL = f"""
SELECT o1.o_custkey AS custkey, COUNT(*) AS n_followups,
       {sql_dsum('o2.o_totalprice')} AS followup_revenue
FROM orders o1
JOIN orders o2 ON o1.o_custkey = o2.o_custkey
  AND o2.o_orderdate > o1.o_orderdate
  AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 30 DAY
GROUP BY o1.o_custkey
"""


def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the user's latest signup
    at-or-before it (union+window idiom, operators/asof.py — one shuffle,
    no pair explosion). Oracle: DuckDB's native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
        .select("user_id", F.col("ts").alias("signup_ts"), "signup_event_id")
    )
    joined = asof_join(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts",
        right_ts="signup_ts",
        payload_cols=["signup_event_id", "signup_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "signup_event_id",
        (F.unix_micros("ts") - F.unix_micros("signup_ts")).alias("us_since_signup"),
    )


JOIN_ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), signups AS (
  SELECT user_id, ts AS signup_ts, max(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       s.signup_event_id,
       epoch_us(p.ts) - epoch_us(s.signup_ts) AS us_since_signup
FROM purchases p
ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
"""


def _purchases_asof_clicks(spark: SparkSession, sf_dir: str, asof_join):
    """Purchases as-of joined (``asof_join``: operators/asof
    asof_join_forward or asof_join_nearest) to the same user's clicks,
    one click per (user, ts) keeping the max event_id, carrying
    click_event_id and click_ts."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
        .select("user_id", F.col("ts").alias("click_ts"), "click_event_id")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        payload_cols=["click_event_id", "click_ts"],
    )


# The oracle CTEs of _purchases_asof_clicks' two inputs.
_PURCHASES_CLICKS_SQL = """purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)"""


def join_asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase picks up the user's EARLIEST
    click at-or-after it (operators/asof.py asof_join_forward — same
    one-shuffle union+window idiom, mirrored ordering). Oracle: DuckDB
    native ASOF with the inequality flipped."""
    joined = _purchases_asof_clicks(spark, sf_dir, asof_join_forward)
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "click_event_id",
        (F.unix_micros("click_ts") - F.unix_micros("ts")).alias("us_until_click"),
    )


JOIN_ASOF_FORWARD_SQL = f"""
WITH {_PURCHASES_CLICKS_SQL}
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.click_event_id,
       epoch_us(c.click_ts) - epoch_us(p.ts) AS us_until_click
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.click_ts
"""


def join_asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (operators/asof.asof_join_nearest — the
    pd.merge_asof direction='nearest' semantics Spark lacks): each
    purchase picks the user's click CLOSEST in time, either direction,
    equidistant ties backward. Two linear union+window passes + a CASE;
    oracle composes DuckDB's two native ASOF directions the same way."""
    joined = _purchases_asof_clicks(spark, sf_dir, asof_join_nearest)
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "click_event_id",
        F.abs(F.unix_micros("click_ts") - F.unix_micros("ts")).alias("us_to_click"),
        "asof_dir",
    )


JOIN_ASOF_NEAREST_SQL = f"""
WITH {_PURCHASES_CLICKS_SQL}, bwd AS (
  SELECT p.event_id, c.click_event_id AS b_id, c.click_ts AS b_ts
  FROM purchases p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.click_ts
), fwd AS (
  SELECT p.event_id, c.click_event_id AS f_id, c.click_ts AS f_ts
  FROM purchases p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.click_ts
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                  OR epoch_us(p.ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(p.ts))
            THEN b_id ELSE f_id END AS click_event_id,
       abs(epoch_us(CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                  OR epoch_us(p.ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(p.ts))
            THEN b_ts ELSE f_ts END) - epoch_us(p.ts)) AS us_to_click,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                  OR epoch_us(p.ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(p.ts))
            THEN 'bwd' WHEN f_ts IS NOT NULL THEN 'fwd' END AS asof_dir
FROM purchases p JOIN bwd USING (event_id) JOIN fwd USING (event_id)
"""


_ASOF_TOL_S = 7 * 24 * 3600  # 7-day match window


def join_asof_tolerance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance as-of join (operators/asof.asof_join_tolerance — the
    pd.merge_asof ``tolerance`` knob, the fourth of its four direction/
    window settings, completing the family beside backward/forward/
    nearest): each purchase picks up the user's latest signup at-or-
    before it ONLY if it happened within the last 7 days; a staler
    predecessor yields NULLs — the stale-quote guard semantics. Same
    one-shuffle union+window idiom plus a per-row mask; oracle = DuckDB
    native ASOF with the same CASE mask."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
        .select("user_id", F.col("ts").alias("signup_ts"), "signup_event_id")
    )
    joined = asof_join_tolerance(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts",
        right_ts="signup_ts",
        payload_cols=["signup_event_id", "signup_ts"],
        tolerance_s=_ASOF_TOL_S,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "signup_event_id",
        (F.unix_micros("ts") - F.unix_micros("signup_ts")).alias("us_since_signup"),
        "asof_within_tolerance",
    )


JOIN_ASOF_TOLERANCE_SQL = f"""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), signups AS (
  SELECT user_id, ts AS signup_ts, max(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
), b AS (
  SELECT p.event_id, p.user_id, p.ts, s.signup_event_id, s.signup_ts
  FROM purchases p
  ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CASE WHEN signup_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(signup_ts)
                     <= {_ASOF_TOL_S * 1_000_000}
            THEN signup_event_id END AS signup_event_id,
       CASE WHEN signup_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(signup_ts)
                     <= {_ASOF_TOL_S * 1_000_000}
            THEN epoch_us(ts) - epoch_us(signup_ts) END AS us_since_signup,
       (signup_ts IS NOT NULL
        AND epoch_us(ts) - epoch_us(signup_ts) <= {_ASOF_TOL_S * 1_000_000})
         AS asof_within_tolerance
FROM b
"""


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------

def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/sum/avg/min/max + deterministic sample stddev computed from
    exact decimal sums: sqrt((Σx² - (Σx)²/n)/(n-1)) — identical on any
    partitioning and in any engine, unlike stddev_samp over doubles."""
    orders = _t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    sx = F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
    sxx = F.sum(
        (F.col("o_totalprice").cast("decimal(18,4)") * F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(38,8)")
    ).cast("double")
    std = F.sqrt((sxx - sx * sx / n) / (n - 1))
    return orders.groupBy("o_orderpriority").agg(
        n.alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        davg("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(std, 4).alias("std_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
    )


AGG_BASIC_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price,
       {sql_davg('o_totalprice')} AS avg_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       round(sqrt((CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(19,4)) * CAST(o_totalprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE)
                   - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
                  / (COUNT(*) - 1)), 4) AS std_price,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
FROM orders
GROUP BY o_orderpriority
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — Catalyst expands it to a two-phase
    aggregate; distinct keys shuffle once."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


AGG_DISTINCT_SQL = """
SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
       COUNT(*) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path where exact
    distinct would shuffle every key. Rows-only oracle (sketches are
    engine-specific); accuracy vs exact is asserted in tests."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Spark 4 Datasketches HLL) —
    the 100 TB pre-aggregation pattern: build one sketch per partition/
    source/day INDEPENDENTLY, store the sketch bytes, then answer any
    rollup by UNIONing sketches without re-touching raw data. Emits the
    per-source estimates plus the '__all__' row from the union of the
    per-source sketches (never re-scanning the rows). Rows-only oracle
    (sketch internals are engine-specific); the estimates' relative
    error vs exact distinct counts is asserted in tests."""
    sketches = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    per_group = sketches.select(
        F.col("o_orderpriority").alias("grp"),
        F.hll_sketch_estimate("sk").alias("est_distinct"),
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct")
    ).select(F.lit("__all__").alias("grp"), "est_distinct")
    return per_group.unionByName(merged).orderBy("grp")


def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA on mergeable HLLs: estimate the customer
    overlap of the URGENT and HIGH priority classes by
    inclusion-exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B) — without
    ever re-touching raw rows once the two sketches exist. The audience
    -overlap / cross-corpus-contamination question at 100 TB: sketches
    are bytes in a summary table, any pairwise overlap is three
    estimate calls. Single row out; the three 1-row aggregates assemble
    via a tagged union + conditional agg (the triangle-count move — no
    crossJoin, no BNLJ). Rows-only oracle (sketch internals are
    engine-specific); accuracy vs the exact intersection is asserted in
    tests — note inclusion-exclusion AMPLIFIES relative error when the
    intersection is small relative to the union, which the test's
    tolerance documents."""
    pris = ("1-URGENT", "2-HIGH")
    sk = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(*pris))
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    ests = sk.select(
        F.col("o_orderpriority").alias("k"),
        F.hll_sketch_estimate("sk").alias("v"),
    )
    union_est = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("v")
    ).select(F.lit("__union__").alias("k"), "v")
    tagged = ests.unionByName(union_est)
    est_a = F.max(F.when(F.col("k") == pris[0], F.col("v")))
    est_b = F.max(F.when(F.col("k") == pris[1], F.col("v")))
    est_u = F.max(F.when(F.col("k") == "__union__", F.col("v")))
    return tagged.agg(
        est_a.cast("long").alias("est_urgent"),
        est_b.cast("long").alias("est_high"),
        est_u.cast("long").alias("est_union"),
        (est_a + est_b - est_u).cast("long").alias("est_intersection"),
    )


_QPM_BUCKETS = 64
_QPM_QS = (0.25, 0.5, 0.75, 0.95)


def _quantile_pick(per_scope: DataFrame, partials: DataFrame) -> DataFrame:
    """The read-off of mergeable histogram partials: ``per_scope``
    (scope, bucket, cnt) plus the '__all__' scope summed from
    ``partials`` over ``bucket``, cumulative counts per scope, and per
    (scope, q in _QPM_QS) the first bucket whose cumulative count
    reaches ceil(q*n) (``est_bucket``) with the scope's ``n_rows``.
    The callers turn est_bucket into its upper edge; the work runs on
    the O(#scopes x _QPM_BUCKETS) histogram, never on raw rows."""
    overall = (
        partials.groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .select(F.lit("__all__").alias("scope"), "bucket", "cnt")
    )
    hist = per_scope.unionByName(overall)
    wcum = (
        Window.partitionBy("scope")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("scope")
    cum = hist.select(
        "scope",
        "bucket",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("total"),
    )
    return (
        cum.select(
            "scope",
            "bucket",
            "cum",
            "total",
            F.explode(F.array(*[F.lit(q) for q in _QPM_QS])).alias("q"),
        )
        .groupBy("scope", "q")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("q") * F.col("total")),
                    F.col("bucket"),
                )
            ).alias("est_bucket"),
            F.max("total").cast("bigint").alias("n_rows"),
        )
    )


def _quantile_pick_sql(per_scope: str) -> str:
    """The oracle of _quantile_pick plus the upper-edge estimate: from
    CTEs ``bounds`` (mn, mx) and ``partials`` (bucket, cnt) and the
    ``per_scope`` SELECT of (scope, bucket, cnt), the per (scope, q)
    quantile report."""
    return f"""hist AS (
  {per_scope}
  UNION ALL
  SELECT '__all__' AS scope, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM partials GROUP BY 2
),
cum AS (
  SELECT scope, bucket,
         SUM(cnt) OVER (PARTITION BY scope ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY scope) AS total
  FROM hist
),
picked AS (
  SELECT scope, CAST(q AS DOUBLE) AS q,
         MIN(CASE WHEN cum >= ceil(CAST(q AS DOUBLE) * total) THEN bucket END)
           AS est_bucket,
         CAST(MAX(total) AS BIGINT) AS n_rows
  FROM cum, UNNEST([{", ".join(str(q) for q in _QPM_QS)}]) AS u(q)
  GROUP BY 1, 2
)
SELECT scope, q,
       round(mn + est_bucket * ((mx - mn) / {_QPM_BUCKETS}), 6) AS est_quantile,
       n_rows
FROM picked CROSS JOIN bounds
"""


def agg_quantile_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile partials — the histogram counterpart of
    agg_hll_partial_merge (VERDICT r7 next-step #7): per
    (returnflag, linestatus) group, fixed-width histogram counts over
    bucket bounds from a broadcast global min/max (the
    decile_stats_bucketed recipe); any rollup — per-flag, '__all__' —
    is answered by UNION-SUMMING the partial counts without re-touching
    raw rows, and each scope's quantiles read off the merged histogram's
    cumulative counts with error bounded by ONE bucket width
    (mx-mn)/64. Estimate = the UPPER edge of the first bucket whose
    cumulative count reaches ceil(q*n): the rank-ceil(q*n) element t
    lies in a bucket at or after the picked one, and at least
    ceil(q*n) elements sit at or below the picked upper edge, so
    t <= est <= t + width (one-sided, tested).

    100 TB shape: one shuffle to (group, bucket) partials — at most
    #groups x 64 keys regardless of data size; every downstream merge
    and the cumulative-count window run on that O(#groups x 64) frame.
    This is how a production engine precomputes quantile summaries per
    partition/day and serves any ad-hoc rollup later. Determinism:
    counts are exact BIGINTs; bucket assignment and the upper-edge
    arithmetic are identical IEEE expressions on both engines."""
    B = _QPM_BUCKETS
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    bounds = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    x = F.col("l_extendedprice")
    bucket = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(
                F.floor((x - F.col("mn")) * B / (F.col("mx") - F.col("mn"))),
                F.lit(B - 1),
            )
        )
        + 1
    ).cast("long")
    partials = (
        li.crossJoin(F.broadcast(bounds))
        .groupBy("l_returnflag", "l_linestatus", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    per_flag = (
        partials.groupBy("l_returnflag", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .select(F.col("l_returnflag").alias("scope"), "bucket", "cnt")
    )
    return _quantile_pick(per_flag, partials).crossJoin(F.broadcast(bounds)).select(
        "scope",
        "q",
        F.round(
            F.col("mn") + F.col("est_bucket") * ((F.col("mx") - F.col("mn")) / B), 6
        ).alias("est_quantile"),
        "n_rows",
    )


AGG_QUANTILE_PARTIAL_SQL = f"""
WITH bounds AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem
),
assigned AS (
  SELECT l_returnflag, l_linestatus,
         CAST(CASE WHEN mx = mn THEN 0
              ELSE least(floor((l_extendedprice - mn) * {_QPM_BUCKETS}
                               / (mx - mn)), {_QPM_BUCKETS - 1})
              END + 1 AS BIGINT) AS bucket
  FROM lineitem CROSS JOIN bounds
),
partials AS (
  SELECT l_returnflag, l_linestatus, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM assigned GROUP BY 1, 2, 3
),
""" + _quantile_pick_sql(
    """SELECT l_returnflag AS scope, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM partials GROUP BY 1, 2"""
)


def agg_variance_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable variance partials — the moments member of the
    partial-merge family (HLL -> distinct, histogram -> quantiles,
    (n, Σx, Σx²) -> variance): per (returnflag, linestatus) group keep
    the three integer moment sums of the integral l_quantity column;
    any rollup scope — per-flag, '__all__' — is answered by SUMMING the
    partials (Chan et al. pairwise-merge, degenerate form: the moments
    are plain sums, so the merge is associative and shuffle-free beyond
    the first aggregate), then var_samp = (n·Σx² − (Σx)²) / (n·(n−1))
    evaluated on EXACT integers so both engines cast the identical
    number to double.

    100 TB shape: ONE shuffle to #groups×3 integer cells; every rollup
    and the final algebra run on that O(#groups) frame — this is how a
    warehouse serves ad-hoc variance rollups from per-day/per-partition
    summary tables without re-touching raw rows. The n·Σx² product is
    computed in DECIMAL(38,0) (DuckDB: HUGEINT) so the intermediate
    never overflows at any scale."""
    # floor() before the bigint cast: Spark's cast truncates while
    # DuckDB's rounds, so the explicit floor keeps the recipe safe to
    # copy onto non-integral columns (ADVICE r8). l_quantity is
    # integral, so floor is a no-op here.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus",
        F.floor(F.col("l_quantity")).cast("bigint").alias("x"),
    )
    partials = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    per_flag = partials.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"), F.sum("s1").alias("s1"), F.sum("s2").alias("s2")
    ).select(F.col("l_returnflag").alias("scope"), "n", "s1", "s2")
    overall = partials.agg(
        F.sum("n").alias("n"), F.sum("s1").alias("s1"), F.sum("s2").alias("s2")
    ).select(F.lit("__all__").alias("scope"), "n", "s1", "s2")
    merged = per_flag.unionByName(overall)
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("s2").cast(dec)
        - F.col("s1").cast(dec) * F.col("s1").cast(dec)
    )
    den = (F.col("n") * (F.col("n") - 1)).cast(dec)
    var = num.cast("double") / den.cast("double")
    return merged.select(
        "scope",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s1").cast("double") / F.col("n"), 6).alias("mean_qty"),
        F.round(var, 6).alias("var_qty"),
        F.round(F.sqrt(var), 6).alias("stddev_qty"),
    )


AGG_VARIANCE_PARTIAL_SQL = """
WITH p AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)
                  * CAST(floor(l_quantity) AS BIGINT))
              AS BIGINT) AS s2
  FROM lineitem GROUP BY 1, 2
), m AS (
  SELECT l_returnflag AS scope, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s1) AS BIGINT) AS s1, CAST(SUM(s2) AS BIGINT) AS s2
  FROM p GROUP BY 1
  UNION ALL
  SELECT '__all__', CAST(SUM(n) AS BIGINT), CAST(SUM(s1) AS BIGINT),
         CAST(SUM(s2) AS BIGINT)
  FROM p
)
SELECT scope, n,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_qty,
       round(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
                  AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6) AS var_qty,
       round(sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
                       AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)), 6) AS stddev_qty
FROM m
"""


def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance/correlation matrix of (l_quantity,
    l_extendedprice, l_discount) from ONE pass of exact integer
    moments — the feature-statistics pass a model-training pipeline
    runs before normalization/PCA. Columns convert to exact integer
    units first (quantity integral; price/discount to cents via
    floor(x·100 + 0.5) — floor, not round(): round() ties split across
    engines), so every moment sum is exact DECIMAL(38,0) and
    partition-order independent:
      cov(a,b)  = (n·Σab − Σa·Σb) / (n² · unit_a · unit_b)
      corr(a,b) = (n·Σab − Σa·Σb) / (√(n·Σa²−(Σa)²) · √(n·Σb²−(Σb)²))
    (unit scalings cancel in corr; the two sqrt's stay separate because
    the numerator product would overflow DECIMAL(38,0)). Population
    covariance; the n² denominator and each √ are doubles derived from
    exact decimals, so both engines divide identical numbers.

    100 TB shape: ONE mergeable aggregate produces all ten moments (a
    single Exchange to a 1-row frame); the 3×3 matrix explodes from
    literal pair structs on that 1-row frame — O(1) downstream."""
    # floor() before the bigint cast on l_quantity too (ADVICE r8):
    # Spark cast truncates, DuckDB cast rounds — explicit floor keeps
    # both engines identical even on non-integral inputs.
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("bigint").alias("a"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("b"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    dec = "decimal(38,0)"

    def dsum38(col):
        return F.sum(col.cast(dec)).cast(dec)

    a, b, c = F.col("a"), F.col("b"), F.col("c")
    mo = li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum38(a).alias("sa"), dsum38(b).alias("sb"), dsum38(c).alias("sc"),
        dsum38(a * a).alias("saa"), dsum38(b * b).alias("sbb"),
        dsum38(c * c).alias("scc"),
        dsum38(a * b).alias("sab"), dsum38(a * c).alias("sac"),
        dsum38(b * c).alias("sbc"),
    )
    pairs = [
        ("quantity", "extendedprice", "sa", "sb", "sab", "saa", "sbb", 1 * 100),
        ("quantity", "discount", "sa", "sc", "sac", "saa", "scc", 1 * 100),
        ("extendedprice", "discount", "sb", "sc", "sbc", "sbb", "scc", 100 * 100),
    ]
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(ca).alias("col_a"),
                    F.lit(cb).alias("col_b"),
                    F.col(s1).alias("s1"),
                    F.col(s2).alias("s2"),
                    F.col(s12).alias("s12"),
                    F.col(sq1).alias("sq1"),
                    F.col(sq2).alias("sq2"),
                    F.lit(u).cast("double").alias("uu"),
                )
                for ca, cb, s1, s2, s12, sq1, sq2, u in pairs
            ]
        )
    ).alias("p")
    ndec = F.col("n").cast(dec)
    num = (ndec * F.col("p.s12") - F.col("p.s1") * F.col("p.s2")).cast(dec)
    v1 = (ndec * F.col("p.sq1") - F.col("p.s1") * F.col("p.s1")).cast(dec)
    v2 = (ndec * F.col("p.sq2") - F.col("p.s2") * F.col("p.s2")).cast(dec)
    numd = num.cast("string").cast("double")
    return mo.select("n", rows).select(
        F.col("p.col_a").alias("col_a"),
        F.col("p.col_b").alias("col_b"),
        F.col("n"),
        F.round(
            numd / (F.col("n").cast("double") * F.col("n").cast("double")
                    * F.col("p.uu")),
            6,
        ).alias("cov"),
        F.round(
            numd
            / (F.sqrt(v1.cast("string").cast("double"))
               * F.sqrt(v2.cast("string").cast("double"))),
            6,
        ).alias("corr"),
    )


AGG_COVARIANCE_SQL = """
WITH u AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS a,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS b,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem
), mo AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(a) AS HUGEINT) AS sa, CAST(SUM(b) AS HUGEINT) AS sb,
         CAST(SUM(c) AS HUGEINT) AS sc,
         CAST(SUM(a*a) AS HUGEINT) AS saa, CAST(SUM(b*b) AS HUGEINT) AS sbb,
         CAST(SUM(c*c) AS HUGEINT) AS scc,
         CAST(SUM(a*b) AS HUGEINT) AS sab, CAST(SUM(a*c) AS HUGEINT) AS sac,
         CAST(SUM(b*c) AS HUGEINT) AS sbc
  FROM u
), p AS (
  SELECT 'quantity' AS col_a, 'extendedprice' AS col_b,
         sa AS s1, sb AS s2, sab AS s12, saa AS sq1, sbb AS sq2,
         100.0 AS uu, n FROM mo
  UNION ALL
  SELECT 'quantity', 'discount', sa, sc, sac, saa, scc, 100.0, n FROM mo
  UNION ALL
  SELECT 'extendedprice', 'discount', sb, sc, sbc, sbb, scc, 10000.0, n
  FROM mo
)
SELECT col_a, col_b, n,
       round(CAST(CAST(CAST(n AS HUGEINT)*s12 - s1*s2 AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * uu), 6) AS cov,
       round(CAST(CAST(CAST(n AS HUGEINT)*s12 - s1*s2 AS VARCHAR) AS DOUBLE)
             / (sqrt(CAST(CAST(CAST(n AS HUGEINT)*sq1 - s1*s1 AS VARCHAR)
                          AS DOUBLE))
                * sqrt(CAST(CAST(CAST(n AS HUGEINT)*sq2 - s2*s2 AS VARCHAR)
                            AS DOUBLE))), 6) AS corr
FROM p
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus): hierarchical subtotals + grand
    total in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity").alias("sum_qty")
    )


AGG_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus): all grouping combinations."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_extendedprice").alias("sum_price")
    )


AGG_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL frontend (same Catalyst plan as
    the DataFrame rollup/cube forms)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


AGG_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING over the aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_sold"), dsum("l_quantity").alias("total_qty"))
        .filter(F.col("n_sold") >= 40)
    )


AGG_HAVING_SQL = f"""
SELECT l_partkey, COUNT(*) AS n_sold, {sql_dsum('l_quantity')} AS total_qty
FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 40
"""


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per nation over a total order."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 5)
    )


WINDOW_RANK_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
) WHERE rn <= 5
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation per customer order history + day gap between
    consecutive orders."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
        F.datediff(F.col("o_orderdate"), prev_date).cast("long").alias("days_since_prev"),
    )


WINDOW_LAG_LEAD_SQL = """
SELECT o_custkey, o_orderkey,
       round(lag(o_totalprice) OVER w, 4) AS prev_price,
       round(lead(o_totalprice) OVER w, 4) AS next_price,
       CAST(datediff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total (unbounded preceding) + 3-row moving sum per
    supplier. Window sums run over DECIMAL so results are exact — double
    window sums would diverge between Spark's incremental evaluation and
    DuckDB's segment-tree evaluation."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 20)
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    dec = F.col("l_extendedprice").cast("decimal(18,4)")
    running = F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    moving3 = F.sum(dec).over(w.rowsBetween(-2, Window.currentRow))
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        running.cast("double").alias("running_total"),
        moving3.cast("double").alias("moving_sum3"),
    )


WINDOW_RUNNING_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER
            (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER
            (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
FROM lineitem WHERE l_suppkey <= 20
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by retail price per brand — the window row_number
    idiom; only k rows per group survive the filter so downstream stages
    stay small."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


TOPK_PER_GROUP_SQL = """
SELECT p_brand, p_partkey, p_retailprice, rk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(row_number() OVER (PARTITION BY p_brand
              ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
  FROM part
) WHERE rk <= 3
"""


def sort_limit_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT: Spark runs TakeOrderedAndProject — a
    per-partition top-k then a k-row merge on the driver, never a full
    global sort."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .limit(20)
    )


SORT_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return a.union(b).distinct()


SET_UNION_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_custkey FROM orders WHERE o_totalprice > 400000
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


SET_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers who ordered but never urgently."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    # subtract == EXCEPT DISTINCT; exceptAll().distinct() would WRONGLY
    # keep keys whose multiplicity in a merely exceeds that in b.
    return a.subtract(b)


SET_EXCEPT_SQL = """
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


# --------------------------------------------------------------------------
# Pivot / unpivot
# --------------------------------------------------------------------------

def pivot_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: returnflag rows × linestatus columns (explicit value list so
    the plan is a single pass — Catalyst turns it into conditional
    aggregates, exactly what the oracle spells out)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_fulfilled"})
    )


PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_fulfilled
FROM lineitem GROUP BY l_returnflag
"""


def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack(): wide per-status aggregate row -> long
    (metric, value) form."""
    orders = _t(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.select(
        "o_orderstatus",
        F.expr("stack(2, 'sum_price', sum_price, 'n_orders', n_orders) AS (metric, value)"),
    )


UNPIVOT_SQL = f"""
WITH wide AS (
  SELECT o_orderstatus, {sql_dsum('o_totalprice')} AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_orders
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value FROM (
  SELECT o_orderstatus, 'sum_price' AS metric, sum_price AS value FROM wide
  UNION ALL
  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
)
"""


# --------------------------------------------------------------------------
# Subqueries / CTE (SQL frontend)
# --------------------------------------------------------------------------

def scalar_subquery_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: parts priced above the global average."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_sq")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part_sq
        WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
                                      / COUNT(p_retailprice) FROM part_sq)
        """
    )


SCALAR_SUBQUERY_SQL = f"""
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice > (SELECT {sql_davg('p_retailprice')} FROM part)
"""


def cte_above_avg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + self-referencing aggregate: nations whose customer balance
    total beats the all-nation average."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_cte")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_cte")
    return spark.sql(
        """
        WITH per_nation AS (
          SELECT c_nationkey, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
          FROM customer_cte GROUP BY c_nationkey
        )
        SELECT n_name, total_bal
        FROM per_nation JOIN nation_cte ON c_nationkey = n_nationkey
        WHERE total_bal > (SELECT CAST(SUM(CAST(total_bal AS DECIMAL(18,4))) AS DOUBLE)
                                  / COUNT(total_bal) FROM per_nation)
        """
    )


CTE_SQL = f"""
WITH per_nation AS (
  SELECT c_nationkey, {sql_dsum('c_acctbal')} AS total_bal
  FROM customer GROUP BY c_nationkey
)
SELECT n_name, total_bal
FROM per_nation JOIN nation ON c_nationkey = n_nationkey
WHERE total_bal > (SELECT {sql_davg('total_bal')} FROM per_nation)
"""


# --------------------------------------------------------------------------
# Scalar function families
# --------------------------------------------------------------------------

def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family over part names (upper/lower/substring/
    length/concat/replace/pad/reverse/position/regexp)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("upper_name"),
        F.lower(name).alias("lower_name"),
        F.substring(name, 1, 5).alias("first5"),
        F.length(name).cast("long").alias("name_len"),
        F.concat_ws("|", name, F.col("p_brand")).alias("name_brand"),
        F.regexp_replace(name, "[aeiou]", "_").alias("devoweled"),
        F.lpad(F.col("p_brand"), 12, "*").alias("brand_padded"),
        F.reverse(name).alias("reversed_name"),
        F.instr(name, "a").cast("long").alias("first_a_pos"),
        F.regexp_extract(F.col("p_brand"), r"#(\d+)", 1).alias("brand_num"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
        F.translate(name, "abc", "xyz").alias("translated"),
    )


STRING_FUNCTIONS_SQL = r"""
SELECT p_partkey,
       upper(p_name) AS upper_name,
       lower(p_name) AS lower_name,
       substring(p_name, 1, 5) AS first5,
       CAST(length(p_name) AS BIGINT) AS name_len,
       concat_ws('|', p_name, p_brand) AS name_brand,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       lpad(p_brand, 12, '*') AS brand_padded,
       reverse(p_name) AS reversed_name,
       CAST(strpos(p_name, 'a') AS BIGINT) AS first_a_pos,
       regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
       trim('  x  ') AS trimmed,
       translate(p_name, 'abc', 'xyz') AS translated
FROM part WHERE p_partkey <= 500
"""


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: extract parts, truncate, offset, diff, last_day
    (all emitted as strings/BIGINT so engine date types never disagree)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.month(d).cast("long").alias("mo"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.quarter(d).cast("long").alias("qtr"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).cast("long").alias("days_to_2002"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


DATE_FUNCTIONS_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(day(o_orderdate) AS BIGINT) AS dom,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(CAST(o_orderdate AS DATE) + 90, '%Y-%m-%d') AS due_date,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
FROM orders WHERE o_orderkey <= 2000
"""


def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. Transcendentals are rounded to 6 dp: libm vs JVM
    Math differ in the last ulp."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    x = F.col("l_extendedprice")
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(x - 50000).alias("abs_diff"),
        F.ceil(x).cast("long").alias("ceil_price"),
        F.floor(x).cast("long").alias("floor_price"),
        F.round(x / 1000, 2).alias("kprice"),
        F.round(F.sqrt(x), 6).alias("sqrt_price"),
        F.round(F.log(x), 6).alias("ln_price"),
        F.round(F.log10(x), 6).alias("log10_price"),
        F.round(F.pow(q, 2), 1).alias("qty_sq"),
        (F.col("l_partkey") % 7).cast("long").alias("pk_mod7"),
        F.signum(x - 50000).alias("sign_diff"),
    )


MATH_FUNCTIONS_SQL = """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 50000) AS abs_diff,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
       round(l_extendedprice / 1000, 2) AS kprice,
       round(sqrt(l_extendedprice), 6) AS sqrt_price,
       round(ln(l_extendedprice), 6) AS ln_price,
       round(log10(l_extendedprice), 6) AS log10_price,
       round(pow(l_quantity, 2), 1) AS qty_sq,
       CAST(l_partkey % 7 AS BIGINT) AS pk_mod7,
       CAST(sign(l_extendedprice - 50000) AS DOUBLE) AS sign_diff
FROM lineitem WHERE l_orderkey <= 1000
"""


def conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / coalesce / nullif / greatest / least."""
    cust = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return cust.select(
        "c_custkey",
        F.when(bal < 0, "overdrawn")
        .when(bal < 1000, "low")
        .when(bal < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("(machinery)"))
        .alias("segment_masked"),
        F.greatest(bal, F.lit(0.0)).alias("bal_floor0"),
        F.least(bal, F.lit(9000.0)).alias("bal_cap9k"),
    )


CONDITIONAL_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 1000 THEN 'low'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'high' END AS bal_band,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), '(machinery)') AS segment_masked,
       greatest(c_acctbal, 0.0) AS bal_floor0,
       least(c_acctbal, 9000.0) AS bal_cap9k
FROM customer
"""


def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over events.props: path extraction (string + typed)
    and from_json struct access."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_num"),
        F.from_json("props", "k LONG").getField("k").alias("k_struct"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod10"),
    )


JSON_FUNCTIONS_SQL = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
FROM events WHERE event_id < 2000
"""


def variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse events.props once into a variant and
    extract a typed path (try_parse_json + try_variant_get) — the
    semi-structured fast path that replaces repeated get_json_object
    string re-parses (one binary parse, typed access). Oracle: DuckDB
    json_extract."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("bigint").alias("k_sum"),
        F.max(k).cast("bigint").alias("k_max"),
    )


VARIANT_FUNCTIONS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events GROUP BY event_type
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over tokenized document text: size, distinct,
    contains, sort, join, element access, explode-free (scalar outputs
    only — array cells don't hash portably across engines)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_contains(toks, "spark").alias("mentions_spark"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(F.array_sort(toks), 1).alias("min_token"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias("top3_sorted"),
    )


ARRAY_FUNCTIONS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       list_contains(toks, 'spark') AS mentions_spark,
       toks[1] AS first_token,
       list_sort(toks)[1] AS min_token,
       array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS top3_sorted
FROM t
"""


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: build a map from arrays, look up, size, key
    membership (scalar outputs for portable hashing)."""
    nation = _t(spark, sf_dir, "nation")
    m = F.map_from_arrays(
        F.array(F.lit("name"), F.lit("key")),
        F.array(F.col("n_name"), F.col("n_nationkey").cast("string")),
    )
    return nation.select(
        "n_nationkey",
        F.element_at(m, "name").alias("m_name"),
        F.element_at(m, "key").alias("m_key"),
        F.size(m).cast("long").alias("m_size"),
        F.array_contains(F.map_keys(m), "name").alias("has_name"),
    )


MAP_FUNCTIONS_SQL = """
SELECT n_nationkey,
       n_name AS m_name,
       CAST(n_nationkey AS VARCHAR) AS m_key,
       CAST(2 AS BIGINT) AS m_size,
       TRUE AS has_name
FROM nation
"""


def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with a deterministic tiebreak — the
    categorical summary statistic Spark ships no reliable aggregate
    for (mode() is 3.4+ but its ties are nondeterministic): most
    frequent event_type per hour-of-day, ties broken to the
    lexicographically smallest value, plus how many values tied.

    Two-level shape: ONE mergeable (group, value) count aggregate
    collapses the data, then the argmax runs as a rank window over the
    pre-aggregated frame — window input is |groups|x|distinct values|
    (24x5 rows here), never raw data, which is what makes exact mode
    scale-safe where a naive collect-and-count would not."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.hour("ts").cast("long").alias("hod"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.partitionBy("hod").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    wmax = Window.partitionBy("hod")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("max_cnt", F.max("cnt").over(wmax))
        .withColumn(
            "n_tied",
            F.sum((F.col("cnt") == F.col("max_cnt")).cast("long")).over(wmax),
        )
        .filter(F.col("rn") == 1)
        .select(
            "hod",
            F.col("event_type").alias("mode_event_type"),
            F.col("cnt").alias("mode_count"),
            F.col("n_tied").cast("bigint").alias("n_tied"),
        )
    )


AGG_MODE_SQL = """
WITH counts AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hod, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), mx AS (
  SELECT hod, event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY hod
                            ORDER BY cnt DESC, event_type) AS rn,
         MAX(cnt) OVER (PARTITION BY hod) AS max_cnt
  FROM counts
), ranked AS (
  SELECT hod, event_type, cnt, rn,
         CAST(SUM(CASE WHEN cnt = max_cnt THEN 1 ELSE 0 END)
              OVER (PARTITION BY hod) AS BIGINT) AS n_tied
  FROM mx
)
SELECT hod, event_type AS mode_event_type, cnt AS mode_count, n_tied
FROM ranked WHERE rn = 1
"""




def agg_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable 3rd/4th-moment partials -> exact skewness + excess
    kurtosis — agg_variance_partial_merge extended up the moment
    ladder: per (returnflag, linestatus) keep (n, Σx, Σx², Σx³, Σx⁴)
    as integer sums; any rollup scope merges by SUMMING the partials;
    then the central-moment numerators
        m2n = n·S2 − S1²            (= n²·m2)
        m3n = n²·S3 − 3n·S2·S1 + 2·S1³        (= n³·m3)
        m4n = n³·S4 − 4n²·S3·S1 + 6n·S2·S1² − 3·S1⁴   (= n⁴·m4)
    collapse the n-powers exactly:  g1 = m3n / m2n^1.5  and
    g2 = m4n / m2n² − 3  (population skew / excess kurtosis) — every
    numerator is an EXACT integer in DECIMAL(38,0)/HUGEINT, converted
    to double through a STRING cast (the >2^53 convention), and ^1.5
    is spelled x·sqrt(x) on both engines (libm pow() is not
    correctly-rounded everywhere; sqrt is).

    100 TB shape: ONE shuffle to #groups×5 integer cells; rollups and
    the algebra run on the O(#groups) frame. Digit budget (documented,
    the family convention): |Σx| < 3×10⁹ keeps S1⁴ < 8.1×10³⁷ — with
    x = l_quantity ≤ 50 that is ~6×10⁷ rows per group; past it, salt
    the group key and merge per-salt CENTRAL sums pairwise (Pébay's
    update formulas), trading cross-engine bit-exactness for an
    unbounded row budget."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus",
        F.floor(F.col("l_quantity")).cast("bigint").alias("x"),
    )
    x = F.col("x")
    partials = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    sums = [F.sum(c).alias(c) for c in ("n", "s1", "s2", "s3", "s4")]
    per_flag = partials.groupBy("l_returnflag").agg(*sums).select(
        F.col("l_returnflag").alias("scope"), "n", "s1", "s2", "s3", "s4"
    )
    overall = partials.agg(*sums).select(
        F.lit("__all__").alias("scope"), "n", "s1", "s2", "s3", "s4"
    )
    dec = "decimal(38,0)"
    n, s1, s2, s3, s4 = [
        F.col(c).cast(dec) for c in ("n", "s1", "s2", "s3", "s4")
    ]
    m2n = n * s2 - s1 * s1
    m3n = n * n * s3 - F.lit(3).cast(dec) * n * s2 * s1 \
        + F.lit(2).cast(dec) * s1 * s1 * s1
    m4n = n * n * n * s4 - F.lit(4).cast(dec) * n * n * s3 * s1 \
        + F.lit(6).cast(dec) * n * s2 * s1 * s1 \
        - F.lit(3).cast(dec) * s1 * s1 * s1 * s1

    def sdbl(c):  # exact decimal -> double via string (the convention)
        return c.cast("string").cast("double")

    m2d, m3d, m4d = sdbl(m2n), sdbl(m3n), sdbl(m4n)
    pos = m2n > 0
    return per_flag.unionByName(overall).select(
        "scope",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s1").cast("double") / F.col("n"), 6).alias("mean_qty"),
        F.when(pos, F.round(m3d / (m2d * F.sqrt(m2d)), 6)).alias("skewness"),
        F.when(pos, F.round(m4d / (m2d * m2d) - 3, 6)).alias("ex_kurtosis"),
    )


AGG_MOMENTS_SQL = """
WITH p AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         SUM(x) AS s1, SUM(x*x) AS s2, SUM(x*x*x) AS s3,
         SUM(x*x*x*x) AS s4
  FROM (SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity) AS HUGEINT) AS x
        FROM lineitem)
  GROUP BY 1, 2
), m AS (
  SELECT l_returnflag AS scope, CAST(SUM(n) AS HUGEINT) AS n,
         CAST(SUM(s1) AS HUGEINT) AS s1, CAST(SUM(s2) AS HUGEINT) AS s2,
         CAST(SUM(s3) AS HUGEINT) AS s3, CAST(SUM(s4) AS HUGEINT) AS s4
  FROM p GROUP BY 1
  UNION ALL
  SELECT '__all__', CAST(SUM(n) AS HUGEINT), CAST(SUM(s1) AS HUGEINT),
         CAST(SUM(s2) AS HUGEINT), CAST(SUM(s3) AS HUGEINT),
         CAST(SUM(s4) AS HUGEINT)
  FROM p
), nums AS (
  SELECT scope, n, s1,
         n*s2 - s1*s1 AS m2n,
         n*n*s3 - 3*n*s2*s1 + 2*s1*s1*s1 AS m3n,
         n*n*n*s4 - 4*n*n*s3*s1 + 6*n*s2*s1*s1 - 3*s1*s1*s1*s1 AS m4n
  FROM m
)
SELECT scope, CAST(n AS BIGINT) AS n,
       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_qty,
       CASE WHEN m2n > 0 THEN
         round(CAST(CAST(m3n AS VARCHAR) AS DOUBLE)
               / (CAST(CAST(m2n AS VARCHAR) AS DOUBLE)
                  * sqrt(CAST(CAST(m2n AS VARCHAR) AS DOUBLE))), 6)
       END AS skewness,
       CASE WHEN m2n > 0 THEN
         round(CAST(CAST(m4n AS VARCHAR) AS DOUBLE)
               / (CAST(CAST(m2n AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(m2n AS VARCHAR) AS DOUBLE)) - 3, 6)
       END AS ex_kurtosis
FROM nums
"""


QUERIES: dict[str, QuerySpec] = {
    # the rank window is partitioned by l_returnflag over the
    # pre-aggregated |groups| x |values| frame — no waiver needed
    "agg_mode_per_group": QuerySpec(
        agg_mode_per_group, AGG_MODE_SQL, "aggregation"),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL, "headline"),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL, "headline"),
    "q5_region_revenue": QuerySpec(q5_region_revenue, Q5_SQL, "headline"),
    "filter_project_nullsafe": QuerySpec(filter_project_nullsafe, FILTER_PROJECT_SQL, "projection_filter"),
    "join_broadcast_dim": QuerySpec(join_broadcast_dim, JOIN_BROADCAST_SQL, "join"),
    "join_sort_merge": QuerySpec(join_sort_merge, JOIN_SORT_MERGE_SQL, "join"),
    "join_left_outer": QuerySpec(join_left_outer, JOIN_LEFT_OUTER_SQL, "join"),
    "join_full_outer": QuerySpec(join_full_outer, JOIN_FULL_OUTER_SQL, "join"),
    "join_semi": QuerySpec(join_semi, JOIN_SEMI_SQL, "join"),
    "join_anti": QuerySpec(join_anti, JOIN_ANTI_SQL, "join"),
    "join_range_nonequi": QuerySpec(join_range_nonequi, JOIN_RANGE_SQL, "join"),
    "join_asof_events": QuerySpec(join_asof_events, JOIN_ASOF_SQL, "join"),
    "join_asof_forward": QuerySpec(join_asof_forward_events, JOIN_ASOF_FORWARD_SQL, "join"),
    "join_asof_nearest": QuerySpec(
        join_asof_nearest_events, JOIN_ASOF_NEAREST_SQL, "join"),
    "join_asof_tolerance": QuerySpec(
        join_asof_tolerance_events, JOIN_ASOF_TOLERANCE_SQL, "join"),
    "agg_basic_stats": QuerySpec(agg_basic_stats, AGG_BASIC_SQL, "aggregation"),
    "agg_distinct": QuerySpec(agg_distinct, AGG_DISTINCT_SQL, "aggregation"),
    "agg_approx_distinct": QuerySpec(agg_approx_distinct, None, "aggregation",
                                     doc="HLL sketch — engine-specific, rows-only oracle"),
    "agg_hll_partial_merge": QuerySpec(
        agg_hll_partial_merge, None, "aggregation",
        doc="Datasketches HLL partials + union — sketch bytes are "
            "engine-specific, rows-only oracle; accuracy tested vs exact"),
    "agg_hll_intersection": QuerySpec(
        agg_hll_intersection, None, "aggregation",
        doc="HLL inclusion-exclusion intersection — sketch bytes are "
            "engine-specific, rows-only oracle; accuracy tested vs exact"),
    "agg_quantile_partial_merge": QuerySpec(
        agg_quantile_partial_merge, AGG_QUANTILE_PARTIAL_SQL, "aggregation",
        plan_waivers={"bnlj": "1-row min/max bounds broadcast (x2 attaches)"}),
    "agg_moments_skew_kurtosis": QuerySpec(
        agg_moments_skew_kurtosis, AGG_MOMENTS_SQL, "agg"),
    "agg_variance_partial_merge": QuerySpec(
        agg_variance_partial_merge, AGG_VARIANCE_PARTIAL_SQL, "aggregation"),
    "agg_covariance_matrix": QuerySpec(
        agg_covariance_matrix, AGG_COVARIANCE_SQL, "aggregation"),
    "agg_rollup": QuerySpec(agg_rollup, AGG_ROLLUP_SQL, "aggregation"),
    "agg_cube": QuerySpec(agg_cube, AGG_CUBE_SQL, "aggregation"),
    "agg_grouping_sets": QuerySpec(agg_grouping_sets, AGG_GROUPING_SETS_SQL, "aggregation"),
    "agg_having": QuerySpec(agg_having, AGG_HAVING_SQL, "aggregation"),
    "window_rank": QuerySpec(window_rank, WINDOW_RANK_SQL, "window"),
    "window_lag_lead": QuerySpec(window_lag_lead, WINDOW_LAG_LEAD_SQL, "window"),
    "window_running_frames": QuerySpec(window_running_frames, WINDOW_RUNNING_SQL, "window"),
    "topk_per_group": QuerySpec(topk_per_group, TOPK_PER_GROUP_SQL, "window"),
    "sort_limit_global": QuerySpec(sort_limit_global, SORT_LIMIT_SQL, "sort_limit"),
    "set_union": QuerySpec(set_union, SET_UNION_SQL, "set_op"),
    "set_intersect": QuerySpec(set_intersect, SET_INTERSECT_SQL, "set_op"),
    "set_except": QuerySpec(set_except, SET_EXCEPT_SQL, "set_op"),
    "pivot_flag_status": QuerySpec(pivot_flag_status, PIVOT_SQL, "pivot"),
    "unpivot_order_metrics": QuerySpec(unpivot_order_metrics, UNPIVOT_SQL, "pivot"),
    "scalar_subquery_parts": QuerySpec(scalar_subquery_parts, SCALAR_SUBQUERY_SQL, "subquery"),
    "cte_above_avg_nations": QuerySpec(cte_above_avg_nations, CTE_SQL, "subquery"),
    "string_functions": QuerySpec(string_functions, STRING_FUNCTIONS_SQL, "scalar_fn"),
    "date_functions": QuerySpec(date_functions, DATE_FUNCTIONS_SQL, "scalar_fn"),
    "math_functions": QuerySpec(math_functions, MATH_FUNCTIONS_SQL, "scalar_fn"),
    "conditional_functions": QuerySpec(conditional_functions, CONDITIONAL_SQL, "scalar_fn"),
    "json_functions": QuerySpec(json_functions, JSON_FUNCTIONS_SQL, "scalar_fn"),
    "variant_functions": QuerySpec(variant_functions, VARIANT_FUNCTIONS_SQL, "scalar_fn"),
    "array_functions": QuerySpec(array_functions, ARRAY_FUNCTIONS_SQL, "scalar_fn"),
    "map_functions": QuerySpec(map_functions, MAP_FUNCTIONS_SQL, "scalar_fn"),
}
