"""Relational operator registry, batch 2: right/multiset set ops, exact
percentiles, higher-order array functions, ordered collects, arg-max
aggregates, skew-salted aggregation, distribution window functions,
a partitioned parquet sink round-trip, and seeded sampling.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf string type hints
# (postponed annotations) resolve against module globals

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (
    dmoney,
    drev,
    dsum,
    dsum_dec,
    sql_davg,
    sql_dsum,
    sql_dsum_dec,
    sql_money,
    sql_rev,
)
from ..schemas import load_table
from .spec import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (the mirrored preserve-side): order lines right-
    joined to orders keeps orders with no 2001 shipments as null rows."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("date")
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "right")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("l_linenumber").alias("n_shipped_lines"),
        )
    )


JOIN_RIGHT_OUTER_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(l_linenumber) AS n_shipped_lines
FROM (SELECT * FROM lineitem WHERE l_shipdate >= DATE '2001-01-01') l
RIGHT JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL preserving duplicates, with a provenance marker."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", F.lit("urgent").alias("src")
    )
    b = orders.filter(F.col("o_totalprice") > 300000).select(
        "o_custkey", F.lit("big").alias("src")
    )
    return a.unionAll(b)


SET_UNION_ALL_SQL = """
SELECT o_custkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_custkey, 'big' AS src FROM orders WHERE o_totalprice > 300000
"""


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics — min of the multiplicities)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.intersectAll(b)


SET_INTERSECT_ALL_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference of the multiplicities)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)


SET_EXCEPT_ALL_SQL = """
SELECT o_custkey FROM orders
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def _weighted_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per l_returnflag, each line's running quantity weight ``cumw``
    in (l_extendedprice, l_orderkey, l_linenumber) order and the group
    total ``totw`` (BIGINT) — the one partitioned sort the weighted
    median and percentiles read their thresholds from."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    return (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .withColumn("cumw", F.sum("qty").over(w))
        .withColumn("totw", F.sum("qty").over(wall))
    )


# The oracle CTE of _weighted_cum.
_WEIGHTED_CUM_SQL = """cum AS (
  SELECT l_returnflag, l_extendedprice,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag) AS totw
  FROM lineitem
)"""


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group: the lower weighted median of
    l_extendedprice weighted by l_quantity, per l_returnflag — the
    robust price statistic quantity-weighted reporting actually needs
    (plain median treats a 1-unit and a 50-unit line identically).
    Definition: sort by (value, orderkey, linenumber); the median is
    the first value whose running weight reaches half the group total
    (2*cumw >= total). The result is ONE OF THE INPUT VALUES — no
    interpolation arithmetic — so cross-engine equality is exact by
    construction. Weights are integer-valued quantities summed as
    BIGINT. One partitioned sort per group; no global window."""
    cum = _weighted_cum(spark, sf_dir)
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.max("totw").alias("total_weight"),
        )
    )


AGG_WEIGHTED_MEDIAN_SQL = f"""
WITH {_WEIGHTED_CUM_SQL}
SELECT l_returnflag,
       MIN(l_extendedprice) AS weighted_median,
       CAST(MAX(totw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cumw >= totw
GROUP BY l_returnflag
"""


def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted percentiles (p25/p50/p75) per group — the
    generalization of agg_weighted_median to a percentile ladder: per
    l_returnflag, the first l_extendedprice whose running
    quantity-weight reaches p of the group total, evaluated from ONE
    cumulative pass (the three thresholds are integer-arithmetic
    filters 4·cumw >= totw / 2·cumw >= totw / 4·cumw >= 3·totw — no
    interpolation, every answer is an input value, so cross-engine
    equality is exact by construction).

    Scale shape: the median's single partitioned sort per group
    (_weighted_cum; no global window); the three percentile slices
    reuse the one windowed frame."""
    cum = _weighted_cum(spark, sf_dir)
    slices = []
    for label, lhs, rhs in (
        ("p25", 4, 1),
        ("p50", 2, 1),
        ("p75", 4, 3),
    ):
        slices.append(
            cum.filter(lhs * F.col("cumw") >= rhs * F.col("totw"))
            .groupBy("l_returnflag")
            .agg(
                F.lit(label).alias("pct"),
                F.min("l_extendedprice").alias("value"),
                F.max("totw").alias("total_weight"),
            )
            .select("l_returnflag", "pct", "value", "total_weight")
        )
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out


AGG_WEIGHTED_PCTL_SQL = f"""
WITH {_WEIGHTED_CUM_SQL}
SELECT l_returnflag, 'p25' AS pct, MIN(l_extendedprice) AS value,
       CAST(MAX(totw) AS BIGINT) AS total_weight
FROM cum WHERE 4 * cumw >= totw GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, 'p50', MIN(l_extendedprice),
       CAST(MAX(totw) AS BIGINT)
FROM cum WHERE 2 * cumw >= totw GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, 'p75', MIN(l_extendedprice),
       CAST(MAX(totw) AS BIGINT)
FROM cum WHERE 4 * cumw >= 3 * totw GROUP BY l_returnflag
"""


def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) — the window aggregate SQL engines
    refuse to evaluate directly (DISTINCT inside a running frame):
    per user, how many distinct event types have been seen up to each
    event. Decomposed into two windows — a first-occurrence flag
    (row_number over (user, type) == 1) and a running sum of flags over
    (user) — both shuffling on the SAME user key, so at scale this is
    one hash partition feeding two local sorts, never a distinct-state
    blowup. Total order (ts, event_id) makes every prefix engine-exact."""
    ev = _t(spark, sf_dir, "events")
    first_w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select("event_id", "user_id", "ts", "event_type")
        .withColumn(
            "first_seen", (F.row_number().over(first_w) == 1).cast("long")
        )
        .withColumn("n_distinct_types", F.sum("first_seen").over(run_w))
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            F.col("n_distinct_types").cast("long").alias("n_distinct_types"),
        )
    )


WINDOW_RUNNING_DISTINCT_SQL = """
WITH flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
       CAST(SUM(first_seen) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_types
FROM flagged
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation) + median — verified
    bit-identical between Spark's percentile() and DuckDB's
    quantile_cont(); rounded to 6 dp anyway. (approx_percentile is the
    100 TB path; it is sketch-based and engine-specific, so the exact
    form carries the oracle.)"""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95_price"),
        F.round(F.median("l_discount"), 6).alias("med_discount"),
    )


AGG_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
       round(median(l_discount), 6) AS med_discount
FROM lineitem GROUP BY l_returnflag
"""


def filter_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, demonstrated as data: customers 'without
    open orders' counted three ways — NOT IN against a subquery that
    CONTAINS a NULL (three-valued logic makes every row UNKNOWN →
    count 0), NOT IN against the null-filtered subquery, and NOT EXISTS
    (null-safe by construction, the form a pipeline should use). The
    three counts landing as (0, n, n) IS the semantic contract; both
    engines implement the same standard, so the oracle replays it
    exactly. One row out; at scale all three forms are anti-joins."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # planted NULL in the subquery domain: real pipelines hit this via
    # nullable FK columns, simulated here with an explicit NULL union
    open_keys = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    with_null = open_keys.unionByName(
        spark.range(1).select(F.lit(None).cast("long").alias("k"))
    )
    cust.createOrReplaceTempView("t_cust")
    with_null.createOrReplaceTempView("t_keys_null")
    open_keys.createOrReplaceTempView("t_keys")
    return spark.sql("""
        SELECT
          (SELECT COUNT(*) FROM t_cust
           WHERE c_custkey NOT IN (SELECT k FROM t_keys_null)) AS n_not_in_with_null,
          (SELECT COUNT(*) FROM t_cust
           WHERE c_custkey NOT IN (SELECT k FROM t_keys)) AS n_not_in_filtered,
          (SELECT COUNT(*) FROM t_cust c
           WHERE NOT EXISTS (SELECT 1 FROM t_keys x WHERE x.k = c.c_custkey))
            AS n_not_exists
    """)


FILTER_NOT_IN_NULL_SQL = """
WITH keys AS (
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
), keys_null AS (
  SELECT k FROM keys UNION ALL SELECT NULL
)
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM keys_null)) AS n_not_in_with_null,
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM keys)) AS n_not_in_filtered,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM keys x WHERE x.k = c.c_custkey))
    AS n_not_exists
"""


def timeseries_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 5-row moving median per user — the robust smoother
    (median filters shrug off the spikes an EWMA chases; the standard
    pre-cleaning pass before anomaly scoring). percentile(value, 0.5)
    over a ROWS frame — Spark's interpolating percentile and DuckDB's
    quantile_cont are verified bit-identical (agg_percentiles), rounded
    to 6 dp anyway; (ts, event_id) total order makes every frame
    engine-exact. One shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med5"),
    )


TIMESERIES_MOVING_MEDIAN_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(value, 6) AS value,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS med5
FROM events
"""


def higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda higher-order functions over the embedding arrays:
    transform / filter / exists / forall / aggregate (fold) / zip_with —
    all JVM-side, no Python. Scalar outputs only (portable hashing)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.col("embedding").cast("array<double>")
    fsum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.round(fsum(v), 6).alias("sum_all"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.exists(v, lambda x: x > 0.5).alias("any_gt_half"),
        F.forall(v, lambda x: x < 1.0).alias("all_lt_one"),
        F.round(fsum(F.transform(v, lambda x: x * 2.0)), 6).alias("sum_doubled"),
        F.round(fsum(F.zip_with(v, v, lambda x, y: x * y)), 6).alias("dot_self"),
    )


HIGHER_ORDER_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 100
)
SELECT vec_id,
       round(list_aggregate(v, 'sum'), 6) AS sum_all,
       CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
       len(list_filter(v, x -> x > 0.5)) > 0 AS any_gt_half,
       len(list_filter(v, x -> NOT (x < 1.0))) = 0 AS all_lt_one,
       round(list_aggregate(list_transform(v, x -> x * 2.0), 'sum'), 6) AS sum_doubled,
       round(list_aggregate(list_transform(list_zip(v, v), p -> p[1] * p[2]), 'sum'), 6) AS dot_self
FROM e
"""


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set made deterministic: sort + join before
    emitting (raw collect order is partition-arrival order — never hash
    an unsorted collect)."""
    supp = _t(spark, sf_dir, "supplier")
    return supp.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias("names_sorted"),
        F.size(F.collect_set("s_name")).cast("long").alias("n_distinct_names"),
    )


AGG_COLLECT_SORTED_SQL = """
SELECT s_nationkey,
       string_agg(s_name, '|' ORDER BY s_name) AS names_sorted,
       CAST(COUNT(DISTINCT s_name) AS BIGINT) AS n_distinct_names
FROM supplier GROUP BY s_nationkey
"""


def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregates) with a composite struct
    ordering for deterministic ties; oracle spells the same thing with a
    ranking window."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.max_by("c_name", F.struct("c_acctbal", "c_custkey")).alias("richest"),
        F.min_by("c_name", F.struct("c_acctbal", "c_custkey")).alias("poorest"),
    )


AGG_MIN_MAX_BY_SQL = """
WITH ranked AS (
  SELECT c_nationkey, c_name,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
  FROM customer
)
SELECT c_nationkey,
       MAX(CASE WHEN rmax = 1 THEN c_name END) AS richest,
       MAX(CASE WHEN rmin = 1 THEN c_name END) AS poorest
FROM ranked GROUP BY c_nationkey
"""


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: phase 1 aggregates
    on (key, salt) — spreading a hot key over 16 reducers — phase 2
    merges the partials. events has only 5 event_type values, the worst
    skew shape; at 100 TB this is the difference between one straggler
    reducer and 16 balanced ones. Results identical to the direct
    aggregate (decimal sums are associative), which is what the oracle
    runs."""
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", (F.col("user_id") % 16).cast("int"))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("sum_value"),
    )


SKEW_SALTED_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank, cume_dist, ntile."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


WINDOW_DISTRIBUTION_SQL = """
SELECT c_mktsegment, c_custkey,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
"""


def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink surface: write orders partitioned by status, read back with a
    partition filter (pruned at the file-listing level — the scan never
    opens non-'F' directories), aggregate. Oracle: the same aggregate
    straight off the source table."""
    out = f"/tmp/spark_graft_sink/{sf_dir.strip('/').replace('/', '_')}/orders_by_status"
    orders = _t(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


SINK_PARQUET_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive range filters + one global
    aggregate — the canonical predicate-pushdown benchmark (every filter
    reaches the parquet reader; no shuffle at all, just a partial+final
    agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum_dec(dmoney("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)")).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q6_SQL = f"""
SELECT {sql_dsum_dec(sql_money('l_extendedprice') + " * CAST(l_discount AS DECIMAL(4,2))")} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=>): join on a nullable derived key where
    NULL must equal NULL (plain = would drop those rows). The derived key
    nulls out 'F'-status orders to exercise both sides."""
    orders = _t(spark, sf_dir, "orders")
    derived = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("status_or_null"),
    )
    return (
        derived.groupBy("status_or_null")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("status_or_null").eqNullSafe(F.lit(None).cast("string"))
                | (F.col("status_or_null") == "O"))
    )


FILTER_NULL_SAFE_SQL = """
SELECT status_or_null, COUNT(*) AS n
FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'F') AS status_or_null FROM orders)
GROUP BY status_or_null
HAVING status_or_null IS NOT DISTINCT FROM NULL OR status_or_null = 'O'
"""


def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join (hinted): both sides shuffle on the key but the
    build side hashes instead of sorting — wins over sort-merge when one
    side is much smaller but too big to broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").hint("shuffle_hash")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_quantity").alias("sum_qty"))
    )


JOIN_SHUFFLE_HASH_SQL = f"""
SELECT p_brand, COUNT(*) AS n_lines, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/lateral surface: posexplode of the tokenized part name —
    one output row per (row, position, token)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return part.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    ).select("p_partkey", F.col("pos").cast("long").alias("pos"), "word")


EXPLODE_LATERAL_SQL = """
SELECT p_partkey, CAST(i - 1 AS BIGINT) AS pos, words[i] AS word
FROM (SELECT p_partkey, string_split(p_name, ' ') AS words
      FROM part WHERE p_partkey <= 200),
     UNNEST(generate_series(1, len(words))) AS g(i)
"""


def correlated_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their own
    customer's average order value (Catalyst decorrelates this into an
    aggregate + join — no per-row subquery execution)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_corr o1
        WHERE o_totalprice > 1.5 * (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(o_totalprice)
            FROM orders_corr o2 WHERE o2.o_custkey = o1.o_custkey)
        """
    )


CORRELATED_SUBQUERY_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o1
WHERE o_totalprice > 1.5 * (
    SELECT {sql_davg('o_totalprice')}
    FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
"""


def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a cross-table correlated condition —
    orders having at least one line shipped > 60 days after the order
    date, counted per priority. Catalyst plans it as a left-semi join."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late_orders = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late_orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


Q4_LATE_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, 4-way join
    + top-20. Deterministic order: (revenue desc, custkey)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = drev()
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum_dec(revenue).alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {sql_dsum_dec(sql_rev())} AS lost_revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def window_value_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full-frame
    (default frames end at CURRENT ROW — last_value without the explicit
    frame is a classic silent bug)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first_value("o_totalprice").over(w).alias("first_price"),
        F.last_value("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


WINDOW_VALUE_NAV_SQL = """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS last_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-ish sketch) — the 100 TB quantile
    path. Sketch internals are engine-specific -> rows-only; accuracy vs
    the exact percentile is the dedicated test's job."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.99, 1000).alias("p99_approx"),
    )


def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping()/grouping_id() flags — how downstream
    consumers of a rollup distinguish 'NULL because aggregated away'
    from 'NULL in the data'. Both flags cast to BIGINT on both engines
    (Spark emits int/long, DuckDB int64 — the type-strict gate forces
    the explicit cast)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping_id().cast("long").alias("gid"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


AGG_GROUPING_ID_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4 frequent-items sketch, maxItemsTracked
    bounded) over exploded document tokens — the 100 TB heavy-hitter
    path: sketch size is fixed regardless of vocabulary, partials merge
    map-side. Sketch internals are engine-specific -> rows-only; recall
    against the exact top-k is the dedicated test's job
    (tests/test_accuracy.py). Output re-ranked deterministically
    (count desc, term asc) because the sketch's own tie order isn't."""
    from ..operators.textops import explode_tokens

    docs = _t(spark, sf_dir, "documents")
    tok = explode_tokens(docs, out="term")
    # Re-rank inside the single sketch-result array (array_sort on
    # (-count, term) structs) — per-row, no window, nothing for the
    # plan-shape gate to flag.
    ranked = F.array_sort(
        F.transform(
            F.expr("approx_top_k(term, 20, 1000)"),
            lambda s: F.struct(
                (-s["count"]).alias("neg"),
                s["item"].alias("term"),
                s["count"].alias("cnt"),
            ),
        )
    )
    return (
        tok.select(ranked.alias("tk"))
        .select(F.posexplode("tk").alias("pos", "e"))
        .select(
            F.col("e.term").alias("term"),
            F.col("e.cnt").cast("long").alias("approx_count"),
            (F.col("pos") + 1).cast("long").alias("rk"),
        )
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): for each order, revenue
    of the customer's orders in the preceding-30-epoch-days window —
    peers are selected by ORDER-BY VALUE distance, so ties and gaps
    behave differently from a ROWS frame."""
    orders = _t(spark, sf_dir, "orders")
    day = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
        .cast("double")
        .alias("rev_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


WINDOW_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS rev_30d,
       COUNT(*) OVER w AS n_orders_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(epoch(o_orderdate) / 86400 AS BIGINT)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip (columnar alternative to parquet, same
    pushdown machinery): write suppliers, read back with a filter,
    aggregate."""
    out = f"/tmp/spark_graft_sink/{sf_dir.strip('/').replace('/', '_')}/supplier_orc"
    supp = _t(spark, sf_dir, "supplier")
    supp.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("s_acctbal") > 0)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        dsum("s_acctbal").alias("sum_bal"),
    )


SINK_ORC_SQL = f"""
SELECT s_nationkey, COUNT(*) AS n_suppliers, {sql_dsum('s_acctbal')} AS sum_bal
FROM supplier WHERE s_acctbal > 0 GROUP BY s_nationkey
"""


def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source round-trip with an explicit read schema (header
    on, no inference pass — schema inference is a second full scan at
    100 TB). Doubles are formatted then re-parsed, so the aggregate runs
    on round-tripped values; the oracle mirrors with a printf round-trip."""
    out = f"/tmp/spark_graft_sink/{sf_dir.strip('/').replace('/', '_')}/nation_csv"
    nation = _t(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").option(
        "header", True
    ).csv(out)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


SINK_CSV_SQL = """
SELECT n_regionkey, COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation GROUP BY n_regionkey
"""


def agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation + least-squares slope/intercept of l_extendedprice on
    l_quantity per return flag — computed from EXACT decimal moments
    (Sx, Sy, Sxy, Sxx, Syy), then identical double arithmetic on both
    engines. Native corr()/regr_slope() are partition-order-dependent
    double accumulations that can't be hash-compared across engines; the
    moment form is deterministic AND the map-side-combinable shape you
    want at 100 TB anyway (one pass, 5 partial sums)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(4,0)")
    y = dmoney("l_extendedprice")
    # moments exceed 2^53 (syy is 17 significant digits at sf0.01), so the
    # decimal->double hop MUST go through a string (functions/numeric.py)
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_dec(x).alias("sx"),
        dsum_dec(y).alias("sy"),
        dsum_dec(x * y).alias("sxy"),
        dsum_dec(x * x).alias("sxx"),
        dsum_dec(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x_n
    return m.select(
        "l_returnflag",
        "n",
        (cov_n / F.sqrt(var_x_n * var_y_n)).alias("corr_qty_price"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / nd).alias("intercept"),
    )


AGG_REGRESSION_SQL = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(4,0)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(4,0)) * CAST(l_quantity AS DECIMAL(4,0))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * sxy - sx * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy))
         AS corr_qty_price,
       (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
       (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
         / CAST(n AS DOUBLE) AS intercept
FROM m
"""


def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent value) of o_orderpriority per order
    status — count + total-ordered row_number (ties break to the smaller
    value), the deterministic form of what approximate frequent-items
    sketches estimate."""
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


AGG_MODE_SQL = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
  FROM orders GROUP BY o_orderstatus, o_orderpriority
) WHERE rn = 1
"""


def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source round-trip (Spark 4 ships the XML datasource
    natively). Explicit read schema — like the CSV sink, inference is a
    second full scan at 100 TB. Avro is NOT available in this
    distribution (spark-avro is an external module, no jar baked in)."""
    out = f"/tmp/spark_graft_sink/{sf_dir.strip('/').replace('/', '_')}/nation_xml"
    nation = _t(spark, sf_dir, "nation")
    nation.write.format("xml").option("rowTag", "nation").mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .load(out)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


SINK_XML_SQL = """
SELECT n_regionkey, COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation GROUP BY n_regionkey
"""


def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round-trip with an explicit read schema.
    Projection excludes timestamp columns so the round-trip is exact
    (JSON dates re-parse through a formatter; the determinism convention
    is epoch ints or ISO strings, applied upstream when needed)."""
    out = f"/tmp/spark_graft_sink/{sf_dir.strip('/').replace('/', '_')}/orders_jsonl"
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    orders.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE"
    ).json(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


SINK_JSONL_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share
    for one ship month) over a lineitem ⋈ part join. Both numerator and
    denominator are exact decimal sums, so the ratio is deterministic."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    part = _t(spark, sf_dir, "part")
    rev = drev()
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (100.0 * F.sum(promo_rev).cast("double") / F.sum(rev).cast("double"))
            .alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q14_SQL = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN {sql_rev()}
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
            / CAST(SUM({sql_rev()}) AS DOUBLE)
         AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-01'
"""


def pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar Pandas UDF (Arrow-batched) — the sanctioned
    escape hatch when an expression genuinely can't be built from
    native functions. Deliberately simple arithmetic here so the oracle
    can verify the Arrow round-trip itself; the policy (UDFs stay out of
    hot paths) lives in SURVEY §1.4."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def risk_score(total: pd.Series) -> pd.Series:
        return ((total / 100000.0) ** 2 + 1.0).round(6)

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return orders.select("o_orderkey", risk_score("o_totalprice").alias("risk"))


PANDAS_UDF_SQL = """
SELECT o_orderkey, round(pow(o_totalprice / 100000.0, 2) + 1.0, 6) AS risk
FROM orders WHERE o_orderkey < 2000
"""


def bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family over integer keys."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    k = F.col("p_partkey")
    return part.select(
        "p_partkey",
        (k.bitwiseAND(F.lit(255))).alias("and255"),
        (k.bitwiseOR(F.lit(16))).alias("or16"),
        (k.bitwiseXOR(F.lit(0xFF))).alias("xorff"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 1).alias("shr1"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


BITWISE_SQL = """
SELECT p_partkey,
       p_partkey & 255 AS and255,
       p_partkey | 16 AS or16,
       xor(p_partkey, 255) AS xorff,
       p_partkey << 2 AS shl2,
       p_partkey >> 1 AS shr1,
       CAST(bit_count(p_partkey) AS BIGINT) AS popcount
FROM part WHERE p_partkey <= 500
"""


def agg_filtered_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered and boolean aggregates: count_if / sum FILTER semantics,
    bool_and / bool_or."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT",
                   F.col("o_totalprice").cast("decimal(18,4)"))
        ).cast("double").alias("urgent_revenue"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 450000).alias("any_huge"),
    )


AGG_FILTERED_BOOL_SQL = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_totalprice > 200000) AS n_big,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_revenue,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_totalprice > 450000) AS any_huge
FROM orders GROUP BY o_orderstatus
"""


def string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance string matching (fuzzy join shape): nation-name
    pairs within levenshtein distance 6 — both engines implement the
    identical Wagner-Fischer distance.

    100 TB shape: NOT a cross join. Edit distance <= 6 requires length
    difference <= 6, so strings are banded by floor(length/7) and side A
    fans out to bands {b-1, b, b+1}: every qualifying pair meets on
    exactly one equi-key (B's band is unique per row, so no dup pairs),
    and the join is a plain hash join on `band`. The banding is lossless,
    which is why the oracle SQL stays the declarative all-pairs spec."""
    BAND = 7  # band width = max distance + 1
    a = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a")
    )
    b = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key_b"),
        F.col("n_name").alias("name_b"),
        F.floor(F.length("n_name") / BAND).alias("band"),
    )
    a_fanned = a.withColumn(
        "band",
        F.explode(
            F.array(*[F.floor(F.length("name_a") / BAND) + i for i in (-1, 0, 1)])
        ),
    )
    return (
        a_fanned.join(b, "band")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= 6
        )  # cheap pre-filter before the O(mn) distance
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 6)
    )


STRING_SIMILARITY_SQL = """
SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
       CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 6
"""


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via floor bucketing — the plain-relational
    distribution profile (bucket -> count, range edges)."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000).cast("long")
    return (
        li.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


AGG_HISTOGRAM_SQL = """
SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bucket,
       COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
FROM lineitem GROUP BY 1
"""


def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling — deterministic for a fixed seed +
    partitioning but not SQL-expressible, so rows-only; the sampling
    fraction is asserted in tests."""
    li = _t(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safety `try_*` family: error-to-NULL variants of cast,
    division, timestamp parse, and array index — the expressions a
    dirty-data ingest uses so one malformed row nulls instead of failing
    the job. All map-side; DuckDB mirrors via TRY_CAST / NULLIF / lazy
    CASE (which never evaluates the failing branch).

    SCALE NOTE (round-14 profiling): Spark implements try_cast /
    try_to_timestamp failure via a thrown-and-caught JVM exception PER
    FAILING ROW (~9 µs each) — on a column where most rows fail (this
    entry's o_orderstatus never parses), the try_* failure path is
    ~15× the success path and dominated this entry's runtime (1.9 of
    2.4 s at sf0.1; the 17.9× GROWTH_r14 ratio was mostly this). The
    production idiom at 100 TB is a cheap codegen'd regex GUARD in
    front of the try_* safety net: the guard must OVER-approximate the
    accepted grammar (a false positive falls through to try_* which
    still nulls safely; a false negative would wrongly null a
    castable value — so the guard character classes mirror
    UTF8String.trimAll's ≤0x20 trimming). try_* stays in the plan for
    rows that pass the guard; values are bit-identical (exceptAll both
    ways vs the bare form: 0 rows at sf0.1). Measured 2.42 → ~0.5 s at
    sf0.1 (same session, warm)."""
    orders = _t(spark, sf_dir, "orders")
    # over-approximation of UTF8String.toLong's accepted grammar
    LONGISH = r"'^[\\x00-\\x20]*[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?[dDfFlL]?[\\x00-\\x20]*$'"
    # over-approximation of strict 'yyyy-MM-dd' (CORRECTED parser).
    # Optional leading sign: strict 'yyyy' uses SignStyle.EXCEEDS_PAD,
    # which accepts (indeed requires) a sign on expanded years like
    # '+10000-01-01' — the guard must not reject those (ADVICE r14).
    DATEISH = r"'^[\\x00-\\x20]*[+-]?[0-9]{4,6}-[0-9]{1,2}-[0-9]{1,2}[\\x00-\\x20]*$'"
    return orders.select(
        "o_orderkey",
        F.expr("try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)").alias(
            "prio_num"
        ),
        F.expr(
            "CASE WHEN o_orderstatus RLIKE "
            f"{LONGISH} THEN try_cast(o_orderstatus AS BIGINT) END"
        ).alias("status_num"),
        F.expr("try_divide(o_totalprice, o_custkey % 7)").alias("price_per_mod"),
        F.expr(
            "try_element_at(split(o_orderpriority, '-'), 3)"
        ).alias("prio_part3"),
        F.expr(
            "CASE WHEN o_orderstatus RLIKE "
            f"{DATEISH} THEN try_to_timestamp(o_orderstatus, 'yyyy-MM-dd') END"
        ).isNull().alias("bad_ts_is_null"),
    )


TRY_FUNCTIONS_SQL = """
SELECT o_orderkey,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_num,
       TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
       o_totalprice / NULLIF(o_custkey % 7, 0) AS price_per_mod,
       str_split(o_orderpriority, '-')[3] AS prio_part3,
       TRY_STRPTIME(o_orderstatus, '%Y-%m-%d') IS NULL AS bad_ts_is_null
FROM orders
"""


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnosis: the top-10 lineitem suppliers by row count
    with each key's share of the table — the first query an operator
    runs before deciding whether a join needs salting or AQE skew
    handling at 100 TB. One mergeable count aggregate; the total is a
    broadcast 1-row scalar; top-k is orderBy+limit (TakeOrdered, no
    global sort)."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("n_rows"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("l_suppkey").asc())
        .limit(10)
    )


KEY_SKEW_SQL = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
), total AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_rows FROM counts
)
SELECT l_suppkey, cnt, round(cnt::DOUBLE / n_rows, 6) AS share
FROM counts CROSS JOIN total
ORDER BY cnt DESC, l_suppkey ASC
LIMIT 10
"""


_OVL_EPOCH = "1990-01-01"


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi key — the shape Spark would
    otherwise plan as a nested-loop theta join — solved by BUCKET
    BLOCKING: each interval explodes into the week buckets it touches
    (bounded ×⌈len/7⌉+1 inflation), candidates meet in an ordinary hash
    join on the bucket key, the exact overlap predicate filters inside
    buckets, and DISTINCT collapses the ≤2-bucket double-matches. At
    100 TB this is THE overlap-join idiom: shuffle volume is |rows| ×
    buckets-per-interval, never |left|×|right|, and the plan-shape gate
    passes with no waiver (pure equi hash join). Shipment windows
    [l_shipdate, +3d] (deterministic 1-in-997 order sample) vs order
    windows [o_orderdate, +7d] (1-in-13); output = the overlapping
    pairs with their overlap length in days. Oracle: the plain
    inequality join over the same samples."""
    wk = lambda c: F.floor(  # noqa: E731 — local shorthand, both sides mirror it
        F.datediff(c, F.lit(_OVL_EPOCH).cast("date")) / 7
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 997 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.to_date("l_shipdate").alias("l_start"),
            F.date_add(F.to_date("l_shipdate"), 3).alias("l_end"),
        )
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_start"),
            F.date_add(F.to_date("o_orderdate"), 7).alias("o_end"),
        )
    )
    lb = li.withColumn("wk", F.explode(F.sequence(wk(F.col("l_start")), wk(F.col("l_end")))))
    ob = orders.withColumn("wk", F.explode(F.sequence(wk(F.col("o_start")), wk(F.col("o_end")))))
    return (
        lb.join(ob, "wk")
        .filter((F.col("l_start") <= F.col("o_end")) & (F.col("o_start") <= F.col("l_end")))
        .select(
            "l_orderkey", "l_linenumber", "o_orderkey",
            "l_start", "l_end", "o_start", "o_end",
        )
        .distinct()
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
            "o_orderkey",
            (
                F.datediff(
                    F.least("l_end", "o_end"), F.greatest("l_start", "o_start")
                )
                + 1
            )
            .cast("bigint")
            .alias("overlap_days"),
        )
    )


_CUSTOM_SOURCE_N = 200


def source_custom_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 custom Python DataSource API
    (sources/custom_source.DeterministicRowsSource): register a
    pure-Python connector and read it with the ordinary
    ``spark.read.format(...)`` path, 4 real input partitions. The
    source's content is a deterministic (id, md5-of-id) stream, so the
    oracle replays it from generate_series — proving the data came
    through the connector intact, partitioning included."""
    from ..sources.custom_source import DeterministicRowsSource

    spark.dataSource.register(DeterministicRowsSource)
    df = (
        spark.read.format("graft_rows")
        .option("n", _CUSTOM_SOURCE_N)
        .load()
    )
    return df.groupBy((F.col("id") % 4).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.sum((F.substring("h", 1, 1) < "8").cast("int"))
        .cast("long")
        .alias("n_low_hash"),
    )


SOURCE_CUSTOM_PYTHON_SQL = f"""
SELECT CAST(k % 4 AS BIGINT) AS bucket,
       COUNT(*) AS n_rows,
       MIN(k) AS min_id,
       MAX(k) AS max_id,
       CAST(SUM(CASE WHEN substr(md5(CAST(k AS VARCHAR)), 1, 1) < '8'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low_hash
FROM generate_series(0, {_CUSTOM_SOURCE_N - 1}) AS g(k)
GROUP BY 1
"""


JOIN_INTERVAL_OVERLAP_SQL = """
WITH l AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS l_start,
         CAST(l_shipdate AS DATE) + 3 AS l_end
  FROM lineitem WHERE l_orderkey % 997 = 0
), o AS (
  SELECT o_orderkey,
         CAST(o_orderdate AS DATE) AS o_start,
         CAST(o_orderdate AS DATE) + 7 AS o_end
  FROM orders WHERE o_orderkey % 13 = 0
)
SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
       o.o_orderkey,
       CAST(least(l_end, o_end) - greatest(l_start, o_start) + 1 AS BIGINT)
         AS overlap_days
FROM l JOIN o ON l_start <= o_end AND o_start <= l_end
"""


def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal ingest SOURCE: ``spark.read.format('binaryFile')``
    over a directory of opaque blobs — (path, modificationTime, length,
    content) rows with no decode, the entry point a 100 TB image/audio
    corpus actually arrives through (the scan parallelizes per file;
    pathGlobFilter/recursiveFileLookup prune at listing time). Fixture:
    the doc_id % 25 == 0 slice written one .bin file each (bounded
    driver-side writes — ingest fixture, not the operator under test).
    The query recovers doc_id from the file PATH and verifies content
    integrity via length + sha256 against the source table — exactly
    what the oracle recomputes."""
    import os
    import shutil

    # pid-keyed scratch so concurrent sessions don't race (ADVICE r6)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    d = f"/tmp/spark_graft_binsrc/{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rows = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        with open(os.path.join(d, f"{r['doc_id']}.bin"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    bf = spark.read.format("binaryFile").load(d)
    return bf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("byte_len"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


SOURCE_BINARY_FILES_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS content_sha256
FROM documents WHERE doc_id % 25 = 0
"""


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two ingest batches written with
    DIFFERENT schemas (an early batch carrying o_totalprice, a later one
    that added o_orderpriority instead), read back as ONE table with
    ``mergeSchema=true`` — the scan unions the footers' schemas and
    null-fills the columns a file lacks, which is how a years-old 100 TB
    table whose schema grew over time actually reads. The report
    aggregates per batch: row count, per-column non-null counts (the
    null-fill contract), and the decimal-exact price sum. Fixture writes
    are the ingest simulation, not the operator under test; the oracle
    recomputes the same split off the raw table."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    d = f"/tmp/spark_graft_schemaevo/{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).cast("int").alias("batch")
    ).write.parquet(f"{d}/b1")
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", F.lit(2).cast("int").alias("batch")
    ).write.parquet(f"{d}/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{d}/b1", f"{d}/b2")
    return merged.groupBy(F.col("batch")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_orderpriority").alias("n_priority"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderpriority").alias("min_priority"),
    )


SOURCE_SCHEMA_EVOLUTION_SQL = f"""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS batch,
       COUNT(*) AS n_rows,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END) AS BIGINT)
         AS n_price,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS BIGINT)
         AS n_priority,
       {sql_dsum('CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END')} AS sum_price,
       MIN(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS min_priority
FROM orders
GROUP BY 1
"""


def source_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-JSON ingestion under PERMISSIVE mode with a
    ``_corrupt_record`` column — the contract a 100 TB crawl ingest
    actually runs under: malformed lines land in the corrupt column
    with every data field null instead of killing the job (contrast the
    reference's silent-drop rule, fidelity A2, and DROPMALFORMED).
    Fixture: the o_orderkey % 41 == 0 slice serialized to JSONL with
    every third line deterministically corrupted (its opening brace
    doubled); the report aggregates good/corrupt counts, the
    decimal-exact price sum over GOOD rows only, and the id range —
    exactly what the oracle recomputes from the same corruption rule."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    d = f"/tmp/spark_graft_jsonperm/{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 41 == 0)
    lines = orders.select(
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(
                F.lit("{"),
                F.to_json(F.struct("o_orderkey", "o_totalprice", "o_orderstatus")),
            ),
        )
        .otherwise(
            F.to_json(F.struct("o_orderkey", "o_totalprice", "o_orderstatus"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(d)
    parsed = (
        spark.read.schema(
            "o_orderkey long, o_totalprice double, o_orderstatus string, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(d)
    )
    good = F.col("_corrupt_record").isNull()
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(good.cast("long")).cast("long").alias("n_good"),
        F.sum((~good).cast("long")).cast("long").alias("n_corrupt"),
        dsum(F.when(good, F.col("o_totalprice"))).alias("sum_good_price"),
        F.min(F.when(good, F.col("o_orderkey"))).alias("min_good_key"),
        F.max(F.when(good, F.col("o_orderkey"))).alias("max_good_key"),
    )


SOURCE_JSON_PERMISSIVE_SQL = f"""
WITH slice AS (
  SELECT o_orderkey, o_totalprice,
         (o_orderkey % 3 = 0) AS corrupt
  FROM orders WHERE o_orderkey % 41 = 0
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       {sql_dsum('CASE WHEN NOT corrupt THEN o_totalprice END')} AS sum_good_price,
       MIN(CASE WHEN NOT corrupt THEN o_orderkey END) AS min_good_key,
       MAX(CASE WHEN NOT corrupt THEN o_orderkey END) AS max_good_key
FROM slice
"""


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written ``bucketBy(8,
    <orderkey>).sortBy(<orderkey>).saveAsTable``, then joined with a
    MERGE hint — the SortMergeJoin runs with ZERO Exchange on either
    side because bucket layout already satisfies the join's required
    distribution (asserted by tests/test_scale_idioms.py::
    test_registry_bucketed_join_shuffle_free). At 100 TB this is the
    bucketing contract: pay the shuffle once at ingest, then every
    recurring fact-fact join on that key is shuffle-free. Oracle: the
    same join-aggregate straight off the raw tables."""
    import os
    import shutil
    from urllib.parse import urlparse

    # pid-keyed table names so concurrent sessions don't race (ADVICE r6)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    pid = os.getpid()
    li_t, ord_t = f"graft_li_bkt_{tag}_{pid}", f"graft_ord_bkt_{tag}_{pid}"
    # the managed-table root comes from the live session config, not a
    # duplicated literal — if session.py's warehouse dir changes, the
    # stale-file cleanup must keep matching saveAsTable's location
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (li_t, ord_t):
        # DROP TABLE only clears the catalog; stale managed-location
        # files from a previous session make saveAsTable refuse.
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable(li_t)
    _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable(ord_t)
    li = spark.table(li_t)
    orders = spark.table(ord_t).hint("merge")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_dec(drev()).alias("revenue"),
        )
    )


JOIN_BUCKETED_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       {sql_dsum_dec(sql_rev())} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# Bucket count for the hand-rolled runtime-filter bitmap below. At test
# SF a one-week build side holds a few dozen keys so most buckets stay
# EMPTY and the prefilter is genuinely selective; in production size this
# a few x the expected build-side key count to bound the false-positive
# rate (a false positive only costs shuffle bytes — never correctness).
_BLOOM_BUCKETS = 8192


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join reduction — the declarative form of the
    Bloom-filter runtime filter Spark's internal ``bloom_filter_agg`` /
    ``might_contain`` pair injects (not SQL-callable in this build): the
    build side (one week of orders) is reduced to its set of OCCUPIED
    HASH BUCKETS — at most ``_BLOOM_BUCKETS`` rows no matter how large
    the build side — which broadcast-SEMI-joins the probe side BEFORE
    the real equi-join, so the expensive shuffle only moves lineitem
    rows whose key COULD match. Lossless by construction: a probe row
    whose bucket is unoccupied cannot have a matching o_orderkey, and
    bucket false positives are removed by the real join that follows.
    At 100 TB this is the standard shuffle-reduction play for a
    selective fact-fact join: the occupied-bucket frame stays
    O(buckets) and broadcastable even when the filtered build side
    itself is NOT broadcastable, so the reduction applies exactly where
    a plain broadcast join cannot. The final join is hinted MERGE so the
    plan demonstrates the reduction feeding a shuffle join (a broadcast
    final join would make the prefilter moot); the prefilter shape is
    asserted by tests/test_scale_idioms.py::test_bloom_prefilter_shape.
    Oracle: the PLAIN join — identical results prove losslessness."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2001-03-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("2001-03-07").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    buckets = orders.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(_BLOOM_BUCKETS)).alias("bkt")
    ).distinct()
    pre = li.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(_BLOOM_BUCKETS)) == F.col("bkt"),
        "left_semi",
    )
    return (
        pre.join(orders.hint("merge"), pre.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_dec(drev()).alias("revenue"),
        )
    )


JOIN_BLOOM_PREFILTER_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       {sql_dsum_dec(sql_rev())} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate BETWEEN DATE '2001-03-01' AND DATE '2001-03-07'
GROUP BY o_orderpriority
"""


def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a partitioned fixture: orders are
    written partitioned by o_orderpriority (the production layout for a
    priority-sliced fact), read back, and joined to a dim whose filter
    selects two of the five priorities. Catalyst injects BOTH prunings
    into the fact scan (asserted by tests/test_scale_idioms.py::
    test_dpp_prunes_partitions): a STATIC partition filter inferred
    across the join from the dim's predicate, and a
    ``dynamicpruningexpression`` subquery that re-uses the dim's
    broadcast result so the scan reads ONLY partitions whose keys
    actually survive — at 100 TB the difference between scanning 2/5 of
    a partitioned fact and all of it, decided at RUNTIME from dim rows
    rather than a hand-maintained IN-list. PID-keyed scratch dir
    (concurrent sessions). Oracle: the equivalent join over the raw
    table."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    scratch = f"/tmp/spark_graft_dpp/{tag}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .parquet(scratch)
    )
    fact = spark.read.parquet(scratch)
    # dim from the RAW parquet (not a LocalRelation): the scan-level
    # predicate must survive into the optimized plan for the DPP rule to
    # judge the filter selective; a literal in-memory dim gets constant-
    # folded and the pruning subquery is never inserted.
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderpriority").startswith("1")
            | F.col("o_orderpriority").startswith("2")
        )
        .select(F.col("o_orderpriority").alias("prio"))
        .distinct()
    )
    return (
        fact.join(dim, fact.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


JOIN_DPP_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price
FROM orders
WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
GROUP BY o_orderpriority
"""


def join_null_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key skew split for an outer join: an optional FK (here a
    third of orders carry no customer, modelled as a deterministic CASE)
    can NEVER match, yet a plain shuffled LEFT JOIN still hashes every
    NULL key to ONE partition — at 100 TB that is a single straggler
    task holding a third of the fact. The idiom routes the NULL-key rows
    AROUND the join entirely: only non-null keys enter the (hinted MERGE)
    shuffle join, and the null branch unions back with typed NULL payload
    columns — a map-side-only path with no Exchange below it (asserted by
    tests/test_scale_idioms.py::test_null_skew_split_shape). Complements
    `join_skew_salted`, which handles hot NON-null keys; AQE skew-join
    can split the hot partition after the fact, but never shuffling the
    unmatchable rows at all is strictly cheaper. Oracle: the plain LEFT
    JOIN — NULLs never match, so the split is lossless by definition."""
    orders = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_custkey")).alias("cust_opt"),
        "o_totalprice",
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    matched = (
        orders.filter(F.col("cust_opt").isNotNull())
        .join(cust.hint("merge"), F.col("cust_opt") == F.col("c_custkey"), "left")
        .select("c_mktsegment", "o_totalprice")
    )
    bypassed = orders.filter(F.col("cust_opt").isNull()).select(
        F.lit(None).cast("string").alias("c_mktsegment"), "o_totalprice"
    )
    return (
        matched.unionAll(bypassed)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


JOIN_NULL_SKEW_SPLIT_SQL = f"""
WITH o AS (
  SELECT CASE WHEN o_orderkey % 3 <> 0 THEN o_custkey END AS cust_opt,
         o_totalprice
  FROM orders
)
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price
FROM o LEFT JOIN customer ON cust_opt = c_custkey
GROUP BY c_mktsegment
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-customer counts via mergeable bitmap partials —
    the exact-count sibling of the HLL family: stage 1 ORs each customer
    into a 64-bit word keyed by (priority, o_custkey div 64) — fixed-
    width, map-side-combinable state — and stage 2 sums popcounts per
    priority. The words are then BIT_OR-merged ACROSS priorities and
    popcounted for a grand-total row, proving the partials merge to any
    coarser rollup WITHOUT rescanning raw keys: re-aggregating
    popcounts would double-count customers appearing under two
    priorities (at sf0.01 the true grand total is ~1.5k while the five
    per-priority counts sum to ~6.5k), but merging words first is
    exact — asserted by tests/test_scale_idioms.py::
    test_bitmap_distinct_merge_beats_popcount_sum.
    That mergeability is what COUNT(DISTINCT) lacks at 100 TB — it
    shuffles raw keys once per grouping set, while bitmap partials
    shuffle fixed-width words that any later rollup can reuse (dense
    int keys; for sparse/string keys the HLL entries are the estimator
    arm). Oracle: the NAIVE ``COUNT(DISTINCT)`` at both levels — the
    bitmap plan must reproduce the true answer, not mirror itself."""
    orders = _t(spark, sf_dir, "orders")
    words = orders.groupBy(
        "o_orderpriority", F.expr("o_custkey div 64").alias("w")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(o_custkey % 64 AS INT)))").alias("bits")
    )
    per_priority = words.groupBy("o_orderpriority").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct_customers")
    )
    overall = (
        words.groupBy("w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            F.bit_count("bits").alias("pc"),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum("pc").alias("n_distinct_customers"))
    )
    return per_priority.unionAll(overall)


AGG_BITMAP_DISTINCT_SQL = """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct_customers
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL' AS o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct_customers
FROM orders
"""


# --------------------------------------------------------------------------
# Count-min sketch heavy-hitter estimates (mergeable frequency sketch)
# --------------------------------------------------------------------------

_CMS_D = 4      # hash rows
_CMS_W = 512    # buckets per row


def cms_bucket(r_col, key_col):
    """Row-salted count-min bucket h_r(key) = md5_u32("r:key") % w.
    The ONE definition shared by the batch sketch below and the
    streaming twin (streaming/sinks.CountMinMergeSink +
    run_countmin_stream): a streaming state hashed differently from
    its batch oracle would merge garbage, so the hash must never be
    copy-edited independently."""
    from ..functions.hashing import md5_u32

    return md5_u32(F.concat_ws(":", r_col, key_col)) % _CMS_W


def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimates for the true top-10 customers by order count — the
    FREQUENCY member of the mergeable-sketch family (HLL = cardinality,
    bitmap = exact distinct, KLL partials = quantiles): the sketch is a
    fixed d x w counter grid (here 4 x 512 BIGINTs) built in ONE
    map-side-combinable groupBy, and grids from any partition / day /
    source merge by cell-wise addition — the property COUNT(*) GROUP BY
    key lacks at 100 TB, where the raw key space doesn't fit anywhere.
    est(key) = MIN over rows of cell(row, h_row(key)), an overestimate
    ONLY (collisions add, never subtract) — asserted per-key by
    tests/test_scale_idioms.py.

    Hashes are the repo's md5-prefix integer idiom (row-salted), so
    DuckDB reproduces the grid bit-for-bit and the oracle carries full
    hash parity: both engines build the same sketch AND the same true
    counts, and the probe joins d = 4 tiny (row, bucket) pairs per key
    against the 2048-cell grid — broadcast-sized at any corpus scale.

    Scale shape: one shuffle keyed on (row, bucket) — 2048 groups
    regardless of input size — plus the exact top-10 (orderBy + limit =
    TakeOrdered, no global sort) that exists only to pick probe keys."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    true_counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return cms_report(true_counts, cms_grid(orders))


def _cms_rows():
    return F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)]))


def cms_grid(keys: DataFrame) -> DataFrame:
    """The d x w sketch (r, bucket, cell) of the o_custkey column: the
    batch sketch, and the streaming sink's per-batch partial grid
    (cells add across batches)."""
    rows = keys.withColumn("r", _cms_rows())
    return rows.groupBy(
        "r", cms_bucket(F.col("r"), F.col("o_custkey")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cell"))


def cms_report(true_counts: DataFrame, grid: DataFrame) -> DataFrame:
    """The true-vs-estimate report for the top-10 keys of
    ``true_counts`` (o_custkey, true_cnt): each key probes its d cells
    of ``grid`` (r, bucket, cell), est_cnt = the min cell."""
    true_top = true_counts.orderBy(F.desc("true_cnt"), F.asc("o_custkey")).limit(10)
    probes = true_top.withColumn("r", _cms_rows()).select(
        "o_custkey", "true_cnt", "r",
        cms_bucket(F.col("r"), F.col("o_custkey")).alias("bucket"),
    )
    return (
        probes.join(grid, ["r", "bucket"])
        .groupBy("o_custkey")
        .agg(
            F.min("true_cnt").alias("true_cnt"),
            F.min("cell").alias("est_cnt"),
        )
    )


AGG_COUNTMIN_SQL = f"""
WITH rows_exp AS (
  SELECT o_custkey, r FROM orders, range({_CMS_D}) t(r)
), hashed AS (
  SELECT o_custkey, r,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
                             CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS bucket
  FROM rows_exp
), sketch AS (
  SELECT r, bucket, COUNT(*) AS cell FROM hashed GROUP BY r, bucket
), true_top AS (
  SELECT o_custkey, COUNT(*) AS true_cnt
  FROM orders GROUP BY o_custkey
  ORDER BY true_cnt DESC, o_custkey ASC LIMIT 10
), probes AS (
  SELECT t.o_custkey, t.true_cnt, h.r, h.bucket
  FROM true_top t JOIN hashed h ON h.o_custkey = t.o_custkey
  GROUP BY ALL
)
SELECT p.o_custkey,
       MIN(p.true_cnt) AS true_cnt,
       MIN(s.cell) AS est_cnt
FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY p.o_custkey
"""


QUERIES: dict[str, QuerySpec] = {
    "join_bucketed": QuerySpec(join_bucketed, JOIN_BUCKETED_SQL, "join"),
    "join_bloom_prefilter": QuerySpec(
        join_bloom_prefilter, JOIN_BLOOM_PREFILTER_SQL, "join"),
    "join_dynamic_partition_pruning": QuerySpec(
        join_dynamic_partition_pruning, JOIN_DPP_SQL, "join"),
    "agg_bitmap_distinct": QuerySpec(
        agg_bitmap_distinct, AGG_BITMAP_DISTINCT_SQL, "aggregation"),
    "agg_countmin_heavy_hitters": QuerySpec(
        agg_countmin_heavy_hitters, AGG_COUNTMIN_SQL, "aggregation"),
    "join_null_skew_split": QuerySpec(
        join_null_skew_split, JOIN_NULL_SKEW_SPLIT_SQL, "join"),
    "source_schema_evolution": QuerySpec(
        source_schema_evolution, SOURCE_SCHEMA_EVOLUTION_SQL, "source"),
    "source_json_permissive": QuerySpec(
        source_json_permissive, SOURCE_JSON_PERMISSIVE_SQL, "source"),
    "source_binary_files": QuerySpec(
        source_binary_files, SOURCE_BINARY_FILES_SQL, "source"),
    "join_interval_overlap": QuerySpec(
        join_interval_overlap, JOIN_INTERVAL_OVERLAP_SQL, "join"),
    "source_custom_python": QuerySpec(
        source_custom_python, SOURCE_CUSTOM_PYTHON_SQL, "source"),
    "join_right_outer": QuerySpec(join_right_outer, JOIN_RIGHT_OUTER_SQL, "join"),
    "set_union_all": QuerySpec(set_union_all, SET_UNION_ALL_SQL, "set_op"),
    "set_intersect_all": QuerySpec(set_intersect_all, SET_INTERSECT_ALL_SQL, "set_op"),
    "set_except_all": QuerySpec(set_except_all, SET_EXCEPT_ALL_SQL, "set_op"),
    "agg_percentiles": QuerySpec(agg_percentiles, AGG_PERCENTILES_SQL, "aggregation"),
    "agg_weighted_median": QuerySpec(
        agg_weighted_median, AGG_WEIGHTED_MEDIAN_SQL, "aggregation"),
    "agg_weighted_percentile": QuerySpec(
        agg_weighted_percentile, AGG_WEIGHTED_PCTL_SQL, "aggregation"),
    "higher_order_functions": QuerySpec(higher_order_functions, HIGHER_ORDER_SQL, "scalar_fn"),
    "agg_collect_sorted": QuerySpec(agg_collect_sorted, AGG_COLLECT_SORTED_SQL, "aggregation"),
    "agg_min_max_by": QuerySpec(agg_min_max_by, AGG_MIN_MAX_BY_SQL, "aggregation"),
    "skew_salted_agg": QuerySpec(skew_salted_agg, SKEW_SALTED_SQL, "aggregation"),
    "window_distribution": QuerySpec(window_distribution, WINDOW_DISTRIBUTION_SQL, "window"),
    "sink_parquet_roundtrip": QuerySpec(sink_parquet_roundtrip, SINK_PARQUET_SQL, "sink"),
    "sink_orc_roundtrip": QuerySpec(sink_orc_roundtrip, SINK_ORC_SQL, "sink"),
    "sink_csv_roundtrip": QuerySpec(sink_csv_roundtrip, SINK_CSV_SQL, "sink"),
    "sink_xml_roundtrip": QuerySpec(sink_xml_roundtrip, SINK_XML_SQL, "sink"),
    "agg_regression_stats": QuerySpec(agg_regression_stats, AGG_REGRESSION_SQL, "agg"),
    "agg_mode_exact": QuerySpec(agg_mode_exact, AGG_MODE_SQL, "agg"),
    "sink_jsonl_roundtrip": QuerySpec(sink_jsonl_roundtrip, SINK_JSONL_SQL, "sink"),
    "sample_seeded": QuerySpec(sample_seeded, None, "sampling",
                               doc="seeded Bernoulli sample; fraction asserted in tests"),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL, "headline"),
    "correlated_subquery_orders": QuerySpec(
        correlated_subquery_orders, CORRELATED_SUBQUERY_SQL, "subquery"
    ),
    "q4_late_shipments": QuerySpec(q4_late_shipments, Q4_LATE_SQL, "headline"),
    "q10_returned_revenue": QuerySpec(q10_returned_revenue, Q10_SQL, "headline"),
    "window_value_navigation": QuerySpec(window_value_navigation, WINDOW_VALUE_NAV_SQL, "window"),
    "window_running_distinct": QuerySpec(
        window_running_distinct, WINDOW_RUNNING_DISTINCT_SQL, "window"),
    "filter_not_in_null_trap": QuerySpec(
        filter_not_in_null_trap, FILTER_NOT_IN_NULL_SQL, "filter"),
    "timeseries_moving_median": QuerySpec(
        timeseries_moving_median, TIMESERIES_MOVING_MEDIAN_SQL, "analytics"),
    "window_range_frame": QuerySpec(window_range_frame, WINDOW_RANGE_FRAME_SQL, "window"),
    "agg_approx_percentile": QuerySpec(agg_approx_percentile, None, "aggregation",
                                       doc="sketch-based; accuracy tested vs exact percentile"),
    "agg_approx_top_k": QuerySpec(agg_approx_top_k, None, "aggregation",
                                  doc="frequent-items sketch; recall tested vs exact top-k"),
    "agg_grouping_id": QuerySpec(agg_grouping_id, AGG_GROUPING_ID_SQL, "aggregation"),
    "agg_histogram": QuerySpec(agg_histogram, AGG_HISTOGRAM_SQL, "aggregation"),
    "string_similarity": QuerySpec(string_similarity, STRING_SIMILARITY_SQL, "scalar_fn"),
    "try_functions": QuerySpec(try_functions, TRY_FUNCTIONS_SQL, "scalar_fn"),
    "key_skew_profile": QuerySpec(
        key_skew_profile, KEY_SKEW_SQL, "analytics",
        plan_waivers={"bnlj": "1-row table-total scalar"}),
    "bitwise_functions": QuerySpec(bitwise_functions, BITWISE_SQL, "scalar_fn"),
    "pandas_udf_scalar": QuerySpec(pandas_udf_scalar, PANDAS_UDF_SQL, "udf"),
    "q14_promo_revenue": QuerySpec(q14_promo_revenue, Q14_SQL, "headline"),
    "agg_filtered_bool": QuerySpec(agg_filtered_bool, AGG_FILTERED_BOOL_SQL, "aggregation"),
    "filter_null_safe_eq": QuerySpec(filter_null_safe_eq, FILTER_NULL_SAFE_SQL, "projection_filter"),
    "join_shuffle_hash": QuerySpec(join_shuffle_hash, JOIN_SHUFFLE_HASH_SQL, "join"),
    "explode_lateral": QuerySpec(explode_lateral, EXPLODE_LATERAL_SQL, "scalar_fn"),
}
