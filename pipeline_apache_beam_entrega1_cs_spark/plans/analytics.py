"""Product/behavioral-analytics registry: funnel
conversion, cohort retention, time-series gap-fill + OHLC resampling,
SCD Type-2 state intervals, Deequ-style data-quality constraints,
z-score anomaly flagging, a salted skew-join demonstration, decile
statistics, degree-oriented triangle counting, and hash-stratified
sampling.

These are the query shapes an analytics user of the reference engine
runs daily on event streams. All deterministic, all full DuckDB oracle
parity. Determinism conventions follow plans/spec.py (decimal sums,
md5-prefix hashing, explicit tie-breaks, epoch-integer timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_u32
from ..functions.numeric import (
    _dec_to_double,
    drev,
    dsum,
    dsum_dec,
    sql_dsum,
    sql_dsum_dec,
    sql_rev,
)
from ..operators.asof import asof_join
from ..schemas import load_table
from .spec import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Funnel conversion
# --------------------------------------------------------------------------

def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view -> click -> purchase per user: a later
    stage only counts if it happens strictly AFTER the user's earliest
    completion of the previous stage.

    Scale shape: one shuffle on user_id; the three stage timestamps are
    chained window-min expressions over the SAME partitioning, so
    Catalyst runs them in one Window stage pipeline without extra
    exchanges, and the per-user collapse reuses the partitioning. The
    final result is a single global row (partial-agg collapse).
    """
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(wu)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
        )
    ).over(wu)
    staged = staged.withColumn("t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
        F.round(F.count("t2") / F.count("t1"), 6).alias("r_view_to_click"),
        F.round(F.count("t3") / F.count("t2"), 6).alias("r_click_to_purchase"),
    )


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
),
j AS (
  SELECT s1.user_id, s1.t1, s2.t2, s3.t3
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN s1 ON u.user_id = s1.user_id
  LEFT JOIN s2 ON u.user_id = s2.user_id
  LEFT JOIN s3 ON u.user_id = s3.user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t1) AS n_view,
       COUNT(t2) AS n_click_after_view,
       COUNT(t3) AS n_purchase_after_click,
       round(COUNT(t2)::DOUBLE / COUNT(t1), 6) AS r_view_to_click,
       round(COUNT(t3)::DOUBLE / COUNT(t2), 6) AS r_click_to_purchase
FROM j
"""


# --------------------------------------------------------------------------
# Cohort retention
# --------------------------------------------------------------------------

def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen ISO week,
    counted per week-offset of later activity. date_trunc('week') is
    Monday-aligned in both engines, so the day difference is an exact
    multiple of 7.

    Scale shape: window-min over user_id (one shuffle), distinct
    (user, week) collapse on the same partitioning, then a small
    (cohort, offset) aggregate. No joins.
    """
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    wu = Window.partitionBy("user_id")
    df = (
        ev.select("user_id", wk.alias("week"))
        .withColumn("cohort", F.min("week").over(wu))
        .distinct()
    )
    return (
        df.groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff(F.col("week"), F.col("cohort")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RETENTION_SQL = """
WITH weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
  FROM events
),
cohorted AS (
  SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort
  FROM weeks
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST((week - cohort) // 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM cohorted
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Time-series gap-fill (hourly spine + forward fill)
# --------------------------------------------------------------------------

def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type series with a complete hour spine: missing hours
    are materialized (sequence + explode per type over that type's
    [min, max] hour range) and the value sum is forward-filled with
    last(ignorenulls) — the hypertable gap-fill / LOCF idiom.

    Scale shape: the spine is generated from the GROUPED per-type
    min/max (tiny), not by exploding raw events; the fill window
    partitions by type. At 100 TB the spine size is hours x types —
    independent of event count.
    """
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    hourly = ev.groupBy(hour.alias("hour_s"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_s").alias("h0"), F.max("hour_s").alias("h1"))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("hour_s"),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour_s"], "left")
    wfill = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_s",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(wfill).alias("sum_value_filled"),
        F.col("n_events").isNull().alias("is_gap"),
    )


GAPFILL_SQL = f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_s, event_type,
         COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT t.event_type, g.hour_s
  FROM (SELECT event_type, min(hour_s) AS h0, max(hour_s) AS h1
        FROM hourly GROUP BY event_type) t,
       UNNEST(generate_series(t.h0, t.h1, 3600)) AS g(hour_s)
)
SELECT s.event_type, s.hour_s,
       COALESCE(h.n_events, 0) AS n_events,
       last_value(h.sum_value IGNORE NULLS)
         OVER (PARTITION BY s.event_type ORDER BY s.hour_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS sum_value_filled,
       h.n_events IS NULL AS is_gap
FROM spine s LEFT JOIN hourly h
  ON s.event_type = h.event_type AND s.hour_s = h.hour_s
"""


# --------------------------------------------------------------------------
# OHLC resampling
# --------------------------------------------------------------------------

_LIFT_MIN_SUPPORT = 5
_LIFT_TOP_K = 20


def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: pairwise co-occurrence LIFT
    between part brands inside the same order — the classic retail
    cross-sell analysis. lift = N·c_xy / (c_x·c_y) over the distinct
    (order, brand) incidence; support floor + top-k by (lift desc,
    brand pair).

    Scale shape: pairs are generated ARRAY-SIDE from each order's
    sorted distinct-brand set (bounded by brands-per-order, never a
    self-join on the order key — the same in-bucket pair idiom as the
    Jaccard inverted index); brand marginals and the 1-row basket total
    are broadcast. Numerators/denominators stay integer (exact) until
    one double division, rounded to 6 dp."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    arrs = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("bs")
    )
    bs = F.col("bs")
    pair_arrays = F.flatten(
        F.transform(
            bs,
            lambda x, i: F.transform(
                F.slice(bs, i + 2, F.size(bs) - i - 1),
                lambda y: F.struct(x.alias("b1"), y.alias("b2")),
            ),
        )
    )
    pairs = (
        arrs.select(F.explode_outer(pair_arrays).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.*")
    )
    c_xy = pairs.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("c_xy"))
    c_x = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("c"))
    n = arrs.agg(F.count(F.lit(1)).alias("n_orders"))  # 1-row scalar
    return (
        c_xy.filter(F.col("c_xy") >= _LIFT_MIN_SUPPORT)
        .join(F.broadcast(c_x.select(F.col("p_brand").alias("b1"), F.col("c").alias("c_x"))), "b1")
        .join(F.broadcast(c_x.select(F.col("p_brand").alias("b2"), F.col("c").alias("c_y"))), "b2")
        .crossJoin(F.broadcast(n))
        .select(
            "b1",
            "b2",
            F.col("c_xy").alias("support"),
            F.round(
                (F.col("n_orders") * F.col("c_xy")).cast("double")
                / (F.col("c_x") * F.col("c_y")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("b1").asc(), F.col("b2").asc())
        .limit(_LIFT_TOP_K)
    )


BASKET_BRAND_LIFT_SQL = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT a.l_orderkey, a.p_brand AS b1, b.p_brand AS b2
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
), cxy AS (
  SELECT b1, b2, COUNT(*) AS c_xy FROM pairs GROUP BY 1, 2
  HAVING COUNT(*) >= {_LIFT_MIN_SUPPORT}
), cx AS (
  SELECT p_brand, COUNT(*) AS c FROM ob GROUP BY 1
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob
)
SELECT b1, b2, c_xy AS support,
       round(CAST(n.n_orders * c_xy AS DOUBLE) / (x.c * y.c), 6) AS lift
FROM cxy
JOIN cx x ON cxy.b1 = x.p_brand
JOIN cx y ON cxy.b2 = y.p_brand
CROSS JOIN n
ORDER BY lift DESC, b1 ASC, b2 ASC
LIMIT {_LIFT_TOP_K}
"""


_EWMA_DEPTH = 8  # frame depth; alpha = 0.5 -> exact binary weights


def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average per user — the
    standard streaming-feature smoother, bounded to the last 8 events
    so the state is a fixed ROWS frame instead of an unbounded
    recurrence (the unbounded form needs per-key sequential state; the
    truncated form is one ordered window, and with alpha = 0.5 the
    weights 1, 1/2, ... 1/128 are exact binary fractions, so the
    weighted mean is bit-identical across engines before the final
    round). ewma = Σ w_i·x_i / Σ w_i over the frame (newest first,
    adjust=True normalization). Scale shape: one keyed window shuffle,
    frame work O(depth) per row, no recurrence, no UDF."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_DEPTH - 1), 0)
    )
    vals = F.reverse(F.collect_list("value").over(w))  # newest first
    wts = F.transform(
        F.sequence(F.lit(0), F.size(vals) - 1), lambda i: F.pow(0.5, i)
    )
    num = F.aggregate(
        F.zip_with(vals, wts, lambda x, wt: x * wt),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    den = F.aggregate(wts, F.lit(0.0), lambda acc, v: acc + v)
    return ev.select(
        "event_id",
        "user_id",
        F.col("value").alias("raw_value"),
        F.size(vals).cast("bigint").alias("n_window"),
        F.round(num / den, 6).alias("ewma"),
    )


TIMESERIES_EWMA_SQL = f"""
WITH framed AS (
  SELECT event_id, user_id, value AS raw_value,
         list_reverse(list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {_EWMA_DEPTH - 1} PRECEDING AND CURRENT ROW)) AS vals
  FROM events WHERE value IS NOT NULL
)
SELECT event_id, user_id, raw_value,
       CAST(len(vals) AS BIGINT) AS n_window,
       round(
         list_sum(list_transform(generate_series(1, len(vals)),
                  i -> vals[i] * pow(0.5, i - 1)))
         / list_sum(list_transform(generate_series(1, len(vals)),
                  i -> pow(0.5, i - 1))), 6) AS ewma
FROM framed
"""


# reference value k (allowed drift per event) and decision threshold h,
# shared with the streaming twin (streaming/sinks.CusumStateSink)
_CUSUM_K, _CUSUM_H = "0.5", "5.0"


def timeseries_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM change detection per user (Page 1954) —
    the sequential drift detector that fires when a metric runs
    persistently above its reference k, long before any single point
    is anomalous (the complement of anomaly_zscore/mad, which score
    points, not runs).

    The textbook recurrence S_t = max(0, S_{t-1} + x_t − k) is not
    window-expressible, but its CLOSED FORM is: with prefix sums
    P_t = Σ(x_i − k), S_t = P_t − min(0, min_{i<=t} P_i) — two frames
    (running sum + running min) served from ONE (user) shuffle, no
    recurrence state, no UDF. Exactness: x casts to DECIMAL(18,6)
    before the running sum, so P_t and the running min are exact and
    partition-order independent; the threshold compare runs on the
    exact decimal; only the reported cusum converts to double (via
    string, spec.py conventions).

    100 TB shape: one keyed window shuffle; both frames are running
    (O(1) per row); output is linear in events."""
    dec = "decimal(38,6)"
    zero = F.lit("0").cast(dec)
    s = F.col("pt").cast(dec) - F.least(zero, F.col("mn").cast(dec))
    return cusum_report(cusum_prefix(_t(spark, sf_dir, "events")), s)


def cusum_prefix(ev: DataFrame) -> DataFrame:
    """(event_id, user_id, ts, pt, mn) per non-null value: pt is the
    running sum P_t of x - k per user over (ts, event_id), exact in
    DECIMAL, and mn its running min. Shared by timeseries_cusum_drift
    (S_t = P_t - min(0, mn)) and the streaming twin's per-batch core
    (streaming/sinks.CusumStateSink adds the carried S0)."""
    dec = "decimal(18,6)"
    step = F.col("value").cast(dec) - F.lit(_CUSUM_K).cast(dec)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "ts", F.sum(step).over(w).alias("pt"))
        .withColumn("mn", F.min("pt").over(w))
    )


def cusum_report(scored: DataFrame, s) -> DataFrame:
    """The (event_id, user_id, cusum, drifting) report of the exact
    DECIMAL cusum ``s``: cusum converts to double via string, the
    threshold compare stays exact."""
    return scored.select(
        "event_id",
        "user_id",
        F.round(s.cast("string").cast("double"), 6).alias("cusum"),
        (s > F.lit(_CUSUM_H).cast("decimal(38,6)")).alias("drifting"),
    )


TIMESERIES_CUSUM_SQL = f"""
WITH p AS (
  SELECT event_id, user_id, ts,
         SUM(CAST(value AS DECIMAL(18,6)) - CAST({_CUSUM_K} AS DECIMAL(18,6)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_id, user_id, pt,
         MIN(pt) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
  FROM p
)
SELECT event_id, user_id,
       round(CAST(CAST(CAST(pt AS DECIMAL(38,6))
             - least(CAST(0 AS DECIMAL(38,6)), CAST(mn AS DECIMAL(38,6)))
             AS VARCHAR) AS DOUBLE), 6) AS cusum,
       (CAST(pt AS DECIMAL(38,6))
        - least(CAST(0 AS DECIMAL(38,6)), CAST(mn AS DECIMAL(38,6)))
        > CAST({_CUSUM_H} AS DECIMAL(38,6))) AS drifting
FROM m
"""


def resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to 15-minute OHLC bars per type: open/close are
    the values of the first/last event in the bar under the total order
    (ts, event_id); high/low/volume are plain aggregates.

    Scale shape: the row_number window and the bar aggregate share the
    (event_type, bar) partitioning, so the agg adds no exchange after
    the window shuffle — one Exchange total.
    """
    ev = _t(spark, sf_dir, "events")
    bar = (F.floor(F.unix_timestamp("ts") / 900) * 900).cast("long")
    df = ev.select("event_type", bar.alias("bar_s"), "ts", "event_id", "value")
    wf = Window.partitionBy("event_type", "bar_s").orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", "bar_s").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rn_f", F.row_number().over(wf))
        .withColumn("rn_l", F.row_number().over(wl))
        .groupBy("event_type", "bar_s")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.when(F.col("rn_f") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_l") == 1, F.col("value"))).alias("close"),
            dsum("value").alias("volume"),
        )
    )


OHLC_SQL = f"""
WITH ranked AS (
  SELECT event_type, CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 AS bar_s, value,
         row_number() OVER (PARTITION BY event_type, CAST(floor(epoch(ts) / 900) AS BIGINT)
                            ORDER BY ts, event_id) AS rn_f,
         row_number() OVER (PARTITION BY event_type, CAST(floor(epoch(ts) / 900) AS BIGINT)
                            ORDER BY ts DESC, event_id DESC) AS rn_l
  FROM events
)
SELECT event_type, bar_s, COUNT(*) AS n_events,
       max(CASE WHEN rn_f = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rn_l = 1 THEN value END) AS close,
       {sql_dsum('value')} AS volume
FROM ranked GROUP BY event_type, bar_s
"""


# --------------------------------------------------------------------------
# SCD Type-2 state intervals
# --------------------------------------------------------------------------

def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 built from an event log: collapse
    each user's consecutive same-type events into one state interval
    with valid_from / valid_to (lead of the next interval's start) and
    an is_current flag — the change-data-capture -> dimension-table
    build.

    Scale shape: all three window passes and the island collapse share
    the user_id partitioning — one shuffle end to end.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    df = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "chg",
            F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    intervals = df.groupBy("user_id", "sid").agg(
        F.max("event_type").alias("state"),
        F.unix_micros(F.min("ts")).alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    return intervals.select(
        "user_id",
        "state",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        F.lead("valid_from_us").over(w2).isNull().alias("is_current"),
        "n_events",
    )


def join_pointintime_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts to an SCD2 interval dimension — the
    feature-store-correctness lookup ("what state was the user in WHEN
    they purchased", never leaking future states): purchases join the
    user-state intervals built from their NON-purchase event history.

    The production insight this entry encodes: over a PARTITIONED
    interval dimension (valid_to = next valid_from, last interval
    open), point-in-time containment IS a backward as-of on valid_from
    — one union+window shuffle (operators/asof.py), no range join, no
    fact x interval pair explosion. Equal-timestamp boundary rows
    belong to the LATER interval ([from, to) semantics == the as-of
    '>=' rule), and two runs starting at the same timestamp resolve to
    the later run (tiebreak=sid == 'empty intervals cannot contain
    anything' in the containment oracle)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    runs = (
        base.select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "chg",
            F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    intervals = runs.groupBy("user_id", "sid").agg(
        F.max("event_type").alias("state"), F.min("ts").alias("valid_from")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases,
        intervals.select("user_id", "valid_from", "state", "sid"),
        on=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        payload_cols=["state", "valid_from"],
        tiebreak="sid",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "state",
        F.unix_micros("valid_from").alias("state_since_us"),
    )


JOIN_POINTINTIME_SCD2_SQL = """
WITH base AS (
  SELECT user_id, event_type, ts, event_id FROM events
  WHERE event_type <> 'purchase'
), flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), intervals AS (
  SELECT user_id, sid, MAX(event_type) AS state, MIN(ts) AS valid_from
  FROM runs GROUP BY 1, 2
), iv AS (
  SELECT user_id, sid, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, sid) AS valid_to
  FROM intervals
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, i.state,
       epoch_us(i.valid_from) AS state_since_us
FROM p LEFT JOIN iv i
  ON i.user_id = p.user_id
 AND p.ts >= i.valid_from
 AND (i.valid_to IS NULL OR p.ts < i.valid_to)
 AND (i.valid_to IS NULL OR i.valid_from < i.valid_to)
"""


_PATTERN = ("view", "click", "purchase")


def pattern_match_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-pattern detection (the CEP primitive
    Spark has no SQL surface for): find every occurrence of the exact
    CONSECUTIVE sequence view -> click -> purchase inside each user's
    event stream, reporting the match start, its duration, and the
    anchoring event ids. Expressed as chained lead() navigation over ONE
    (user_id, ts, event_id) window ordering — Catalyst runs all the
    leads in a single Window stage, so the whole pattern scan is one
    shuffle; overlapping matches are reported (each row anchors at most
    one match start), which is MATCH_RECOGNIZE AFTER MATCH SKIP TO NEXT
    ROW semantics."""
    return pattern_matches(event_sequence(spark, sf_dir), _PATTERN)


def event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, ts, event_id, event_type): the per-user event sequence
    fixture of the pattern, Markov, error-burst and out-of-order entries
    and of their streaming twins' replays."""
    return _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )


def pattern_matches(events: DataFrame, pattern: tuple[str, ...]) -> DataFrame:
    """Every consecutive occurrence of ``pattern`` in each user's
    (ts, event_id)-ordered ``events``, by chained lead() navigation:
    (user_id, start_event_id, end_event_id, start_ts_us, duration_us).
    The batch scan, and the streaming sink's per-batch detection over
    (carry ∪ batch)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    last = len(pattern) - 1
    df = events.select("user_id", "event_type", "ts", "event_id")
    cond = F.col("event_type") == pattern[0]
    for i in range(1, last + 1):
        df = df.withColumn(f"t{i}", F.lead("event_type", i).over(w))
        df = df.withColumn(f"ts{i}", F.lead("ts", i).over(w))
        df = df.withColumn(f"id{i}", F.lead("event_id", i).over(w))
        cond = cond & (F.col(f"t{i}") == pattern[i])
    return df.filter(cond).select(
        "user_id",
        F.col("event_id").alias("start_event_id"),
        F.col(f"id{last}").alias("end_event_id"),
        F.unix_micros("ts").alias("start_ts_us"),
        (F.unix_micros(f"ts{last}") - F.unix_micros("ts")).alias("duration_us"),
    )


PATTERN_MATCH_SQL = f"""
WITH nav AS (
  SELECT user_id, event_type, ts, event_id,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(ts, 2) OVER w AS ts2,
         lead(event_id, 2) OVER w AS id2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id AS start_event_id, id2 AS end_event_id,
       epoch_us(ts) AS start_ts_us,
       epoch_us(ts2) - epoch_us(ts) AS duration_us
FROM nav
WHERE event_type = '{_PATTERN[0]}' AND t1 = '{_PATTERN[1]}'
  AND t2 = '{_PATTERN[2]}'
"""


def pattern_match_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length pattern matching — MATCH_RECOGNIZE with ``+``
    quantifiers: every occurrence of view+ click+ purchase+ (one or
    more CONSECUTIVE events of each type) per user, reporting the run
    lengths. Two-level composition: collapse consecutive same-type
    events into RUNS (the scd2 islands machinery), then run the FIXED
    3-symbol pattern over the run sequence with lead() navigation —
    quantified patterns over events are plain patterns over runs, which
    is exactly how engines with a real MATCH_RECOGNIZE compile greedy
    ``+`` quantifiers.

    Scale shape (audited): the island collapse and the first/last-of-run
    windows share one user_id exchange; the run-level first/last frames
    then meet in a broadcast join (the run table is |runs| <= |events|
    and shrinks with every repetition) and the run-sequence navigation
    re-exchanges on user_id — 2 Exchanges, 2 BroadcastHashJoins total
    (EXPLAIN.md)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    df = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "chg",
            F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    wr = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    wrd = Window.partitionBy("user_id", "sid").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = df.withColumn("rn", F.row_number().over(wr)).withColumn(
        "rn_d", F.row_number().over(wrd)
    )
    firsts = marked.filter(F.col("rn") == 1).select(
        "user_id",
        "sid",
        F.col("event_type").alias("state"),
        F.col("ts").alias("start_ts"),
        F.col("event_id").alias("start_event_id"),
    )
    lasts = marked.filter(F.col("rn_d") == 1).select(
        "user_id",
        "sid",
        F.col("ts").alias("end_ts"),
        F.col("event_id").alias("end_event_id"),
        F.col("rn").cast("long").alias("n_events"),
    )
    runs = firsts.join(lasts, ["user_id", "sid"])
    ws = Window.partitionBy("user_id").orderBy("sid")
    nav = (
        runs.withColumn("s1", F.lead("state", 1).over(ws))
        .withColumn("s2", F.lead("state", 2).over(ws))
        .withColumn("n1", F.lead("n_events", 1).over(ws))
        .withColumn("n2", F.lead("n_events", 2).over(ws))
        .withColumn("end_id2", F.lead("end_event_id", 2).over(ws))
        .withColumn("end_ts2", F.lead("end_ts", 2).over(ws))
    )
    return nav.filter(
        (F.col("state") == _PATTERN[0])
        & (F.col("s1") == _PATTERN[1])
        & (F.col("s2") == _PATTERN[2])
    ).select(
        "user_id",
        F.col("start_event_id").alias("pattern_start_event_id"),
        F.col("end_id2").alias("pattern_end_event_id"),
        F.col("n_events").alias("n_views"),
        F.col("n1").alias("n_clicks"),
        F.col("n2").alias("n_purchases"),
        F.unix_micros("start_ts").alias("start_ts_us"),
        (F.unix_micros("end_ts2") - F.unix_micros("start_ts")).alias("duration_us"),
    )


PATTERN_RUNS_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs0 AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), marked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM runs0
), firsts AS (
  SELECT user_id, sid, event_type AS state, ts AS start_ts,
         event_id AS start_event_id
  FROM marked WHERE rn = 1
), lasts AS (
  SELECT user_id, sid, ts AS end_ts, event_id AS end_event_id,
         CAST(rn AS BIGINT) AS n_events
  FROM marked WHERE rn_d = 1
), runs AS (
  SELECT * FROM firsts JOIN lasts USING (user_id, sid)
), nav AS (
  SELECT *,
         lead(state, 1) OVER w AS s1, lead(state, 2) OVER w AS s2,
         lead(n_events, 1) OVER w AS n1, lead(n_events, 2) OVER w AS n2,
         lead(end_event_id, 2) OVER w AS end_id2,
         lead(end_ts, 2) OVER w AS end_ts2
  FROM runs
  WINDOW w AS (PARTITION BY user_id ORDER BY sid)
)
SELECT user_id, start_event_id AS pattern_start_event_id,
       end_id2 AS pattern_end_event_id,
       n_events AS n_views, n1 AS n_clicks, n2 AS n_purchases,
       epoch_us(start_ts) AS start_ts_us,
       epoch_us(end_ts2) - epoch_us(start_ts) AS duration_us
FROM nav
WHERE state = '{_PATTERN[0]}' AND s1 = '{_PATTERN[1]}' AND s2 = '{_PATTERN[2]}'
"""


def window_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-reset running total — 'revenue since the user's last
    signup': a cumulative sum that RESTARTS whenever a trigger event
    appears. SQL has no native reset; the two-level window trick is the
    standard compilation: level 1 numbers reset segments (running count
    of triggers), level 2 runs the ordinary cumulative sum partitioned
    by (user, segment). Both windows share the user_id clustering, so
    Catalyst serves them from ONE shuffle (hash(user) co-locates every
    (user, segment)). Sums run over DECIMAL per the
    window_running_frames convention (double window sums diverge
    between Spark's incremental and DuckDB's segment-tree evaluation)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = F.sum(
        F.when(F.col("event_type") == "signup", 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df = ev.select("user_id", "event_id", "ts", "event_type", "value").withColumn(
        "seg", seg.cast("long")
    )
    w2 = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("value").cast("decimal(18,6)")).over(w2)
    return df.select(
        "user_id",
        "event_id",
        "seg",
        running.cast("double").alias("running_value"),
    )


WINDOW_RESET_CUMSUM_SQL = """
WITH seg AS (
  SELECT user_id, event_id, ts, value,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
  FROM events
)
SELECT user_id, event_id, seg,
       CAST(SUM(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id, seg ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM seg
"""


SCD2_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
intervals AS (
  SELECT user_id, max(event_type) AS state, epoch_us(min(ts)) AS valid_from_us,
         COUNT(*) AS n_events
  FROM islands GROUP BY user_id, sid
)
SELECT user_id, state, valid_from_us,
       lead(valid_from_us) OVER w2 AS valid_to_us,
       lead(valid_from_us) OVER w2 IS NULL AS is_current,
       n_events
FROM intervals
WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_us)
"""


# --------------------------------------------------------------------------
# Data-quality constraint report (Deequ-style)
# --------------------------------------------------------------------------

import math as _math

_BENFORD_P = {d: round(_math.log10(1 + 1 / d), 12) for d in range(1, 10)}


def dq_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice — the classic
    data-forensics DQ probe (fabricated or truncated monetary data
    drifts off the log-uniform first-digit curve). Per digit 1-9:
    observed count, observed frequency, the Benford expectation
    p_d = log10(1+1/d) (12-dp literals shared by both engines), and the
    digit's chi-square term (obs − n·p)²/(n·p). The total χ² is the sum
    of nine per-digit terms — left to the consumer/test, so the output
    has no cross-row double summation.

    Determinism: the first digit comes from the STRING of the exact
    integer cents value (floor(x·100 + 0.5) — double→string formatting
    differs across engines, bigint→string does not; log10-based digit
    extraction has floor(log10(10^k)) ulp hazards). One mergeable
    9-group aggregate + a 1-row total attach."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1)
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = counts.agg(F.sum("n_obs").cast("double").alias("n"))
    p = F.element_at(
        F.create_map(
            *[
                x
                for d, pv in _BENFORD_P.items()
                for x in (F.lit(str(d)), F.lit(pv))
            ]
        ),
        F.col("digit"),
    )
    exp = F.col("n") * p
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("n"), 6).alias("freq"),
            p.alias("benford_p"),  # exact double literal, no re-round
            F.round(
                (F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp, 6
            ).alias("chi2_term"),
        )
    )


_BENFORD_VALUES = ", ".join(f"('{d}', {p})" for d, p in _BENFORD_P.items())
DQ_BENFORD_SQL = f"""
WITH c AS (
  SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                     AS VARCHAR), 1, 1) AS digit,
         COUNT(*) AS n_obs
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
), t AS (
  SELECT CAST(SUM(n_obs) AS DOUBLE) AS n FROM c
), bp AS (
  SELECT digit, CAST(p AS DOUBLE) AS p
  FROM (VALUES {_BENFORD_VALUES}) AS v(digit, p)
)
SELECT c.digit, c.n_obs,
       round(c.n_obs / t.n, 6) AS freq,
       bp.p AS benford_p,
       round((c.n_obs - t.n * bp.p) * (c.n_obs - t.n * bp.p)
             / (t.n * bp.p), 6) AS chi2_term
FROM c JOIN bp USING (digit) CROSS JOIN t
"""


def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality checks evaluated as aggregates:
    completeness, key uniqueness, referential integrity, value range,
    and accepted-domain — each a (constraint, metric, passed) row.

    Scale shape: each check is a partial-agg collapse over a pruned
    column set; the referential check is a broadcast-able anti-join
    count. The union of five 1-row aggregates is driver-free.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    completeness = cust.agg(
        F.lit("completeness_c_name").alias("constraint"),
        F.round(F.count("c_name") / F.count(F.lit(1)), 6).alias("metric"),
        (F.count("c_name") == F.count(F.lit(1))).alias("passed"),
    )
    uniqueness = cust.agg(
        F.lit("uniqueness_c_custkey").alias("constraint"),
        F.round(F.count_distinct(F.col("c_custkey")) / F.count(F.lit(1)), 6).alias(
            "metric"
        ),
        (F.count_distinct(F.col("c_custkey")) == F.count(F.lit(1))).alias("passed"),
    )
    orphans = orders.join(
        cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey"), "left_anti"
    ).agg(
        F.lit("referential_orders_customer").alias("constraint"),
        F.count(F.lit(1)).cast("double").alias("metric"),
        (F.count(F.lit(1)) == 0).alias("passed"),
    )
    price_range = orders.agg(
        F.lit("range_o_totalprice_positive").alias("constraint"),
        F.round(F.min("o_totalprice"), 6).alias("metric"),
        (F.min("o_totalprice") > 0).alias("passed"),
    )
    domain = orders.agg(
        F.lit("domain_o_orderstatus").alias("constraint"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("double")
        .alias("metric"),
        (
            F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
            == 0
        ).alias("passed"),
    )
    return completeness.unionAll(uniqueness).unionAll(orphans).unionAll(
        price_range
    ).unionAll(domain)


DQ_SQL = """
SELECT 'completeness_c_name' AS constraint,
       round(COUNT(c_name)::DOUBLE / COUNT(*), 6) AS metric,
       COUNT(c_name) = COUNT(*) AS passed
FROM customer
UNION ALL
SELECT 'uniqueness_c_custkey',
       round(COUNT(DISTINCT c_custkey)::DOUBLE / COUNT(*), 6),
       COUNT(DISTINCT c_custkey) = COUNT(*)
FROM customer
UNION ALL
SELECT 'referential_orders_customer',
       COUNT(*)::DOUBLE,
       COUNT(*) = 0
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'range_o_totalprice_positive', round(min(o_totalprice), 6), min(o_totalprice) > 0
FROM orders
UNION ALL
SELECT 'domain_o_orderstatus',
       SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)::DOUBLE,
       SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) = 0
FROM orders
"""


# --------------------------------------------------------------------------
# Distribution-drift report (PSI between two snapshots)
# --------------------------------------------------------------------------

_DRIFT_BUCKETS = 10
_DRIFT_EPS = "0.000001"  # zero-share clamp so ln() stays finite
_DRIFT_SPLIT_YEAR = 1997  # snapshot A = orders through this year


def _snapshot_bucket_counts(orders: DataFrame, n_buckets: int) -> DataFrame:
    """The shared equal-width-bucket x snapshot conditional-count core
    of dq_distribution_drift (PSI, 10 buckets) and dq_ks_bucketed (KS,
    64 edges): bounds are a 1-row min/max broadcast, bucket assignment
    is map-side, and one groupBy counts BOTH snapshots (A = orderdate
    year <= _DRIFT_SPLIT_YEAR) in a single fact pass. Factored so the
    two entries cannot drift on the bucketing convention (mx==mn
    branch, boundary clamp)."""
    orders = orders.select("o_totalprice", "o_orderdate")
    bounds = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    price = F.col("o_totalprice")
    bucket = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (price - F.col("mn")) * n_buckets / (F.col("mx") - F.col("mn"))
                ),
                F.lit(n_buckets - 1),
            )
        )
        + 1
    ).cast("long")
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            (F.year("o_orderdate") <= _DRIFT_SPLIT_YEAR).alias("in_a"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.col("in_a").cast("long")).cast("bigint").alias("n_a"),
            F.sum((~F.col("in_a")).cast("long")).cast("bigint").alias("n_b"),
        )
    )


def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift report between two snapshots of
    the order stream (A = orderdate year <= 1997, B = later): the
    between-snapshot check every production ingest runs to catch a
    feature distribution moving under a model. Per equal-width price
    bucket: counts, shares, and the PSI term
    (share_a - share_b) * ln(share_a / share_b); the report's PSI is the
    sum of psi_term (conventional reading: < 0.1 stable, > 0.25 drifted).

    Scale shape (the decile_stats_bucketed recipe): bucket bounds are a
    1-row min/max aggregate broadcast back onto the fact scan, bucket
    assignment is map-side, and the report is ONE groupBy over <= 10
    keys (_DRIFT_BUCKETS) with conditional counts for both snapshots in
    a single pass — two scans never happen, and nothing global-sorts.
    Snapshot totals are a second 1-row scalar attach onto the 10-row
    grouped frame. Survives any scale factor.

    Determinism: shares are 6-dp-rounded IEEE divisions of exact BIGINTs and
    are clamped at 1e-6 (_DRIFT_EPS) BEFORE the log (empty buckets
    would otherwise yield ln(0)); psi_term rounds to 6 dp after the
    multiply, burying any last-ulp ln() divergence between engines."""
    grouped = _snapshot_bucket_counts(
        _t(spark, sf_dir, "orders"), _DRIFT_BUCKETS
    )
    totals = grouped.agg(
        F.sum("n_a").cast("double").alias("tot_a"),
        F.sum("n_b").cast("double").alias("tot_b"),
    )
    eps = F.lit(float(_DRIFT_EPS))
    sa = F.greatest(F.round(F.col("n_a") / F.col("tot_a"), 6), eps)
    sb = F.greatest(F.round(F.col("n_b") / F.col("tot_b"), 6), eps)
    return grouped.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_a",
        "n_b",
        F.round(F.col("n_a") / F.col("tot_a"), 6).alias("share_a"),
        F.round(F.col("n_b") / F.col("tot_b"), 6).alias("share_b"),
        F.round((sa - sb) * F.log(sa / sb), 6).alias("psi_term"),
    )


_DRIFT_SA = f"greatest(round(n_a / tot_a, 6), {_DRIFT_EPS})"
_DRIFT_SB = f"greatest(round(n_b / tot_b, 6), {_DRIFT_EPS})"

DQ_DRIFT_SQL = f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
),
assigned AS (
  SELECT CAST(CASE WHEN mx = mn THEN 0
              ELSE least(floor((o_totalprice - mn) * {_DRIFT_BUCKETS}
                               / (mx - mn)), {_DRIFT_BUCKETS - 1})
              END + 1 AS BIGINT) AS bucket,
         year(o_orderdate) <= {_DRIFT_SPLIT_YEAR} AS in_a
  FROM orders CROSS JOIN bounds
),
grouped AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM assigned GROUP BY bucket
),
totals AS (
  SELECT CAST(SUM(n_a) AS DOUBLE) AS tot_a, CAST(SUM(n_b) AS DOUBLE) AS tot_b
  FROM grouped
)
SELECT bucket, n_a, n_b,
       round(n_a / tot_a, 6) AS share_a,
       round(n_b / tot_b, 6) AS share_b,
       round(({_DRIFT_SA} - {_DRIFT_SB}) * ln({_DRIFT_SA} / {_DRIFT_SB}), 6)
         AS psi_term
FROM grouped CROSS JOIN totals
"""


# --------------------------------------------------------------------------
# Z-score anomaly flagging
# --------------------------------------------------------------------------

def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly value sums per type, z-scored against that type's own
    distribution; |z| > 2 flags the hour. Mean and stddev come from
    exact decimal Σx / Σx² (partition-order independent — see
    agg_basic_stats), so the z-scores are bit-identical across engines.

    Scale shape: one shuffle to hourly grains, then a window over the
    (small) grouped result keyed by type.
    """
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    hourly = ev.groupBy("event_type", hour.alias("hour_s")).agg(
        dsum("value").alias("x")
    )
    wt = Window.partitionBy("event_type")
    n = F.count(F.lit(1)).over(wt)
    dx = F.col("x").cast("decimal(18,4)")
    sx = F.sum(dx).over(wt).cast("string").cast("double")
    sxx = (
        F.sum((dx * dx).cast("decimal(38,8)")).over(wt).cast("string").cast("double")
    )
    std = F.sqrt((sxx - sx * sx / n) / (n - 1))
    # Degenerate-grain guard: a type with a single hour (n=1) or zero
    # variance must yield NULL z on BOTH engines — unguarded, Spark's
    # non-ANSI division gives NULL while DuckDB's IEEE floats give
    # NaN/Infinity, and the hashes diverge.
    z = F.round(
        F.when((n > 1) & (std > 0), (F.col("x") - sx / n) / std), 6
    )
    return hourly.select(
        "event_type",
        "hour_s",
        F.col("x").alias("sum_value"),
        z.alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


ZSCORE_SQL = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_s,
         {sql_dsum('value')} AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hour_s, x,
         COUNT(*) OVER wt AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) OVER wt AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))
                            AS DECIMAL(38,8))) OVER wt AS VARCHAR) AS DOUBLE) AS sxx
  FROM hourly
  WINDOW wt AS (PARTITION BY event_type)
)
SELECT event_type, hour_s, x AS sum_value,
       CASE WHEN n > 1 AND sqrt((sxx - sx * sx / n) / (n - 1)) > 0
            THEN round((x - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 6)
            ELSE NULL END AS z,
       abs(CASE WHEN n > 1 AND sqrt((sxx - sx * sx / n) / (n - 1)) > 0
                THEN round((x - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 6)
                ELSE NULL END) > 2.0 AS is_anomaly
FROM scored
"""


# --------------------------------------------------------------------------
# Salted skew join
# --------------------------------------------------------------------------

_SALTS = 8


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual skew-salting idiom: the build side (orders) is
    replicated once per salt value, the probe side (lineitem) derives a
    deterministic salt from l_linenumber, and the join key becomes
    (orderkey, salt) — splitting a hot key's rows across 8 reducers.
    Result is identical to the plain join (the oracle IS the plain
    join); shuffle_hash hint keeps the demonstration honest (no
    broadcast). At 100 TB this is the fallback when AQE's skew-join
    splitting can't kick in (e.g. a skewed key inside an aggregation
    feeding the join).

    Scale note: replication multiplies the build side x8 — apply to the
    SMALLER side only, and only to the hot-key subset in production
    (split-salting); this entry salts everything to keep the oracle
    trivially equivalent.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        drev().alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    salted_orders = orders.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
    )
    salted_li = li.withColumn("salt", (F.col("l_linenumber") % _SALTS).cast("int"))
    joined = salted_li.join(
        salted_orders.hint("shuffle_hash"),
        (F.col("l_orderkey") == F.col("o_orderkey")) & (salted_li.salt == salted_orders.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum_dec(F.col("rev")).alias("revenue"),
    )


SKEW_SALTED_SQL = f"""
SELECT o.o_orderpriority, COUNT(*) AS n_items,
       {sql_dsum_dec(sql_rev())} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


# --------------------------------------------------------------------------
# Decile statistics
# --------------------------------------------------------------------------

def ntile_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) deciles of order value (total order: price then key)
    with per-decile count/min/max/sum — the spend-segmentation report.

    Scale note: a global NTILE needs a total sort into one window
    partition; at 100 TB use decile_stats_bucketed below — the same
    report via fixed range-bucketing (two mergeable aggregates, no
    global sort) — or approx_percentile boundaries
    (agg_approx_percentile). This exact form is for the reporting tier.

    DELIBERATE exception: this is the registry's one acknowledged
    global-window plan, permanently allowlisted in the plan-shape gate
    (tests/test_scale_idioms.py::test_no_cartesian_in_registry_plans)
    rather than fenced with a runtime row-count guard — a guard would
    cost an extra pass over orders on every call, and the scale-safe
    twin ships right below.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


NTILE_SQL = f"""
WITH ranked AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile, COUNT(*) AS n_orders,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       {sql_dsum('o_totalprice')} AS sum_price
FROM ranked GROUP BY decile
"""


def decile_stats_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe form of ntile_decile_stats: ten equal-WIDTH price
    buckets from the global [min, max] range instead of equal-COUNT
    NTILE deciles. Same per-bucket report (count/min/max/sum) with no
    global sort anywhere in the plan:

    - pass 1: min/max — fully mergeable partial aggregates;
    - pass 2: bucket assignment is a map-side expression against the
      broadcast 1-row bounds, then one ordinary groupBy shuffle on ≤10
      keys. Survives any scale factor; this is the 100 TB replacement
      the ntile_decile_stats docstring points at.

    Bucket rule (identical expression both engines, so doubles agree):
    least(floor((price - mn) * 10 / (mx - mn)), 9) + 1, degenerate
    mn = mx collapses to bucket 1."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    price = F.col("o_totalprice")
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((price - F.col("mn")) * 10 / (F.col("mx") - F.col("mn"))),
            F.lit(9),
        )
    ) + 1
    return (
        orders.select("o_orderkey", "o_totalprice")
        .crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


DECILE_BUCKETED_SQL = f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
),
assigned AS (
  SELECT o_totalprice,
         CAST(CASE WHEN mx = mn THEN 0
                   ELSE least(floor((o_totalprice - mn) * 10 / (mx - mn)), 9)
              END + 1 AS BIGINT) AS bucket
  FROM orders CROSS JOIN bounds
)
SELECT bucket, COUNT(*) AS n_orders,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       {sql_dsum('o_totalprice')} AS sum_price
FROM assigned GROUP BY bucket
"""


# --------------------------------------------------------------------------
# Degree-oriented triangle counting
# --------------------------------------------------------------------------

def _copurchase_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE sampled co-purchase basket frame (1-in-20 orders,
    distinct (order, part)) shared by graph_triangle_count,
    graph_clustering_coefficient, graph_degree_assortativity,
    graph_link_prediction, and analytics_apriori_pairs — entries that
    all claim to analyze the same graph, so they must derive it from
    the same definition."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct undirected u < v part pairs over the basket frame.
    Pair generation is bounded per basket (TPC-H orders have <= 7
    lines), so the self-join fan-out is O(|baskets|), never n^2."""
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"),
                F.col("b.l_partkey").alias("v"))
        .distinct()
    )


# The oracle CTEs of _copurchase_edges(_copurchase_baskets(...)) and of
# the BIGINT _copurchase_degrees: ``li``, ``edges`` and ``deg``.
_COPURCHASE_EDGES_SQL = """li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
_COPURCHASE_DEG_SQL = """deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
)"""


def _copurchase_degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of the undirected edge set — one hash-agg."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )


def _copurchase_oriented(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Edges oriented from the (degree, id)-smaller endpoint to the
    larger — the standard trick that bounds per-node wedge fan-out by
    sqrt(|E|)-ish out-degree on power-law graphs. Degrees attach via
    two broadcast joins (the degree frame is |V| rows of two ints)."""
    du, dv = deg.alias("du"), deg.alias("dv")
    return (
        edges.join(F.broadcast(du), edges.u == F.col("du.node"))
        .join(F.broadcast(dv), edges.v == F.col("dv.node"))
        .select(
            F.when(
                (F.col("du.deg") < F.col("dv.deg"))
                | ((F.col("du.deg") == F.col("dv.deg"))
                   & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (parts are linked
    when they appear in the same order; a deterministic 1-in-20 order
    sample bounds the demo's density). Edges are ORIENTED from the
    (degree, id)-smaller endpoint to the larger before the wedge join —
    the standard trick that bounds per-node wedge fan-out by
    sqrt(|E|)-ish out-degree instead of the raw degree, which is what
    makes distributed triangle counting survive power-law graphs.

    Scale shape: pair generation is bounded per order (TPC-H orders have
    <= 7 lines); degrees and orientation are two broadcast-able joins on
    the small degree table; the wedge join + closing semi-join shuffle
    on node ids.
    """
    edges = _copurchase_edges(_copurchase_baskets(spark, sf_dir))
    deg = _copurchase_degrees(edges)
    oriented = _copurchase_oriented(edges, deg)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.src") == F.col("e2.src"))
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .select(F.col("e1.dst").alias("x"), F.col("e2.dst").alias("y"))
    )
    closing = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    # Assemble the three 1-row counts via a tagged union + conditional
    # aggregate (no crossJoin — keeps the plan free of
    # BroadcastNestedLoopJoin so the no-cartesian guard stays strict).
    tagged = (
        deg.agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("n_nodes").alias("k"), "v")
        .unionAll(
            edges.agg(F.count(F.lit(1)).alias("v")).select(
                F.lit("n_edges").alias("k"), "v"
            )
        )
        .unionAll(
            tri.agg(F.count(F.lit(1)).alias("v")).select(
                F.lit("n_triangles").alias("k"), "v"
            )
        )
    )
    return tagged.agg(
        F.max(F.when(F.col("k") == "n_nodes", F.col("v"))).alias("n_nodes"),
        F.max(F.when(F.col("k") == "n_edges", F.col("v"))).alias("n_edges"),
        F.max(F.when(F.col("k") == "n_triangles", F.col("v"))).alias("n_triangles"),
    )


TRIANGLE_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL},
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS dst
  FROM edges JOIN deg du ON edges.u = du.node JOIN deg dv ON edges.v = dv.node
),
wedges AS (
  SELECT e1.dst AS x, e2.dst AS y
  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
closing AS (
  SELECT least(src, dst) AS x, greatest(src, dst) AS y FROM oriented
),
tri AS (
  SELECT COUNT(*) AS n_triangles FROM wedges w
  WHERE EXISTS (SELECT 1 FROM closing c WHERE c.x = w.x AND c.y = w.y)
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


_LINKPRED_K = 20
_LINKPRED_MAX_DEG = 50


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction on the part
    co-purchase graph: score NON-adjacent pairs by
    |N'(u) ∩ N'(w)| / |N'(u) ∪ N'(w)|, top-20, where
    N'(x) = {v ∈ N(x) : deg(v) <= _LINKPRED_MAX_DEG} is the HUB-CAPPED
    neighborhood. Intersection, degrees, and union all come from the
    SAME capped adjacency, so jaccard is the true Jaccard of the capped
    neighbor sets (not a capped-numerator/uncapped-denominator mix).

    Scale shape (the dedup_ngram_jaccard recipe applied to graphs):
    candidate pairs are generated through the shared-neighbor inverted
    index — each node v contributes its neighbor pairs, so the volume is
    Σ deg(v)², NEVER all-pairs — and hub nodes above _LINKPRED_MAX_DEG
    are dropped from the index (the max_df frequency cap; a hub's
    co-neighbors say little and cost quadratically). Adjacent pairs are
    removed with an anti-join. jaccard = one IEEE double division of two
    exact BIGINTs — deterministic in any engine; top-k is totally
    ordered (jaccard desc, u, w)."""
    edges = _copurchase_edges(_copurchase_baskets(spark, sf_dir))
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # hub cap on the INDEX side (the shared neighbor v), not on u/w
    small = deg.filter(F.col("deg") <= _LINKPRED_MAX_DEG).select("node")
    idx = adj.join(small.withColumnRenamed("node", "nbr"), "nbr")
    i1, i2 = idx.alias("i1"), idx.alias("i2")
    inter = (
        i1.join(i2, F.col("i1.nbr") == F.col("i2.nbr"))
        .filter(F.col("i1.node") < F.col("i2.node"))
        .groupBy(F.col("i1.node").alias("u"), F.col("i2.node").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cand = inter.join(
        edges.select(F.col("u"), F.col("v").alias("w")), ["u", "w"], "left_anti"
    )
    # capped degree |N'(x)| over the SAME hub-capped adjacency the
    # intersection runs on — numerator and denominator see one graph
    cdeg = idx.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    du = cdeg.withColumnRenamed("node", "u").withColumnRenamed("deg", "deg_u")
    dw = cdeg.withColumnRenamed("node", "w").withColumnRenamed("deg", "deg_w")
    scored = (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dw), "w")
        .select(
            "u",
            "w",
            F.col("n_common").cast("bigint").alias("n_common"),
            (F.col("deg_u") + F.col("deg_w") - F.col("n_common"))
            .cast("bigint")
            .alias("n_union"),
        )
        .withColumn(
            "jaccard", F.col("n_common").cast("double") / F.col("n_union")
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("u").asc(), F.col("w").asc()
    ).limit(_LINKPRED_K)


LINKPRED_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL}, adj AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
), deg AS (
  SELECT node, COUNT(*) AS deg FROM adj GROUP BY node
), idx AS (
  SELECT a.node, a.nbr FROM adj a
  JOIN deg d ON d.node = a.nbr AND d.deg <= {_LINKPRED_MAX_DEG}
), inter AS (
  SELECT i1.node AS u, i2.node AS w, COUNT(*) AS n_common
  FROM idx i1 JOIN idx i2 ON i1.nbr = i2.nbr AND i1.node < i2.node
  GROUP BY 1, 2
), cand AS (
  SELECT i.* FROM inter i
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = i.u AND e.v = i.w)
), cdeg AS (
  -- capped degree over the SAME hub-capped adjacency as inter
  SELECT node, COUNT(*) AS deg FROM idx GROUP BY node
)
SELECT c.u, c.w,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST(du.deg + dw.deg - c.n_common AS BIGINT) AS n_union,
       CAST(c.n_common AS DOUBLE) / (du.deg + dw.deg - c.n_common) AS jaccard
FROM cand c
JOIN cdeg du ON du.node = c.u
JOIN cdeg dw ON dw.node = c.w
ORDER BY jaccard DESC, c.u ASC, c.w ASC
LIMIT {_LINKPRED_K}
"""


def _trade_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem ⋈ orders rows of a deterministic 1-in-20 order
    sample that the customer<->supplier trade graph is built from —
    shared by the unweighted graph (_trade_edges) and
    graph_sssp_weighted's weighted one."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric customer<->supplier trade graph: both directions of
    every distinct (customer, supplier) trade pair, supplier ids offset
    by 1e6 to keep the id spaces disjoint. graph_pagerank,
    graph_modularity_eval, graph_kcore_prune, graph_label_propagation
    and graph_bfs_levels all analyze this one definition."""
    pairs = (
        _trade_lines(spark, sf_dir)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + 1000000).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _trade_edges_sql(edges: str = "edges") -> str:
    """The oracle CTEs of _trade_edges: ``pairs`` and the symmetric
    edge list, named ``edges``."""
    return f"""pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % 20 = 0
), {edges} AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)"""


_PR_ITERS = 3
_PR_DAMPING = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with a FIXED iteration count as one straight-line
    Catalyst plan — the third unrolled-iteration demonstration beside
    kmeans_lloyd and the recursive-CTE components (an unknown count
    would loop the body driver-side like connected_components).

    Graph: _trade_edges, the customer<->supplier trade graph from a
    deterministic 1-in-20 order sample, run as a symmetric digraph
    (both directions of every trade edge) so no node dangles.

    Determinism (the conventions that make an iterative double
    computation hash-comparable cross-engine, plans/spec.py): each
    edge contribution pr/outdeg is rounded to 12 dp and summed as
    DECIMAL(28,14) — exact, partition-order independent; the
    decimal->double conversion goes through a string cast; each new
    rank rounds to 9 dp so both engines re-enter the next iteration on
    identical doubles.

    Scale shape per iteration: one (rank JOIN edges-with-outdeg) hash
    join shuffling on node ids + one mergeable decimal-sum aggregate —
    linear in |E|; the 1-row node-count scalar is a broadcast attach
    (waivered BNLJ). Nothing materializes between iterations: the whole
    3-iteration computation is a single plan Catalyst pipelines."""
    edges = _trade_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    edges_deg = edges.join(outdeg, "src")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    nstats = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))  # 1-row scalar

    pr = nodes.crossJoin(F.broadcast(nstats)).select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), 9).alias("pr")
    )
    for _ in range(_PR_ITERS):
        inc = (
            pr.join(edges_deg, pr.node == edges_deg.src)
            .select(
                "dst",
                F.round(F.col("pr") / F.col("odeg"), 12)
                .cast("decimal(28,14)")
                .alias("w"),
            )
            .groupBy("dst")
            .agg(F.sum("w").cast("decimal(28,14)").alias("contrib"))
        )
        pr = (
            nodes.join(inc, nodes.node == inc.dst, "left")
            .crossJoin(F.broadcast(nstats))
            .select(
                "node",
                F.round(
                    (1.0 - _PR_DAMPING) / F.col("n_nodes")
                    + _PR_DAMPING
                    * F.coalesce(
                        F.col("contrib"), F.lit(0).cast("decimal(28,14)")
                    ).cast("string").cast("double"),
                    9,
                ).alias("pr"),
            )
        )
    return pr


def graph_modularity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the clustering-quality
    member of the eval family (retrieval -> recall/nDCG, classification
    -> confusion, scoring -> calibration, communities -> THIS): per
    community c, Q_c = L_c/m − (D_c/2m)², reported per community plus
    the '__Q__' total a partitioning publishes as its headline score.

    Exactness: with the symmetric directed edge list (E2 = 2m directed
    edges, L2_c = 2L_c intra-community directed edges, D_c = degree
    sum), Q_c = (L2_c·E2 − D_c²)/E2² — the numerator stays EXACT
    integer (DECIMAL(38,0)/HUGEINT), the total sums NUMERATORS exactly,
    and each scope does ONE final division — so no cross-row double
    summation anywhere (plans/spec.py conventions).

    Scale shape: the LPA subplan (fixed unrolled rounds), one
    edges⋈labels join per endpoint (the melt/tag trick is unnecessary —
    both joins shuffle node-id keys), and two O(#communities)
    aggregates; the 1-row E2 scalar is a broadcast attach."""
    # materialize the O(|V|) label table ONCE: it is referenced by both
    # endpoint joins and the per-community node count — an inline LPA
    # subtree would execute its unrolled iterations three times
    labels = graph_label_propagation(spark, sf_dir).localCheckpoint()
    edges = _trade_edges(spark, sf_dir)
    lab_src = labels.select(F.col("node").alias("src"), F.col("label").alias("lsrc"))
    lab_dst = labels.select(F.col("node").alias("dst"), F.col("label").alias("ldst"))
    tagged = edges.join(lab_src, "src").join(lab_dst, "dst").localCheckpoint()
    e2 = tagged.agg(F.count(F.lit(1)).alias("e2"))  # 1-row scalar
    per_label = tagged.groupBy("lsrc").agg(
        F.count(F.lit(1)).alias("d_sum"),  # directed degree sum of c
        F.sum((F.col("lsrc") == F.col("ldst")).cast("long")).alias("l2_intra"),
    )
    nodes_per = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    dec = "decimal(38,0)"
    base = (
        per_label.join(nodes_per, per_label.lsrc == nodes_per.label)
        .crossJoin(F.broadcast(e2))
        .select(
            F.col("label"),
            "n_nodes",
            "l2_intra",
            "d_sum",
            (
                F.col("l2_intra").cast(dec) * F.col("e2").cast(dec)
                - F.col("d_sum").cast(dec) * F.col("d_sum").cast(dec)
            ).alias("q_num"),
            F.col("e2"),
        )
    )
    per_comm = base.select(
        F.col("label").cast("string").alias("scope"),
        "n_nodes",
        "l2_intra",
        "d_sum",
        (F.round(
            F.col("q_num").cast("double")
            / (F.col("e2").cast("double") * F.col("e2").cast("double")),
            9,
        ) + F.lit(0.0)).alias("q"),  # +0.0 folds -0.0 (IEEE) to +0.0
    )
    total = base.groupBy().agg(
        F.sum("n_nodes").alias("n_nodes"),
        F.sum("l2_intra").alias("l2_intra"),
        F.sum("d_sum").alias("d_sum"),
        F.sum("q_num").cast(dec).alias("q_num"),
        F.first("e2").alias("e2"),
    ).select(
        F.lit("__Q__").alias("scope"),
        "n_nodes",
        "l2_intra",
        "d_sum",
        (F.round(
            F.col("q_num").cast("double")
            / (F.col("e2").cast("double") * F.col("e2").cast("double")),
            9,
        ) + F.lit(0.0)).alias("q"),  # +0.0 folds -0.0 (IEEE) to +0.0
    )
    return per_comm.unionByName(total)


def _modularity_sql() -> str:
    lpa = _lpa_sql()
    return f"""
WITH labels AS ( {lpa} ),
{_trade_edges_sql()}, tagged AS (
  SELECT e.src, e.dst, a.label AS lsrc, b.label AS ldst
  FROM edges e JOIN labels a ON e.src = a.node
               JOIN labels b ON e.dst = b.node
), e2 AS (
  SELECT COUNT(*) AS e2 FROM tagged
), per_label AS (
  SELECT lsrc AS label, COUNT(*) AS d_sum,
         CAST(SUM(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT)
           AS l2_intra
  FROM tagged GROUP BY lsrc
), np AS (
  SELECT label, COUNT(*) AS n_nodes FROM labels GROUP BY label
), base AS (
  SELECT p.label, np.n_nodes, p.l2_intra, p.d_sum,
         CAST(p.l2_intra AS HUGEINT) * e2.e2
           - CAST(p.d_sum AS HUGEINT) * p.d_sum AS q_num,
         e2.e2
  FROM per_label p JOIN np USING (label) CROSS JOIN e2
)
SELECT CAST(label AS VARCHAR) AS scope, n_nodes, l2_intra, d_sum,
       round(CAST(q_num AS DOUBLE)
             / (CAST(e2 AS DOUBLE) * CAST(e2 AS DOUBLE)), 9) + 0.0 AS q
FROM base
UNION ALL
SELECT '__Q__', CAST(SUM(n_nodes) AS BIGINT), CAST(SUM(l2_intra) AS BIGINT),
       CAST(SUM(d_sum) AS BIGINT),
       round(CAST(SUM(q_num) AS DOUBLE)
             / (CAST(MIN(e2) AS DOUBLE) * CAST(MIN(e2) AS DOUBLE)), 9) + 0.0
FROM base
"""


_KCORE_K = 3
_KCORE_ROUNDS = 3


def graph_kcore_prune(spark: SparkSession, sf_dir: str,
                      k: int = _KCORE_K,
                      rounds: int = _KCORE_ROUNDS) -> DataFrame:
    """k-core decomposition by iterative degree pruning, as a FIXED
    number of unrolled rounds — the degeneracy-ordering primitive dense-
    subgraph mining and community detection start from (Matula &
    Beck 1983). Each round drops every node whose CURRENT degree is
    < k and every edge touching a dropped node; after ``rounds`` rounds
    the survivors approximate the k-core from above (monotone: the true
    k-core is always contained in the survivor set, and the set only
    shrinks — a fixpoint test asserts containment and monotonicity).

    Same symmetric trade graph (_trade_edges) as graph_pagerank.
    Scale shape per round: one degree hash-agg (mergeable) + two
    semi-joins of the edge list against the survivor set, all keyed on
    node ids — linear in |E|. UNLIKE pagerank/LPA (one self-reference
    per iteration -> linear straight-line plans), each k-core round
    references the previous round's edges THREE times (degree agg +
    two semi-joins), so a naive unroll is exponential in rounds. The loop
    therefore materializes the shrinking edge list per round with
    localCheckpoint (the connected_components idiom): each round scans one
    materialized O(|E_t|) relation — the GraphX-style iteration shape that
    survives 100 TB. Output: the surviving nodes with their post-prune
    degree."""
    edges = _trade_edges(spark, sf_dir)
    for _ in range(rounds):
        edges = edges.localCheckpoint()
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        edges = edges.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled k-core-pruning oracle: one (d_t, k_t, e_t) CTE triple
    per round mirroring the Spark loop exactly."""
    sql = f"""
WITH {_trade_edges_sql("e0")}"""
    prev = "e0"
    for t in range(1, rounds + 1):
        sql += f""", d{t} AS (
  SELECT src, COUNT(*) AS deg FROM {prev} GROUP BY src
), k{t} AS (
  SELECT src FROM d{t} WHERE deg >= {k}
), e{t} AS (
  SELECT e.src, e.dst FROM {prev} e
  WHERE e.src IN (SELECT src FROM k{t})
    AND e.dst IN (SELECT src FROM k{t})
)"""
        prev = f"e{t}"
    return sql + f"""
SELECT src AS node, COUNT(*) AS deg FROM {prev} GROUP BY src
"""


_LPA_ITERS = 2


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007 community
    detection) with a FIXED iteration count as one straight-line
    Catalyst plan — the fourth unrolled-iteration demonstration beside
    kmeans_lloyd, pagerank, and the recursive-CTE components. Same
    symmetric trade graph (_trade_edges) as graph_pagerank.

    init label = own node id; each synchronous step every node adopts
    the MOST FREQUENT label among its neighbors, ties broken by MIN
    label — the determinism rule standing in for the published
    algorithm's random tie-breaking (plans/spec.py conventions: integer
    labels and counts only, so no float drift anywhere).

    Scale shape per iteration: one labels⋈edges hash join shuffling on
    node ids + two keyed aggregates ((node, label) count, per-node
    struct-min argmax) — linear in |E|, no scalar attach, no BNLJ."""
    return lpa_loop(_trade_edges(spark, sf_dir), _LPA_ITERS)


def lpa_loop(edges: DataFrame, iters: int) -> DataFrame:
    """The synchronous-LPA core over an (src, dst) edge frame — exposed
    separately so property tests can drive it on arbitrary random
    graphs against a plain-Python spec (graph_label_propagation wires
    it to the trade graph). Nodes are derived from src UNION dst so
    dst-only sinks of a non-symmetric edge list still appear in the
    output (they keep their own label: no in-edges under the e.dst
    join means no neighbor votes)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        nbr = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.dst") == F.col("l.node"))
            .select(F.col("e.src").alias("node"), F.col("l.label").alias("label"))
        )
        counts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        voted = (
            counts.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
            .select("node", F.col("m.label").alias("voted"))
        )
        # nodes with no in-edges get no votes: keep their current label
        labels = (
            labels.join(voted, "node", "left")
            .select("node", F.coalesce("voted", "label").alias("label"))
        )
    return labels


def _lpa_sql() -> str:
    """Unrolled label-propagation oracle: one (neighbor-label count,
    argmax) CTE pair per synchronous step, argmax via row_number over
    (count DESC, label ASC) — the exact mirror of the Spark loop's
    min(struct(-c, label))."""
    sql = f"""
WITH {_trade_edges_sql()}, nodes AS (
  SELECT DISTINCT src AS node FROM edges
), l0 AS (
  SELECT node, node AS label FROM nodes
)"""
    for t in range(1, _LPA_ITERS + 1):
        sql += f""", nl{t} AS (
  SELECT e.src AS node, p.label, COUNT(*) AS c
  FROM edges e JOIN l{t - 1} p ON e.dst = p.node
  GROUP BY 1, 2
), l{t} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM nl{t}
  ) WHERE rn = 1
)"""
    return sql + f"\nSELECT node, label FROM l{_LPA_ITERS}\n"


def _pagerank_sql() -> str:
    """Unrolled-PageRank oracle: one pr_t CTE per iteration mirroring
    the Spark loop's rounding/decimal conventions exactly."""
    sql = f"""
WITH {_trade_edges_sql()}, outdeg AS (
  SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), n AS (
  SELECT COUNT(*) AS n_nodes FROM nodes
), pr0 AS (
  SELECT node, round(1.0 / n_nodes, 9) AS pr FROM nodes, n
)"""
    prev = "pr0"
    for t in range(1, _PR_ITERS + 1):
        sql += f""", pr{t} AS (
  SELECT nodes.node,
         round({1.0 - _PR_DAMPING} / n.n_nodes + {_PR_DAMPING} *
               CAST(CAST(COALESCE(inc.contrib, 0) AS VARCHAR) AS DOUBLE), 9) AS pr
  FROM nodes
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(round(p.pr / o.odeg, 12) AS DECIMAL(28,14)))
                AS DECIMAL(28,14)) AS contrib
    FROM {prev} p JOIN edges e ON p.node = e.src JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) inc USING (node), n
)"""
        prev = f"pr{t}"
    return sql + f"\nSELECT node, pr FROM {prev}\n"


# --------------------------------------------------------------------------
# Hash-stratified sampling
# --------------------------------------------------------------------------

# md5-prefix thresholds: 0.5 * 2^32 = 0x80000000, 0.1 * 2^32 ~= 0x19999999.
_STRATA = {"purchase": None, "signup": "80000000", "_default": "19999999"}
_RATES = {"purchase": 1.0, "signup": 0.5, "_default": 0.1}


def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: each event_type gets its own
    rate (purchase 1.0, signup 0.5, rest 0.1), membership decided by
    md5(event_id) prefix — stable across runs, engines, and partitioning
    (unlike sampleBy's RNG, which is split-order dependent). Reported as
    per-stratum totals with the realized rate.

    Scale shape: map-only membership + one small aggregate; the hash is
    computed inside the scan projection.
    """
    ev = _t(spark, sf_dir, "events")
    h = F.substring(F.md5(F.col("event_id").cast("string")), 1, 8)
    keep = (
        F.when(F.col("event_type") == "purchase", F.lit(True))
        .when(F.col("event_type") == "signup", h < _STRATA["signup"])
        .otherwise(h < _STRATA["_default"])
    )
    target = (
        F.when(F.col("event_type") == "purchase", F.lit(_RATES["purchase"]))
        .when(F.col("event_type") == "signup", F.lit(_RATES["signup"]))
        .otherwise(F.lit(_RATES["_default"]))
    )
    return (
        ev.select("event_type", keep.alias("keep"), target.alias("target_rate"))
        .groupBy("event_type", "target_rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_sampled"),
            F.round(F.sum(F.col("keep").cast("long")) / F.count(F.lit(1)), 6).alias(
                "realized_rate"
            ),
        )
    )


STRATIFIED_SQL = f"""
WITH tagged AS (
  SELECT event_type,
         CASE WHEN event_type = 'purchase' THEN TRUE
              WHEN event_type = 'signup'
              THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '{_STRATA["signup"]}'
              ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '{_STRATA["_default"]}'
         END AS keep,
         CAST(CASE WHEN event_type = 'purchase' THEN {_RATES["purchase"]}
                   WHEN event_type = 'signup' THEN {_RATES["signup"]}
                   ELSE {_RATES["_default"]} END AS DOUBLE) AS target_rate
  FROM events
)
SELECT event_type, target_rate, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(SUM(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         AS realized_rate
FROM tagged GROUP BY event_type, target_rate
"""


_FIXED_K = 50


def sample_fixed_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced fixed-k per-stratum sample — the eval/calibration-set
    drawer (exactly k rows per class, however skewed the class sizes):
    membership is the first k rows per stratum in md5(key) order, so the
    draw is deterministic across runs, engines, AND partitioning — the
    rank analog of the rate-based stratified_sample_hash.

    Scale shape: the hash is computed in the scan projection and the
    per-stratum rank filter is a WindowGroupLimit — Spark pushes the
    top-k below the shuffle, so only ~k rows per stratum per map task
    reach the Exchange instead of the full table."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")).asc(),
        F.col("o_orderkey").asc(),
    )
    return (
        orders.select("o_orderpriority", "o_orderkey")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _FIXED_K)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("rk").cast("long").alias("draw_rank"),
        )
    )


SAMPLE_FIXED_K_SQL = f"""
SELECT o_orderpriority, o_orderkey, draw_rank FROM (
  SELECT o_orderpriority, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS BIGINT)
           AS draw_rank
  FROM orders
) WHERE draw_rank <= {_FIXED_K}
"""


_WPRIO_K = 20


def agg_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity feature (bot/spam accounts skew to one action;
    organic users spread). H = log2(n) − Σ c·log2(c) / n over the
    per-(user, type) counts.

    Determinism: the Σ c·log2(c) fold runs over the SORTED (type asc)
    count array collected per user — a fixed fold order, so the double
    sum is identical cross-engine (a plain SUM over grouped rows would
    be partition-order dependent); counts are exact BIGINTs. Scale
    shape: one (user, type) mergeable aggregate, one per-user
    collect_list over ≤ #event-types rows — O(5) per user."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_type", "c"))),
            lambda s: s["c"].cast("double"),
        ).alias("cs"),
    )
    sum_clogc = F.aggregate(
        F.col("cs"), F.lit(0.0), lambda a, c: a + c * F.log2(c)
    )
    return per_user.select(
        "user_id",
        F.col("n"),
        F.size("cs").cast("bigint").alias("n_types"),
        F.round(
            F.log2(F.col("n").cast("double"))
            - sum_clogc / F.col("n").cast("double"),
            6,
        ).alias("entropy_bits"),
    )


AGG_GROUP_ENTROPY_SQL = """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), per_user AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
         list_transform(list(c ORDER BY event_type), x -> CAST(x AS DOUBLE))
           AS cs
  FROM counts GROUP BY user_id
)
SELECT user_id, n, CAST(len(cs) AS BIGINT) AS n_types,
       round(log2(CAST(n AS DOUBLE))
             - list_sum(list_transform(cs, c -> c * log2(c)))
               / CAST(n AS DOUBLE), 6) AS entropy_bits
FROM per_user
"""


def timeseries_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection — the deseasonalized
    sibling of anomaly_zscore/mad (a raw z-score flags every rush hour
    as anomalous; subtracting the hour-of-day profile first flags only
    what deviates from that hour's OWN norm): per event,
    residual = value − mean(value | hour-of-day), flagged when
    |residual| > 3·σ_residual.

    Determinism recipe: values go to integer micro-units
    (floor(value·1e6)); the 24-row hour profile keeps EXACT (n_h, s_h)
    integer sums; the residual numerator r_num = m·n_h − s_h is exact,
    so resid = r_num / n_h divides identical integers-as-doubles on
    both engines, and the micro-residual r_q = floor(r_num/n_h) feeds
    exact (n, Σr_q, Σr_q²) moments for σ — the variance-partial
    recipe. Every reported double derives from the same exact inputs.

    Scale shape: one 24-group aggregate (broadcast back), one 1-row
    moment aggregate (broadcast attach), then a narrow flag pass — two
    tiny attaches on a linear scan. (r_num is BIGINT here; a 100 TB
    deployment with >9e18 intermediate lifts it to DECIMAL(38,0), the
    agg_covariance_matrix move.)"""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = 1_000_000
    base = ev.select(
        "event_id",
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") * U).cast("long").alias("m"),
    )
    prof = base.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n_h"), F.sum("m").alias("s_h")
    )
    joined = base.join(F.broadcast(prof), "hod").select(
        "event_id", "hod",
        (F.col("m") * F.col("n_h") - F.col("s_h")).alias("r_num"),
        "n_h",
    )
    r_q = F.floor(
        F.col("r_num").cast("double") / F.col("n_h").cast("double")
    ).cast("long")
    withq = joined.select("event_id", "hod", "r_num", "n_h", r_q.alias("r_q"))
    dec = "decimal(38,0)"
    mom = withq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r_q").cast(dec)).cast(dec).alias("s1"),
        # r_q² ~1e18 per row: multiply in DECIMAL, a long Σ overflows
        F.sum(F.col("r_q").cast(dec) * F.col("r_q").cast(dec))
        .cast(dec).alias("s2"),
    )
    out = withq.crossJoin(F.broadcast(mom))
    var_num = F.col("n").cast(dec) * F.col("s2") - F.col("s1") * F.col("s1")
    sigma = F.round(
        F.sqrt(var_num.cast("string").cast("double"))
        / (F.col("n").cast("double") * U),
        6,
    )
    resid = F.round(
        F.col("r_num").cast("double") / (F.col("n_h").cast("double") * U), 6
    )
    # is_anomaly is derived from the SAME rounded residual that is
    # reported, so no output row can show |residual| > 3·sigma with
    # is_anomaly=false (the floored micro-residual r_q would disagree at
    # the boundary).
    return out.select(
        "event_id",
        F.col("hod").cast("long").alias("hod"),
        resid.alias("residual"),
        sigma.alias("sigma"),
        (F.abs(resid) > F.lit(3.0) * sigma).alias("is_anomaly"),
    )


TIMESERIES_SEASONAL_SQL = """
WITH base AS (
  SELECT event_id, CAST(hour(ts) AS BIGINT) AS hod,
         CAST(floor(value * 1000000) AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL
), prof AS (
  SELECT hod, COUNT(*) AS n_h, CAST(SUM(m) AS BIGINT) AS s_h
  FROM base GROUP BY hod
), j AS (
  SELECT event_id, base.hod, (m * n_h - s_h) AS r_num, n_h,
         CAST(floor(CAST(m * n_h - s_h AS DOUBLE)
                    / CAST(n_h AS DOUBLE)) AS BIGINT) AS r_q
  FROM base JOIN prof USING (hod)
), mom AS (
  SELECT COUNT(*) AS n, CAST(SUM(r_q) AS HUGEINT) AS s1,
         CAST(SUM(r_q * r_q) AS HUGEINT) AS s2
  FROM j
)
SELECT event_id, hod,
       round(CAST(r_num AS DOUBLE) / (CAST(n_h AS DOUBLE) * 1000000), 6)
         AS residual,
       round(sqrt(CAST(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS VARCHAR)
                       AS DOUBLE))
             / (CAST(n AS DOUBLE) * 1000000), 6) AS sigma,
       (abs(round(CAST(r_num AS DOUBLE) / (CAST(n_h AS DOUBLE) * 1000000),
                  6))
        > 3.0 * round(sqrt(CAST(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1
                                     AS VARCHAR) AS DOUBLE))
                      / (CAST(n AS DOUBLE) * 1000000), 6)) AS is_anomaly
FROM j CROSS JOIN mom
"""


def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    concentration/inequality metric a marketplace-health or data-skew
    report leads with (0 = revenue spread evenly, →1 = one whale).
    Formula on revenue sorted ascending with rank i (1..n):
        G = Σ (2i − n − 1)·x_i / (n · Σx)
    Everything stays EXACT integer cents until one final division: the
    weighted sum runs in DECIMAL(38,0)/HUGEINT, ranks come from a
    total order ((cents, custkey) — deterministic under ties), and
    customers with no orders count as zero-revenue rows (a Gini that
    drops them understates inequality).

    Scale shape: revenue = one mergeable customer aggregate; ranking =
    one window per segment (5 partitions here — at 100 TB the same
    rank comes from the 256-bucket two-phase ranking of
    dataset_shuffle_shards, cross-referenced); the weighted sums are
    one mergeable per-segment aggregate to 5 rows."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.coalesce(F.sum("cents"), F.lit(0).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    dec = "decimal(38,0)"
    per_seg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast(dec).alias("sx"),
        F.sum(
            (2 * F.col("i").cast("long") - 1).cast(dec) * F.col("cents").cast(dec)
        ).cast(dec).alias("swx2"),  # Σ(2i−1)x; subtract n·Σx below
    )
    num = F.col("swx2") - F.col("n").cast(dec) * F.col("sx")
    den = F.col("n").cast(dec) * F.col("sx")
    return per_seg.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n").alias("n_customers"),
        (F.col("sx").cast("string").cast("double") / 100.0).alias("total_revenue"),
        F.round(
            num.cast("string").cast("double") / den.cast("string").cast("double"),
            6,
        ).alias("gini"),
    )


AGG_GINI_SQL = """
WITH rev AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)),
                       0) AS BIGINT) AS cents
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_mktsegment, cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cents, c_custkey) AS i
  FROM rev
), per_seg AS (
  SELECT c_mktsegment AS segment, COUNT(*) AS n,
         CAST(SUM(cents) AS HUGEINT) AS sx,
         CAST(SUM((2 * i - 1) * CAST(cents AS HUGEINT)) AS HUGEINT) AS swx2
  FROM ranked GROUP BY 1
)
SELECT segment, n AS n_customers,
       CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 100.0 AS total_revenue,
       round(CAST(CAST(swx2 - CAST(n AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n AS HUGEINT) * sx AS VARCHAR) AS DOUBLE), 6)
         AS gini
FROM per_seg
"""


_RI_CHECKS = [
    # (name, child table, child FK col, parent table, parent PK col)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
]


_PK_CHECKS = [
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]


def dq_primary_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit — the other half of constraint
    enforcement a lakehouse must self-serve (dq_referential_integrity
    checks the FK side): per declared key, row count, distinct-key
    count, duplicated-key count and the worst key's multiplicity.
    Scale shape: one mergeable two-level aggregate per table
    (key-count then summary), 6 report rows."""
    rows = []
    for table, key in _PK_CHECKS:
        per_key = (
            _t(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        rows.append(
            per_key.agg(
                F.lit(f"{table}.{key}").alias("key"),
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                    "n_rows_in_dup_keys"
                ),
                F.max("c").alias("max_multiplicity"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


DQ_PK_UNIQUENESS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{table}.{key}' AS key,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       COUNT(*) AS n_distinct,
       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_rows_in_dup_keys,
       CAST(MAX(c) AS BIGINT) AS max_multiplicity
FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})"""
    for table, key in _PK_CHECKS
)


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's five FK
    relationships: per relationship, child rows whose FK has no parent
    (LEFT ANTI join) — the first DQ gate after any ingest, and the one
    a lakehouse without DB-enforced constraints must run itself. NULL
    FKs are counted separately (a NULL is a missing link, not an
    orphan — the three-valued-logic trap filter_not_in_null_trap
    demonstrates).

    Scale shape: five independent anti-joins, each an equi-join keyed
    on the FK (broadcast when the parent is small — nation/customer);
    output is 5 rows. The test plants an orphan and a NULL to prove
    detection."""
    rows = []
    for name, child, fk, parent, pk in _RI_CHECKS:
        c = _t(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("pk"))
        stats = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("fk").isNull().cast("long")).alias("n_null_fk"),
        )
        orphans = (
            c.filter(F.col("fk").isNotNull())
            .join(p, F.col("fk") == F.col("pk"), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        rows.append(
            stats.crossJoin(orphans).select(
                F.lit(name).alias("relationship"),
                "n_child",
                "n_null_fk",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double") / F.col("n_child"), 6
                ).alias("orphan_frac"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


DQ_REFERENTIAL_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS relationship,
       COUNT(*) AS n_child,
       CAST(SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fk,
       CAST((SELECT COUNT(*) FROM {child} c
             WHERE c.{fk} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS BIGINT)
         AS n_orphans,
       round(CAST((SELECT COUNT(*) FROM {child} c
             WHERE c.{fk} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS DOUBLE)
             / COUNT(*), 6) AS orphan_frac
FROM {child}"""
    for name, child, fk, parent, pk in _RI_CHECKS
)


_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the marketing-analytics join:
    every purchase's value is split EQUALLY across the user's 'click'
    touches in the 7 days before it (pseudo-channel = props.k % 4, the
    deterministic stand-in for a UTM channel); purchases with no touch
    in the window attribute to 'direct'. Per channel: touch count,
    converted-purchase count, attributed revenue.

    Determinism: shares are EXACT integer micro-cents —
    floor(cents·10⁴ / k) per touch (a double value/k has an infinite
    decimal expansion, and the engines' double→decimal cast rounding
    disagreed by 1e-6 per row in testing); the channel rollup sums
    BIGINTs and converts once, with no final rounding needed. Scale shape: the touch⋈purchase
    join is an EQUI-join on user_id with the time window as a residual
    predicate — per-user touches × purchases is bounded by activity, so
    the join output is linear in conversions; two mergeable aggregates
    (per-purchase k, per-channel rollup) finish it."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.unix_micros("ts").alias("p_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("c_us"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("long") % 4).cast("string"),
        ).alias("channel"),
    )
    touched = purchases.join(clicks, "user_id").filter(
        (F.col("c_us") < F.col("p_us"))
        & (F.col("c_us") >= F.col("p_us") - _ATTR_WINDOW_US)
    )
    k = touched.groupBy("p_id").agg(F.count(F.lit(1)).alias("k"))
    shares = touched.join(k, "p_id").select(
        "channel",
        "p_id",
        F.expr("(cents * 10000) DIV k").alias("share_micro"),
    )
    direct = (
        purchases.join(k, purchases.p_id == k.p_id, "left_anti")
        .select(
            F.lit("direct").alias("channel"),
            "p_id",
            (F.col("cents") * 10000).alias("share_micro"),
        )
    )
    return (
        shares.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.count_distinct("p_id").alias("n_conversions"),
            (F.sum("share_micro").cast("double") / F.lit(1000000.0)).alias(
                "attributed_revenue"
            ),
        )
    )


ATTRIBUTION_LINEAR_SQL = f"""
WITH purchases AS (
  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, epoch_us(ts) AS c_us,
         'ch' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
                      AS VARCHAR) AS channel
  FROM events WHERE event_type = 'click'
), touched AS (
  SELECT p.p_id, p.cents, c.channel
  FROM purchases p JOIN clicks c USING (user_id)
  WHERE c.c_us < p.p_us AND c.c_us >= p.p_us - {_ATTR_WINDOW_US}
), k AS (
  SELECT p_id, COUNT(*) AS k FROM touched GROUP BY p_id
), shares AS (
  SELECT t.channel, t.p_id, (t.cents * 10000) // k.k AS share_micro
  FROM touched t JOIN k USING (p_id)
  UNION ALL
  SELECT 'direct', p.p_id, p.cents * 10000
  FROM purchases p WHERE p.p_id NOT IN (SELECT p_id FROM k)
)
SELECT channel, COUNT(*) AS n_touches,
       CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_conversions,
       CAST(CAST(SUM(share_micro) AS BIGINT) AS DOUBLE) / 1000000.0
         AS attributed_revenue
FROM shares GROUP BY channel
"""


# Conversion threshold shared by the Spark plan and the DuckDB oracle:
# a user "converts" when they fire at least this many purchase events.
_AB_CONVERSION_MIN_PURCHASES = 15


def eval_ab_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experimentation-analytics member of
    the eval family: users split into variants by user_id parity (the
    deterministic stand-in for an assignment column), conversion = the
    user fired at least ``_AB_CONVERSION_MIN_PURCHASES`` 'purchase'
    events (a heavy-buyer threshold chosen so both variants have
    non-degenerate rates on the synthetic data); the pooled-variance
    z-score for rate_b − rate_a in ONE result row.

    Every input to the z formula is an exact integer count, so the
    doubles both engines derive are identical; the z computation is a
    per-row expression on a 1-row frame. Scale shape: one per-user
    aggregate (mergeable, keyed on user_id) + one 4-cell aggregate —
    nothing downstream exceeds O(1)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            >= _AB_CONVERSION_MIN_PURCHASES
        ).cast("long").alias("conv")
    )
    cells = per_user.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = F.when(se > 0, (pb - pa) / se).otherwise(F.lit(0.0))
    return cells.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )


EVAL_AB_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {_AB_CONVERSION_MIN_PURCHASES} THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
), cells AS (
  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM per_user
)
SELECT n_a, n_b, conv_a, conv_b,
       round(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
       round(CASE WHEN sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE))) > 0
             THEN (conv_b / CAST(n_b AS DOUBLE) - conv_a / CAST(n_a AS DOUBLE))
             / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE)))
             ELSE 0.0 END, 6)
         AS z_score
FROM cells
"""


_BOOT_R = 8
# cumulative Poisson(1) CDF at k = 0..4 (12-dp literals shared by both
# engines; draws above c4 take weight 5 — P ≈ 3.7e-3, the tail cap)
_BOOT_CDF = (
    "0.367879441171", "0.735758882343", "0.919698602929",
    "0.981011843124", "0.996340153173",
)


def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams" — the Google large-scale bootstrap): each
    replicate r re-weights every row by an independent Poisson(1) draw,
    so resampling needs NO global n and NO shuffle of the data — the
    only distributed-friendly bootstrap at 100 TB (classic resampling
    needs n draws WITH replacement = a global shuffle per replicate).
    The replicate mean's spread across r estimates the sampling
    distribution of the mean.

    Determinism: the Poisson draw inverts a 12-dp literal CDF at a
    md5-derived uniform (hash of orderkey|replicate — same md5 on both
    engines); the metric stays exact-integer (weight × price CENTS
    summed as BIGINTs) until ONE division per replicate.

    Scale shape: explode ×R (R=8 constant), one mergeable aggregate to
    R rows. Everything else is narrow."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    rep = o.select(
        "o_orderkey", "cents",
        F.explode(F.array(*[F.lit(r) for r in range(_BOOT_R)])).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("o_orderkey"), F.col("r"))), 1, 8
            ),
            16, 10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    w = (
        F.when(u < float(_BOOT_CDF[0]), 0)
        .when(u < float(_BOOT_CDF[1]), 1)
        .when(u < float(_BOOT_CDF[2]), 2)
        .when(u < float(_BOOT_CDF[3]), 3)
        .when(u < float(_BOOT_CDF[4]), 4)
        .otherwise(5)
        .cast("long")
    )
    return (
        rep.select(F.col("r").cast("long").alias("replicate"),
                   w.alias("w"), "cents")
        .groupBy("replicate")
        .agg(
            F.sum("w").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / (F.sum("w").cast("double") * 100.0),
                6,
            ).alias("boot_mean"),
        )
    )


def _bootstrap_sql() -> str:
    return f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), rep AS (
  SELECT o_orderkey, cents, CAST(g.r AS BIGINT) AS replicate,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                                 || CAST(g.r AS VARCHAR)), 1, 8) AS BIGINT)
           / 4294967296.0 AS u
  FROM o, UNNEST(generate_series(0, {_BOOT_R - 1})) AS g(r)
), wt AS (
  SELECT replicate, cents,
         CAST(CASE WHEN u < {_BOOT_CDF[0]} THEN 0
              WHEN u < {_BOOT_CDF[1]} THEN 1
              WHEN u < {_BOOT_CDF[2]} THEN 2
              WHEN u < {_BOOT_CDF[3]} THEN 3
              WHEN u < {_BOOT_CDF[4]} THEN 4
              ELSE 5 END AS BIGINT) AS w
  FROM rep
)
SELECT replicate, CAST(SUM(w) AS BIGINT) AS n_eff,
       round(CAST(SUM(w * cents) AS DOUBLE)
             / (CAST(SUM(w) AS DOUBLE) * 100.0), 6) AS boot_mean
FROM wt GROUP BY replicate
"""


def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per source — the
    Efraimidis-Spirakis (2006) priority draw: each doc gets a
    deterministic md5-uniform u in (0,1) and priority key ln(u)/w with
    w = n_chars; the k LARGEST keys per source are exactly a
    weight-proportional without-replacement sample (ln(u)/w is the
    monotone form of the paper's u^(1/w)). This is the 'sample
    proportional to token count' primitive mixture construction needs —
    longer docs proportionally likelier, no replacement, one pass.

    Determinism: u = (32-bit md5 prefix + 0.5) / 2^32 — the +0.5 keeps
    u strictly inside (0,1) (ln(0) guard) and every value is an exact
    dyadic double both engines compute bit-identically; the ranking key
    rounds to 12 dp (key magnitudes are >= ~1/553 here, so a last-ulp
    ln() divergence sits ~1e-16 below the rounding quantum) and ties
    break on doc_id, so ranks can never flip across engines.

    Scale shape: key is scan-projection work; the per-source top-k is a
    WindowGroupLimit (rank pushed below the shuffle — only ~k rows per
    source per map task reach the Exchange), the same 100 TB shape as
    sample_fixed_k_per_stratum."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    u = (
        md5_u32(F.col("doc_id").cast("string")).cast("double") + F.lit(0.5)
    ) / F.lit(float(2**32))
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    w = Window.partitionBy("source").orderBy(
        F.col("priority_key").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("priority_key", key)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WPRIO_K)
        .select(
            "source",
            F.col("rk").cast("long").alias("draw_rank"),
            "doc_id",
            F.col("n_chars").alias("weight"),
            "priority_key",
        )
    )


SAMPLE_WPRIO_SQL = f"""
SELECT source, draw_rank, doc_id, weight, priority_key FROM (
  SELECT source, doc_id, weight, priority_key,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY priority_key DESC, doc_id) AS BIGINT) AS draw_rank
  FROM (
    SELECT source, doc_id, n_chars AS weight,
           round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     + 0.5) / 4294967296.0) / n_chars, 12) AS priority_key
    FROM documents WHERE n_chars > 0
  )
) WHERE draw_rank <= {_WPRIO_K}
"""


# --------------------------------------------------------------------------
# Graph: BFS hop levels (delta-iteration frontier, recursive-CTE oracle)
# --------------------------------------------------------------------------

_BFS_HOPS = 4


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: minimum hop distance from a seed set, as a
    FIXED-hop straight-line plan — the graph-traversal primitive the
    reference has no analogue of (its one dataflow is join-only,
    /root/reference/src/pipeline.py:262-296). Same symmetric
    trade graph (_trade_edges) as graph_pagerank; seeds are the
    customer-side nodes whose key is divisible by 50.

    This is a DELTA iteration, not a naive unroll: each hop's frontier
    is (frontier JOIN edges).distinct() ANTI-JOIN everything already
    reached, so a node is expanded exactly once and the per-hop work is
    bounded by |V| new nodes x avg degree — the Pregel/GraphX frontier
    rule. A naive frontier (no distinct, no anti-join) re-walks every
    path and goes combinatorial on dense graphs; the BFS property test
    pins min-hop semantics against a plain-Python spec.

    Rows are unique per node BY CONSTRUCTION (each hop's additions are
    anti-joined against all prior levels), so no final min-aggregate
    shuffle is needed. The DuckDB oracle derives the same levels
    independently via WITH RECURSIVE + MIN(level) — union-dedup
    recursion bounded by the hop cap.

    Scale shape per hop: one frontier⋈edges hash join shuffling node
    ids + one distinct + one anti-join — linear in the frontier's edge
    neighborhood, never in paths."""
    edges = _trade_edges(spark, sf_dir)
    # Pin the trade graph BEFORE deriving seeds, so both the seed frame
    # and every hop read the materialized edges (bfs_levels_loop's
    # caller contract). On a cluster this is a checkpoint table of the
    # edge list.
    edges = edges.localCheckpoint()
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter((F.col("node") < 1000000) & (F.col("node") % 50 == 0))
    )
    return bfs_levels_loop(edges, seeds, _BFS_HOPS)


def bfs_levels_loop(edges: DataFrame, seeds: DataFrame,
                    hops: int) -> DataFrame:
    """The delta-iteration BFS core over (src, dst) edges and a (node)
    seed frame — exposed separately so the property test can drive it
    on arbitrary random digraphs against a plain-Python min-hop spec
    (graph_bfs_levels wires it to the trade graph).

    Unlike pagerank/LPA (whose per-iteration state joins only STATIC
    frames), BFS anti-joins each hop against the GROWING visited set,
    so an uncached straight-line plan re-derives every earlier
    frontier inside every later anti-join. Each hop's frontier and the
    cumulative visited frame are therefore cached (both bounded by
    |V|, the Pregel materialization point), the final result is
    materialized through them MMR-style (operators/similarity.
    _mmr_core), and the per-hop caches are released — long-lived
    sessions must not accumulate frontier relations.
    At cluster scale the same points become checkpoint tables.

    CALLER CONTRACT: pass a MATERIALIZED `edges` frame
    (localCheckpoint / cached / pinned). The frontier/visited caches
    break exchange reuse across hops, so an edge frame carrying a
    derivation subtree is re-derived inside every hop's join AND the
    seed/anti-join paths (the same cached-static-frame class as
    connected_components' sym pin)."""
    reached = seeds.select("node", F.lit(0).cast("long").alias("level"))
    frontier = reached.select("node")
    hop_caches: list[DataFrame] = []
    for h in range(1, hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
        ).cache()
        reached = reached.unionAll(
            nxt.select("node", F.lit(h).cast("long").alias("level"))
        ).cache()
        hop_caches.extend((nxt, reached))
        frontier = nxt
    result = reached.cache()
    result.count()
    for c in hop_caches:
        if c is not result:
            c.unpersist()
    return result


def _bfs_sql() -> str:
    """Recursive-CTE BFS oracle: union-dedup walk bounded at `_BFS_HOPS`,
    then MIN(level) per node — an independent derivation of the same
    min-hop function (the Spark side never aggregates; the oracle
    proves its per-hop anti-join construction equals min-over-walks)."""
    return f"""
WITH RECURSIVE {_trade_edges_sql()}, seeds AS (
  SELECT DISTINCT src AS node FROM edges
  WHERE src < 1000000 AND src % 50 = 0
), walk(node, level) AS (
  SELECT node, CAST(0 AS BIGINT) AS level FROM seeds
  UNION
  SELECT e.dst AS node, w.level + 1 AS level
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.level < {_BFS_HOPS}
)
SELECT node, MIN(level) AS level FROM walk GROUP BY node
"""


# --------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford, fixed rounds)
# --------------------------------------------------------------------------

_SSSP_ROUNDS = 3


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths: Bellman-Ford with a FIXED
    round count over the trade graph, edge weight = 11 - min(10, #trade
    orders between the endpoints) — a "stronger relationship = cheaper
    hop" cost in [1, 10], INTEGER so every distance is an exact BIGINT
    (no float accumulation anywhere). The weighted companion of
    graph_bfs_levels: BFS counts hops; this relaxes
    dist(v) = min(dist(v), min over (u,v) of dist(u) + w) per round,
    so a 2-hop path through strong partners can beat a direct weak
    edge — asserted by the property test against plain-Python
    Bellman-Ford on random weighted digraphs.

    After R rounds, dist(v) is EXACTLY min cost over paths of <= R
    edges (the standard Bellman-Ford invariant) — a well-defined
    deterministic output whether or not the graph needs more rounds to
    converge. Same seed rule as BFS (customer nodes % 50)."""
    pairs = (
        _trade_lines(spark, sf_dir)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + 1000000).alias("s"),
            "l_orderkey",
        )
        .groupBy("c", "s")
        .agg(
            (F.lit(11) - F.least(F.lit(10), F.countDistinct("l_orderkey")))
            .cast("long")
            .alias("w")
        )
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))
    # Pin the weighted trade graph before deriving seeds (sssp_loop's
    # caller contract — same cached-static-frame class as
    # graph_bfs_levels above).
    edges = edges.localCheckpoint()
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter((F.col("node") < 1000000) & (F.col("node") % 50 == 0))
    )
    return sssp_loop(edges, seeds, _SSSP_ROUNDS)


def sssp_loop(edges: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """The Bellman-Ford core over (src, dst, w) edges and a (node) seed
    frame — exposed for the random-graph property test. Each round's
    dist frame feeds the NEXT round twice (keep-current min + relax),
    so an uncached straight-line plan re-evaluates the lineage 2^R
    times — each round is cached (the Pregel materialization point,
    as bfs_levels_loop), the final frame materialized through the
    caches, intermediates released. Caller contract as bfs_levels_loop:
    pass a MATERIALIZED edges frame (the per-round dist caches break
    exchange reuse, so a derivation subtree would re-derive per relax
    round)."""
    dist = seeds.select("node", F.lit(0).cast("long").alias("dist")).cache()
    caches = [dist]
    for _ in range(rounds):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        dist = (
            dist.join(relaxed, "node", "full_outer")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(2**62)),
                    F.coalesce("d", F.lit(2**62)),
                ).alias("dist"),
            )
            .cache()
        )
        caches.append(dist)
    result = dist
    result.count()
    for c in caches[:-1]:
        c.unpersist()
    return result


def _sssp_sql() -> str:
    """Unrolled Bellman-Ford oracle: one relax CTE pair per round,
    mirroring the full-outer keep-or-relax update exactly (BIGINT
    distances end to end)."""
    sql = """
WITH pairs AS (
  SELECT o_custkey AS c, l_suppkey + 1000000 AS s,
         CAST(11 - least(10, COUNT(DISTINCT l_orderkey)) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % 20 = 0
  GROUP BY 1, 2
), edges AS (
  SELECT c AS src, s AS dst, w FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst, w FROM pairs
), d0 AS (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM edges
  WHERE src < 1000000 AND src % 50 = 0
)"""
    prev = "d0"
    for r in range(1, _SSSP_ROUNDS + 1):
        sql += f""", r{r} AS (
  SELECT e.dst AS node, MIN(p.dist + e.w) AS d
  FROM {prev} p JOIN edges e ON p.node = e.src
  GROUP BY e.dst
), d{r} AS (
  SELECT COALESCE(p.node, r.node) AS node,
         least(COALESCE(p.dist, 4611686018427387904),
               COALESCE(r.d, 4611686018427387904)) AS dist
  FROM {prev} p FULL OUTER JOIN r{r} r ON p.node = r.node
)"""
        prev = f"d{r}"
    return sql + f"\nSELECT node, dist FROM {prev}\n"


# --------------------------------------------------------------------------
# Interval coalesce (overlap-merge islands)
# --------------------------------------------------------------------------

_COALESCE_PAD_S = 300


def window_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals per key — the gaps-and-islands form
    over RANGES rather than runs (pattern_match_runs) or fixed gaps
    (sessionize_events): each event spans [ts, ts+300s]; intervals that
    overlap or touch chain into one island. The classic two-window
    idiom: an interval starts a new island iff its start exceeds the
    running MAX(end) of every preceding interval (ROWS UNBOUNDED
    PRECEDING TO 1 PRECEDING); island id is then the running sum of
    those start flags. The cummax (not lag(end)) form is the one that
    stays correct for VARIABLE-length intervals, where a long interval
    can swallow later short ones; with this entry's fixed 300 s pad
    ends are monotone in starts and the two coincide — the test plants
    variable-length intervals against the shared core to pin the
    general rule.

    Scale shape: both windows partition by user_id and order by
    (start, event_id) — per-key sorts after one hash shuffle, no
    global ordering; the final per-island aggregate reuses the same
    key. Epoch seconds as BIGINT end-to-end (plans/spec.py)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + _COALESCE_PAD_S).alias("e"),
    )
    return interval_coalesce_core(ev)


def interval_coalesce_core(iv: DataFrame) -> DataFrame:
    """The overlap-merge core over a (user_id, event_id, s, e) interval
    frame — exposed separately so the spec test can plant
    VARIABLE-length intervals (including a long interval containing
    later short ones, the case the cummax form exists for) against a
    plain-Python merge (window_interval_coalesce wires it to the padded
    events table)."""
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_new"),
    )
    island = F.sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.select(
            "user_id", "s", "e", island.alias("island_id")
        )
        .groupBy("user_id", "island_id")
        .agg(
            F.min("s").alias("island_start_s"),
            F.max("e").alias("island_end_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


INTERVAL_COALESCE_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {_COALESCE_PAD_S} AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e, event_id,
         CAST(CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                   OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS BIGINT) AS is_new
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island_id
  FROM flagged
)
SELECT user_id, island_id,
       MIN(s) AS island_start_s, MAX(e) AS island_end_s,
       COUNT(*) AS n_events
FROM islands GROUP BY user_id, island_id
"""


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov (bucketed ECDF grid)
# --------------------------------------------------------------------------

_KS_BUCKETS = 64


def dq_ks_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift check between the same order
    snapshots as dq_distribution_drift (A = year <= 1997, B = later) —
    the NONPARAMETRIC companion of that entry's PSI: KS reads the
    maximum ECDF gap sup|F_A - F_B|, catching shape/location shifts a
    binned PSI can smear, with no distributional assumptions.

    Scale form: the ECDFs are evaluated on a 64-edge equal-width
    bucket grid (one conditional-count groupBy over <= 64 keys for
    BOTH snapshots in a single fact pass — the dq_distribution_drift
    recipe), then cumulated by a window over the <= 64-row grouped
    frame (O(1) input, waivered). The grid statistic is the EXACT sup
    over bucket edges, hence a lower bound of the pointwise D that
    tightens with grid resolution; an exact pointwise D would need a
    global sort over raw rows — the deliberate non-starter at 100 TB.

    Determinism: cumulative counts are exact BIGINTs; the two CDFs are
    6-dp-rounded IEEE divisions by the scalar totals; d rounds after the
    subtraction. Output carries the per-edge gap AND the overall ks_d
    on every row (a second O(64) window)."""
    grouped = _snapshot_bucket_counts(
        _t(spark, sf_dir, "orders"), _KS_BUCKETS
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = grouped.select(
        "bucket",
        "n_a",
        "n_b",
        F.sum("n_a").over(wcum).alias("ca"),
        F.sum("n_b").over(wcum).alias("cb"),
        F.sum("n_a").over(wall).alias("ta"),
        F.sum("n_b").over(wall).alias("tb"),
    )
    cdf_a = F.round(F.col("ca") / F.col("ta"), 6)
    cdf_b = F.round(F.col("cb") / F.col("tb"), 6)
    d = F.round(F.abs(cdf_a - cdf_b), 6)
    scored = cum.select(
        "bucket", "n_a", "n_b",
        cdf_a.alias("cdf_a"), cdf_b.alias("cdf_b"), d.alias("d"),
    )
    return scored.select(
        "*", F.max("d").over(Window.partitionBy()).alias("ks_d")
    )


DQ_KS_SQL = f"""
WITH bounds AS (
  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
), grouped AS (
  SELECT (CASE WHEN mx = mn THEN 0 ELSE
            least(CAST(floor((o_totalprice - mn) * {_KS_BUCKETS} / (mx - mn))
                       AS BIGINT), {_KS_BUCKETS - 1}) END) + 1 AS bucket,
         CAST(SUM(CASE WHEN year(o_orderdate) <= {_DRIFT_SPLIT_YEAR} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN year(o_orderdate) <= {_DRIFT_SPLIT_YEAR} THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b
  FROM orders, bounds
  GROUP BY 1
), cum AS (
  SELECT bucket, n_a, n_b,
         SUM(n_a) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(n_b) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(n_a) OVER () AS ta,
         SUM(n_b) OVER () AS tb
  FROM grouped
), scored AS (
  SELECT bucket, n_a, n_b,
         round(CAST(ca AS DOUBLE) / ta, 6) AS cdf_a,
         round(CAST(cb AS DOUBLE) / tb, 6) AS cdf_b,
         round(abs(round(CAST(ca AS DOUBLE) / ta, 6)
                   - round(CAST(cb AS DOUBLE) / tb, 6)), 6) AS d
  FROM cum
)
SELECT bucket, n_a, n_b, cdf_a, cdf_b, d,
       MAX(d) OVER () AS ks_d
FROM scored
"""


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest (MAPE / bias per key)
# --------------------------------------------------------------------------

_SEASON_LAG = 24  # hours


def timeseries_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTESTING as an operator — the evaluation loop every
    forecasting pipeline runs before trusting a model: the seasonal-
    naive baseline (predict this hour = the value 24 hours ago, the
    standard yardstick any real model must beat) scored per event type
    with MAPE, sMAPE-style guarded percentage errors, and mean signed
    bias. The eval sibling of eval_retrieval_metrics: retrieval has
    recall/nDCG, forecasting has MAPE/bias.

    Determinism: hourly actuals are exact decimal sums (anomaly_zscore
    grain); the per-row APE is rounded to 6 dp and then accumulated as
    DECIMAL(18,6) — a plain double mean would be partition-order
    dependent; bias accumulates the signed decimal error directly.

    The 24h-ago value is fetched by an equi-join on the SHIFTED HOUR
    KEY, not lag(24) over rows: sparse series have empty hourly grains
    (no events that hour -> no row), and a row-offset lag would then
    silently read a 25+h-old value — the classic seasonal-lag
    misalignment. With the key join, an hour whose 24h-old counterpart
    is missing (first day, or a gap) is excluded on both engines by
    the join miss.

    Scale shape: one shuffle to hourly grains, one self-equi-join on
    (type, shifted hour) over the (small) grouped frame, one keyed
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    hourly = ev.groupBy("event_type", hour.alias("hour_s")).agg(
        dsum("value").alias("actual")
    )
    past = hourly.select(
        "event_type",
        (F.col("hour_s") + _SEASON_LAG * 3600).alias("hour_s"),
        F.col("actual").alias("forecast"),
    )
    scored = hourly.join(past, ["event_type", "hour_s"])
    ape = F.round(
        F.when(
            F.col("actual") != 0.0,
            F.abs(F.col("actual") - F.col("forecast")) / F.abs("actual"),
        ),
        6,
    )
    err_dec = (F.col("actual") - F.col("forecast")).cast("decimal(18,4)")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(ape.cast("decimal(18,6)"))
        .cast("string").cast("double").alias("sum_ape"),
        F.round(
            F.sum(ape.cast("decimal(18,6)")).cast("string").cast("double")
            / F.sum(F.when(ape.isNotNull(), 1).otherwise(0)),
            6,
        ).alias("mape"),
        F.round(
            F.sum(err_dec).cast("string").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_bias"),
    )


FORECAST_BACKTEST_SQL = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_s,
         {sql_dsum('value')} AS actual
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT h.event_type, h.hour_s, h.actual, p.actual AS forecast
  FROM hourly h
  JOIN hourly p ON p.event_type = h.event_type
               AND p.hour_s = h.hour_s - {_SEASON_LAG * 3600}
), kept AS (
  SELECT event_type, actual, forecast,
         round(CASE WHEN actual <> 0.0
                    THEN abs(actual - forecast) / abs(actual) END, 6) AS ape
  FROM scored
)
SELECT event_type,
       COUNT(*) AS n_scored,
       CAST(CAST(SUM(CAST(ape AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_ape,
       round(CAST(CAST(SUM(CAST(ape AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / SUM(CASE WHEN ape IS NOT NULL THEN 1 ELSE 0 END), 6) AS mape,
       round(CAST(CAST(SUM(CAST(actual - forecast AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS mean_bias
FROM kept GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Robust (median/MAD) anomaly detection — the robust twin of anomaly_zscore
# --------------------------------------------------------------------------


def timeseries_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier profile per event type — the robust
    twin of anomaly_zscore (mean/stddev breaks down when the anomalies
    themselves inflate sigma; median and median-absolute-deviation have
    a 50% breakdown point). robust_z = |x - median| / (1.4826 * MAD),
    the standard consistency constant for normal data; rows with
    robust_z > 3 are flagged and the per-type summary is returned.

    Cross-engine determinism: Spark percentile() and DuckDB
    quantile_cont() are interpolation-identical (verified by
    agg_percentiles), both medians are rounded to 6 dp before re-use,
    and the per-row robust_z is rounded before the >3 compare so both
    engines flag the same boundary rows.

    Scale shape: two keyed aggregates on event_type (exact medians here
    carry the oracle; approx_percentile is the drop-in 100 TB path, as
    agg_percentiles documents) with the 5-row per-type stats frames
    broadcast back — no window over raw rows, no global sort."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    d1 = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    mad = d1.groupBy("event_type").agg(
        F.round(F.expr("percentile(dev, 0.5)"), 6).alias("mad")
    )
    d2 = d1.join(F.broadcast(mad), "event_type").select(
        "event_type", "med", "mad", "dev",
        F.when(
            F.col("mad") > 0,
            F.round(F.col("dev") / (F.lit(1.4826) * F.col("mad")), 6),
        ).alias("rz"),
    )
    return d2.groupBy("event_type").agg(
        F.min("med").alias("med_value"),
        F.min("mad").alias("mad_value"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("rz") > 3.0, 1).otherwise(0))
        .cast("long")
        .alias("n_anomalies"),
        F.max("rz").alias("max_robust_z"),
    )


# --------------------------------------------------------------------------
# Neyman-allocated stratified sampling
# --------------------------------------------------------------------------

_NEYMAN_K = 200


def sample_neyman_allocation(spark: SparkSession, sf_dir: str,
                             total_k: int = _NEYMAN_K) -> DataFrame:
    """Stratified sampling with NEYMAN allocation (Neyman 1934): the
    per-stratum budget k_h ∝ N_h·σ_h, the allocation that minimizes the
    variance of the stratified mean estimator for a fixed total budget —
    the statistically-grounded sibling of the fixed-k
    (sample_fixed_k_per_stratum) and fixed-rate (stratified_sample_hash)
    draws: high-variance strata earn more of the budget, near-constant
    strata earn almost none.

    Determinism across engines: σ_h comes from the exact decimal
    Σx / Σx² moments (the agg_basic_stats recipe), is rounded to 6 dp,
    and is then converted to exact integer MICRO-units so the
    allocation weights N_h·σ_h sum as BIGINTs (a double sum over
    strata would be partition-order dependent); the only float op in
    the allocation is one final k·w/Σw division of identical operands.
    The draw itself is the md5(event_id)-rank idiom — stable across
    runs, engines, and partitioning.

    Scale shape: one keyed moment aggregate, a #strata-row window for
    the weight total (waivered: window input is O(#strata)), and a
    per-stratum rank window over raw rows — per-key sorts after one
    hash shuffle, no global ordering."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dx = F.col("value").cast("decimal(18,4)")
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("string").cast("double")
    sxx = F.sum((dx * dx).cast("decimal(38,8)")).cast("string").cast("double")
    sigma = F.round(
        F.when(n > 1, F.sqrt((sxx - sx * sx / n) / (n - 1))).otherwise(0.0), 6
    )
    stats = ev.groupBy("event_type").agg(
        n.cast("long").alias("n_h"),
        sigma.alias("sigma"),
    )
    wall = Window.partitionBy()
    alloc = (
        stats.select(
            "event_type",
            "n_h",
            "sigma",
            (
                F.col("n_h")
                * F.round(F.col("sigma") * 1e6, 0).cast("long")
            ).alias("w_micro"),
        )
        .select(
            "event_type",
            "n_h",
            "sigma",
            # Degenerate-corpus guard: if EVERY stratum is (near-)
            # constant the weight total is 0 and the Neyman ratio is
            # undefined (Spark's non-ANSI division would yield NULL and
            # least/greatest would silently allocate n_h — the whole
            # table); fall back to equal allocation across strata.
            F.greatest(
                F.lit(1).cast("long"),
                F.least(
                    F.col("n_h"),
                    F.when(
                        F.sum("w_micro").over(wall) > 0,
                        F.floor(
                            F.lit(float(total_k))
                            * F.col("w_micro")
                            / F.sum("w_micro").over(wall)
                        ),
                    )
                    .otherwise(
                        F.floor(
                            F.lit(float(total_k))
                            / F.count(F.lit(1)).over(wall)
                        )
                    )
                    .cast("long"),
                ),
            ).alias("alloc_k"),
        )
    )
    rk_w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")).asc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(rk_w).cast("long").alias("draw_rank"),
    )
    return ranked.join(F.broadcast(alloc), "event_type").filter(
        F.col("draw_rank") <= F.col("alloc_k")
    ).select(
        "event_type", "draw_rank", "event_id", "value",
        "alloc_k", "n_h", "sigma",
    )


SAMPLE_NEYMAN_SQL = f"""
WITH stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_h,
         round(CASE WHEN COUNT(*) > 1 THEN sqrt(
           (CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) *
                              CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
                      AS VARCHAR) AS DOUBLE)
            - CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
              * CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
              / COUNT(*)) / (COUNT(*) - 1))
         ELSE 0.0 END, 6) AS sigma
  FROM events GROUP BY event_type
), alloc AS (
  SELECT event_type, n_h, sigma,
         greatest(CAST(1 AS BIGINT), least(n_h, CAST(
           CASE WHEN SUM(n_h * CAST(round(sigma * 1e6, 0) AS BIGINT)) OVER () > 0
                THEN floor(
             {float(_NEYMAN_K)} * (n_h * CAST(round(sigma * 1e6, 0) AS BIGINT))
             / SUM(n_h * CAST(round(sigma * 1e6, 0) AS BIGINT)) OVER ())
                ELSE floor({float(_NEYMAN_K)} / COUNT(*) OVER ())
           END AS BIGINT))) AS alloc_k
  FROM stats
), ranked AS (
  SELECT event_type, event_id, value,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY md5(CAST(event_id AS VARCHAR)) ASC, event_id ASC)
              AS BIGINT) AS draw_rank
  FROM events
)
SELECT r.event_type, r.draw_rank, r.event_id, r.value,
       a.alloc_k, a.n_h, a.sigma
FROM ranked r JOIN alloc a ON r.event_type = a.event_type
WHERE r.draw_rank <= a.alloc_k
"""


# --------------------------------------------------------------------------
# Max drawdown (running-peak deficit) per user
# --------------------------------------------------------------------------


def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the cumulative event-value curve —
    the canonical running-peak analytic (risk reports, engagement-decay
    dashboards): cum_t = Σ value up to t, peak_t = max cum so far,
    drawdown_t = peak_t - cum_t, and the report is each user's worst
    drawdown with their peak and final equity.

    All three running quantities stay in DECIMAL(18,4) end-to-end —
    sums, running max, and subtraction are exact, so no rounding
    convention is even needed until the final decimal->double string
    casts. Ordering is (ts, event_id) in both engines.

    Scale shape: one hash shuffle on user_id feeds both the windows and
    the final per-user aggregate; no global sort anywhere."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").cast("decimal(18,4)").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = ev.select(
        "user_id", "ts", "event_id", F.sum("v").over(w).alias("cum")
    )
    # windows can't nest: the running peak is a second window over the
    # materialized cum column (same partitioning — one shuffle serves
    # both window stages and the final aggregate)
    peak = F.max("cum").over(w)
    scored = cums.select(
        "user_id", "cum", peak.alias("peak"), (peak - F.col("cum")).alias("dd")
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("cum").cast("string").cast("double").alias("peak_equity"),
        F.max("dd").cast("string").cast("double").alias("max_drawdown"),
    )


WINDOW_MAX_DRAWDOWN_SQL = """
WITH cums AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(value AS DECIMAL(18,4))) OVER w AS cum
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT user_id, cum,
         MAX(cum) OVER w AS peak,
         MAX(cum) OVER w - cum AS dd
  FROM cums
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(CAST(MAX(cum) AS VARCHAR) AS DOUBLE) AS peak_equity,
       CAST(CAST(MAX(dd) AS VARCHAR) AS DOUBLE) AS max_drawdown
FROM scored GROUP BY user_id
"""


ANOMALY_MAD_SQL = """
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
), d1 AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
  FROM d1 GROUP BY event_type
), d2 AS (
  SELECT d1.event_type, d1.med, ma.mad, d1.dev,
         CASE WHEN ma.mad > 0
              THEN round(d1.dev / (1.4826 * ma.mad), 6) END AS rz
  FROM d1 JOIN mad ma ON d1.event_type = ma.event_type
)
SELECT event_type,
       MIN(med) AS med_value,
       MIN(mad) AS mad_value,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN rz > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       MAX(rz) AS max_robust_z
FROM d2 GROUP BY event_type
"""


def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile — the first report every DQ framework
    (Deequ/Great Expectations) materializes before writing constraints:
    per column of orders, the null count, exact distinct cardinality,
    and typed min/max (numeric columns in the *_numeric pair, text/date
    columns rendered to strings — a shared string column for doubles
    would trip cross-engine float formatting, so numerics stay DOUBLE
    and dates use the ISO cast both engines print identically).

    100 TB shape: ONE pass over the table computing all per-column
    aggregates together (Spark plans the multi-distinct via Expand —
    #columns x data, still one scan, all partials mergeable); the
    5-row report explodes from literal structs on the 1-row frame.
    Exact distincts are the audit-grade choice; the HLL family is the
    sketch alternative when #columns x cardinality makes Expand too
    wide."""
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus"]
    date_cols = ["o_orderdate"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + str_cols + date_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}_distinct"),
        ]
    for c in num_cols:
        aggs += [
            F.round(F.min(F.col(c)).cast("double"), 6).alias(f"{c}_min"),
            F.round(F.max(F.col(c)).cast("double"), 6).alias(f"{c}_max"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    for c in date_cols:
        aggs += [
            F.min(F.col(c)).cast("string").alias(f"{c}_min"),
            F.max(F.col(c)).cast("string").alias(f"{c}_max"),
        ]
    one = _t(spark, sf_dir, "orders").agg(*aggs)

    def row(c: str, numeric: bool) -> F.Column:
        return F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}_nulls").cast("bigint").alias("null_count"),
            F.col(f"{c}_distinct").cast("bigint").alias("n_distinct"),
            (F.col(f"{c}_min") if numeric else F.lit(None).cast("double")).alias(
                "min_numeric"
            ),
            (F.col(f"{c}_max") if numeric else F.lit(None).cast("double")).alias(
                "max_numeric"
            ),
            (F.lit(None).cast("string") if numeric else F.col(f"{c}_min")).alias(
                "min_text"
            ),
            (F.lit(None).cast("string") if numeric else F.col(f"{c}_max")).alias(
                "max_text"
            ),
        )

    rows = F.explode(
        F.array(
            *[row(c, True) for c in num_cols],
            *[row(c, False) for c in str_cols + date_cols],
        )
    ).alias("p")
    return one.select(F.col("n_rows").cast("bigint").alias("n_rows"), rows).select(
        "p.column_name", "n_rows", "p.null_count", "p.n_distinct",
        "p.min_numeric", "p.max_numeric", "p.min_text", "p.max_text",
    )


DQ_COLUMN_PROFILE_SQL = """
WITH base AS (SELECT COUNT(*) AS n_rows FROM orders)
SELECT 'o_orderkey' AS column_name, n_rows,
       (SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders) AS null_count,
       (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS n_distinct,
       (SELECT round(CAST(MIN(o_orderkey) AS DOUBLE), 6) FROM orders) AS min_numeric,
       (SELECT round(CAST(MAX(o_orderkey) AS DOUBLE), 6) FROM orders) AS max_numeric,
       CAST(NULL AS VARCHAR) AS min_text, CAST(NULL AS VARCHAR) AS max_text
FROM base
UNION ALL
SELECT 'o_custkey', n_rows,
       (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders),
       (SELECT round(CAST(MIN(o_custkey) AS DOUBLE), 6) FROM orders),
       (SELECT round(CAST(MAX(o_custkey) AS DOUBLE), 6) FROM orders),
       NULL, NULL
FROM base
UNION ALL
SELECT 'o_totalprice', n_rows,
       (SELECT CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders),
       (SELECT round(CAST(MIN(o_totalprice) AS DOUBLE), 6) FROM orders),
       (SELECT round(CAST(MAX(o_totalprice) AS DOUBLE), 6) FROM orders),
       NULL, NULL
FROM base
UNION ALL
SELECT 'o_orderstatus', n_rows,
       (SELECT CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       (SELECT MIN(o_orderstatus) FROM orders),
       (SELECT MAX(o_orderstatus) FROM orders)
FROM base
UNION ALL
SELECT 'o_orderdate', n_rows,
       (SELECT CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       (SELECT CAST(MIN(o_orderdate) AS VARCHAR) FROM orders),
       (SELECT CAST(MAX(o_orderdate) AS VARCHAR) FROM orders)
FROM base
"""


def timeseries_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-convert survival curve — the
    right-censoring-aware answer to "how long until a viewer
    purchases?" that a naive mean-of-converters gets wrong (users who
    never converted still carry information up to the observation
    end). Per user: entry = first 'view', event = first 'purchase'
    strictly after it (day = whole days between), censored users exit
    at the global observation end. Per distinct exit day k:
    n_at_risk_k (users whose exit day >= k), d_k conversions, c_k
    censorings, and the product-limit survival
    S(d) = prod_{k<=d}(1 - d_k/n_k) via exp(sum(ln ...)) over event
    days — rounded 6, both engines derive the doubles from identical
    exact integer counts.

    100 TB shape: one per-user aggregate (mergeable first-ts picks),
    one 1-row observation-end attach (waived scalar broadcast), one
    day-level aggregate, then the cumulative windows run over the
    #distinct-days frame (O(observation window), 1-2k rows at any
    corpus scale — waived global window), never over users."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "entry_ts"
            ),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "purchase_ts"
            ),
        )
        .filter(F.col("entry_ts").isNotNull())
    )
    obs_end = ev.agg(F.max(F.to_date("ts")).alias("obs_end"))
    exits = (
        per_user.crossJoin(F.broadcast(obs_end))
        .select(
            F.when(
                F.col("purchase_ts") > F.col("entry_ts"),
                F.datediff(F.to_date("purchase_ts"), F.to_date("entry_ts")),
            ).alias("event_day"),
            F.datediff(F.col("obs_end"), F.to_date("entry_ts")).alias(
                "censor_day"
            ),
        )
        .select(
            F.coalesce("event_day", "censor_day").cast("long").alias("day"),
            F.col("event_day").isNotNull().cast("long").alias("is_event"),
        )
    )
    daily = exits.groupBy("day").agg(
        F.sum("is_event").cast("bigint").alias("n_converted"),
        F.sum(1 - F.col("is_event")).cast("bigint").alias("n_censored"),
    )
    w_prior = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    total = exits.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    curve = (
        daily.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("n_converted") + F.col("n_censored")).over(w_prior),
                F.lit(0),
            ),
        )
        .withColumn(
            "log_surv",
            F.sum(
                F.when(
                    F.col("n_converted") > 0,
                    F.log(
                        1.0
                        - F.col("n_converted").cast("double")
                        / F.col("n_at_risk").cast("double")
                    ),
                ).otherwise(F.lit(0.0))
            ).over(w_cum),
        )
    )
    return curve.select(
        "day",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        "n_converted",
        "n_censored",
        F.round(F.exp("log_surv"), 6).alias("survival"),
    )


TIMESERIES_SURVIVAL_KM_SQL = """
WITH pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS entry_ts,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
  HAVING MIN(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
), oe AS (
  SELECT MAX(CAST(ts AS DATE)) AS obs_end FROM events
), exits AS (
  SELECT COALESCE(
           CASE WHEN purchase_ts > entry_ts
                THEN date_diff('day', CAST(entry_ts AS DATE),
                               CAST(purchase_ts AS DATE)) END,
           date_diff('day', CAST(entry_ts AS DATE), obs_end)) AS day,
         CASE WHEN purchase_ts > entry_ts THEN 1 ELSE 0 END AS is_event
  FROM pu CROSS JOIN oe
), daily AS (
  SELECT day, CAST(SUM(is_event) AS BIGINT) AS n_converted,
         CAST(SUM(1 - is_event) AS BIGINT) AS n_censored
  FROM exits GROUP BY day
), tot AS (SELECT COUNT(*) AS n_total FROM exits),
curve AS (
  SELECT day, n_converted, n_censored,
         n_total - COALESCE(SUM(n_converted + n_censored) OVER
           (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM daily CROSS JOIN tot
)
SELECT day, CAST(n_at_risk AS BIGINT) AS n_at_risk, n_converted, n_censored,
       round(exp(SUM(CASE WHEN n_converted > 0
                     THEN ln(1.0 - n_converted::DOUBLE / n_at_risk)
                     ELSE 0.0 END)
             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)), 6) AS survival
FROM curve
"""


def dq_event_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time freshness audit — the ingest-health report a
    streaming-lakehouse on-call reads first: per event_type, the
    newest/oldest event timestamps, the lag behind the globally newest
    event in whole minutes (a stalled producer shows up as one type
    falling behind the others), and the event count in the trailing
    24 h window before the global high-water mark. All timestamps
    render to epoch seconds / integer minutes, so both engines compare
    exact integers.

    100 TB shape: ONE mergeable per-type aggregate + a 1-row
    high-water-mark attach (waived scalar broadcast); the trailing
    count is a conditional sum in the same pass — no second scan."""
    ev = _t(spark, sf_dir, "events")
    hwm = ev.agg(F.max("ts").alias("hwm"))
    per_type = (
        ev.crossJoin(F.broadcast(hwm))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("ts").alias("max_ts"),
            F.min("ts").alias("min_ts"),
            F.max(F.col("hwm")).alias("hwm"),
            F.sum(
                (
                    F.col("ts")
                    >= F.col("hwm") - F.expr("INTERVAL 24 HOURS")
                ).cast("long")
            ).cast("bigint").alias("n_last_24h"),
        )
    )
    return per_type.select(
        "event_type",
        "n_events",
        F.unix_timestamp("min_ts").alias("min_epoch_s"),
        F.unix_timestamp("max_ts").alias("max_epoch_s"),
        (
            (F.unix_timestamp("hwm") - F.unix_timestamp("max_ts")) / 60
        ).cast("bigint").alias("lag_minutes"),
        "n_last_24h",
    )


DQ_EVENT_FRESHNESS_SQL = """
WITH hwm AS (SELECT MAX(ts) AS hwm FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS min_epoch_s,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS max_epoch_s,
       CAST((CAST(floor(epoch(MAX(hwm))) AS BIGINT)
             - CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 60 AS BIGINT)
         AS lag_minutes,
       CAST(SUM(CASE WHEN ts >= hwm - INTERVAL 24 HOURS THEN 1 ELSE 0 END)
            AS BIGINT) AS n_last_24h
FROM events CROSS JOIN hwm
GROUP BY event_type
"""


def geo_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join via grid bucketing — the
    scale-correct form of "find all user pairs within 50 km": each
    point lands in a 1°x1° cell, one side replicates to its 9-cell
    neighborhood (at |lat| <= 60° a 1° cell is >= 55 km wide, so a
    50 km radius can never escape the neighborhood — the containment
    argument that makes the candidate join LOSSLESS), candidates
    equi-join on the cell key, and the exact haversine filter runs
    row-local. The replicated cell longitude WRAPS at the antimeridian
    (((clon + dx + 540) % 360) - 180) so pairs straddling ±180 stay
    candidates; the haversine itself needs no wrap because
    sin²(Δλ/2) is 360°-periodic in the raw longitude difference. The all-pairs O(n²) alternative is structurally absent
    — this is the same inverted-index discipline as the dedup family,
    in space.

    Coordinates are a deterministic fixture over user ids (documents
    ship no geo columns): lat in [-60, 60), lon in [-180, 180) from
    integer residues, identical in the oracle. Distances round to 3 dp
    before the threshold compare so both engines gate on the same
    number. 100 TB shape: one explode x9, ONE equi shuffle on cell
    keys, mergeable output."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    lat = (F.col("user_id") * 7919 % 12000).cast("double") / 100 - 60
    lon = (F.col("user_id") * 104729 % 36000).cast("double") / 100 - 180
    pts = users.select(
        "user_id", lat.alias("lat"), lon.alias("lon"),
        F.floor(lat).cast("long").alias("clat"),
        F.floor(lon).cast("long").alias("clon"),
    )
    a = pts.select(
        F.col("user_id").alias("user_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        "clat", "clon",
    )
    b = pts.select(
        F.col("user_id").alias("user_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dy -> "
                "transform(sequence(-1, 1), dx -> "
                "struct(clat + dy AS clat, "
                "(clon + dx + 540) % 360 - 180 AS clon))))"
            )
        ).alias("c"),
    ).select("user_b", "lat_b", "lon_b", "c.clat", "c.clon")
    dlat = F.radians(F.col("lat_b") - F.col("lat_a"))
    dlon = F.radians(F.col("lon_b") - F.col("lon_a"))
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians("lat_a"))
        * F.cos(F.radians("lat_b"))
        * F.pow(F.sin(dlon / 2), 2)
    )
    dist = F.round(2 * 6371.0 * F.asin(F.sqrt(h)), 3)
    return (
        a.join(b, ["clat", "clon"])
        .filter(F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b", dist.alias("dist_km"))
        .filter(F.col("dist_km") <= 50.0)
    )


GEO_BUCKET_JOIN_SQL = """
WITH users AS (SELECT DISTINCT user_id FROM events),
pts AS (
  SELECT user_id,
         (user_id * 7919 % 12000)::DOUBLE / 100 - 60 AS lat,
         (user_id * 104729 % 36000)::DOUBLE / 100 - 180 AS lon
  FROM users
), cells AS (
  SELECT user_id, lat, lon,
         CAST(floor(lat) AS BIGINT) AS clat,
         CAST(floor(lon) AS BIGINT) AS clon
  FROM pts
), b AS (
  SELECT user_id AS user_b, lat AS lat_b, lon AS lon_b,
         clat + dy AS clat, (clon + dx + 540) % 360 - 180 AS clon
  FROM cells, UNNEST(generate_series(-1, 1)) AS g1(dy),
       UNNEST(generate_series(-1, 1)) AS g2(dx)
)
SELECT a.user_id AS user_a, b.user_b,
       round(2 * 6371.0 * asin(sqrt(
         pow(sin(radians(lat_b - a.lat) / 2), 2)
         + cos(radians(a.lat)) * cos(radians(lat_b))
           * pow(sin(radians(lon_b - a.lon) / 2), 2))), 3) AS dist_km
FROM cells a JOIN b USING (clat, clon)
WHERE a.user_id < b.user_b
  AND round(2 * 6371.0 * asin(sqrt(
        pow(sin(radians(lat_b - a.lat) / 2), 2)
        + cos(radians(a.lat)) * cos(radians(lat_b))
          * pow(sin(radians(lon_b - a.lon) / 2), 2))), 3) <= 50.0
"""


def analytics_dau_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + cumulative unique users — the growth
    dashboard's two headline series, computed the mergeable way: DAU is
    a per-(day) distinct count; cumulative uniques do NOT re-distinct
    an ever-growing prefix (the naive form is quadratic state) but
    reduce each user to a FIRST-SEEN day (one mergeable min aggregate)
    and cumulative-sum the per-day first-seen counts.

    100 TB shape: two mergeable aggregates (per-(day,user) then
    per-day) + one cumulative window over the #distinct-days frame
    (O(observation window), waived) — user-volume data never meets a
    window."""
    ev = _t(spark, sf_dir, "events")
    day_user = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = day_user.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    first_seen = (
        day_user.groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
        .groupBy(F.col("first_day").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(first_seen, "day", "left")
        .withColumn(
            "n_new_users", F.coalesce("n_new_users", F.lit(0).cast("bigint"))
        )
        .withColumn(
            "cumulative_users", F.sum("n_new_users").over(w).cast("bigint")
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "dau", "n_new_users", "cumulative_users",
        )
    )


ANALYTICS_DAU_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
), fs AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users
  FROM (SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id)
  GROUP BY first_day
)
SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau,
       CAST(COALESCE(fs.n_new_users, 0) AS BIGINT) AS n_new_users,
       CAST(SUM(COALESCE(fs.n_new_users, 0)) OVER (
         ORDER BY dau.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cumulative_users
FROM dau LEFT JOIN fs ON dau.day = fs.day
"""


_LTTB_BUCKETS = 64


def timeseries_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style series downsampling (Steinarsson's
    largest-triangle-three-buckets, the dashboard standard) in its
    PARALLEL bucket-local form: the per-user value series is split into
    a fixed number of equal-rank buckets; each bucket keeps the point
    with the largest triangle area against its NEIGHBOR BUCKETS' mean
    points. Classic LTTB anchors on the previously SELECTED point — a
    sequential dependency no engine can parallelize — so this uses the
    standard parallel relaxation (prev-bucket mean instead of
    prev-selected point); the deviation is documented because it is
    the price of scale, and it only moves picks in near-degenerate
    buckets.

    Determinism: point coordinates are micro-unit integers
    (floor(v·1e6), floored epoch seconds); bucket means divide exact
    integer sums, so both engines derive identical doubles and the
    cross-product comparison is engine-exact; ties break on event_id. 100 TB shape: per-(user) windows for rank/bucket (never
    global), one mergeable (user, bucket) mean pass, one bucket-local
    argmax — every stage keyed on user."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = 1_000_000
    w_rank = Window.partitionBy("user_id").orderBy("x", "event_id")
    w_cnt = Window.partitionBy("user_id")
    base = ev.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("x"),
        F.floor(F.col("value") * U).cast("long").alias("ym"),
    ).withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_cnt)
    )
    b = F.least(
        F.lit(_LTTB_BUCKETS - 1),
        ((F.col("rk") - 1) * _LTTB_BUCKETS / F.col("n")).cast("int"),
    )
    pts = base.select("user_id", "event_id", "x", "ym", b.alias("bucket"))
    means = pts.groupBy("user_id", "bucket").agg(
        F.avg("x").alias("mx"), F.avg("ym").alias("my")
    )
    prev = means.select(
        "user_id", (F.col("bucket") + 1).alias("bucket"),
        F.col("mx").alias("px"), F.col("my").alias("py"),
    )
    nxt = means.select(
        "user_id", (F.col("bucket") - 1).alias("bucket"),
        F.col("mx").alias("nx"), F.col("my").alias("ny"),
    )
    tri = (
        pts.join(prev, ["user_id", "bucket"], "left")
        .join(nxt, ["user_id", "bucket"], "left")
        # boundary buckets have no prev/next neighbor: anchor on the
        # point itself (area 0 -> min event_id wins, deterministic)
        .withColumn("px", F.coalesce("px", F.col("x").cast("double")))
        .withColumn("py", F.coalesce("py", F.col("ym").cast("double")))
        .withColumn("nx", F.coalesce("nx", F.col("x").cast("double")))
        .withColumn("ny", F.coalesce("ny", F.col("ym").cast("double")))
        # 2x the triangle area of (prev-mean, point, next-mean) via the
        # shoelace cross product anchored at the prev-mean vertex:
        # |(px-nx)(ym-py) - (px-x)(ny-py)|  (Steinarsson eq. 4.2)
        .withColumn(
            "area2",
            F.abs(
                (F.col("px") - F.col("nx")) * (F.col("ym") - F.col("py"))
                - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
            ),
        )
    )
    w_pick = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("area2").desc(), F.col("event_id").asc()
    )
    return (
        tri.withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select(
            "user_id",
            F.col("bucket").cast("long").alias("bucket"),
            "event_id",
            F.col("x").alias("epoch_s"),
            F.round(F.col("ym").cast("double") / U, 6).alias("value"),
        )
    )


TIMESERIES_LTTB_SQL = f"""
WITH raw AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS x,
         CAST(floor(value * 1000000) AS BIGINT) AS ym
  FROM events WHERE value IS NOT NULL
), base AS (
  SELECT user_id, event_id, x, ym,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY x, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM raw
), pts AS (
  SELECT user_id, event_id, x, ym,
         least({_LTTB_BUCKETS - 1},
               CAST(floor((rk - 1) * {_LTTB_BUCKETS} / n) AS INTEGER))
           AS bucket
  FROM base
), means AS (
  SELECT user_id, bucket, AVG(x) AS mx, AVG(ym) AS my
  FROM pts GROUP BY user_id, bucket
), tri AS (
  SELECT p.user_id, p.bucket, p.event_id, p.x, p.ym,
         COALESCE(pv.mx, p.x::DOUBLE) AS px,
         COALESCE(pv.my, p.ym::DOUBLE) AS py,
         COALESCE(nx.mx, p.x::DOUBLE) AS nxx,
         COALESCE(nx.my, p.ym::DOUBLE) AS nyy
  FROM pts p
  LEFT JOIN means pv ON pv.user_id = p.user_id AND pv.bucket = p.bucket - 1
  LEFT JOIN means nx ON nx.user_id = p.user_id AND nx.bucket = p.bucket + 1
), areas AS (
  SELECT user_id, bucket, event_id, x, ym,
         abs((px - nxx) * (ym - py) - (px - x) * (nyy - py)) AS area2,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY abs((px - nxx) * (ym - py)
                                         - (px - x) * (nyy - py)) DESC,
                                     event_id) AS pick
  FROM tri
)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket, event_id,
       x AS epoch_s, round(ym::DOUBLE / 1000000, 6) AS value
FROM areas WHERE pick = 1
"""


def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event_type — the outlier-robust mean a
    metrics pipeline reports when trimming (dropping) rows would bias
    small groups: values are CLAMPED to the group's exact p05/p95 order
    statistics (rank-based picks, the first value whose rank reaches
    ceil(q·n) — answers are input values, no interpolation), then
    averaged in exact micro-unit integers so the mean is
    partition-order independent.

    100 TB shape: one per-(type) rank window (partitioned, never
    global) to locate the two order statistics, a 5-row bounds frame
    re-joined (broadcast), and one mergeable clamped-sum aggregate."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = 1_000_000
    w_rank = Window.partitionBy("event_type").orderBy("ym", "event_id")
    w_cnt = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "event_id",
        F.floor(F.col("value") * U).cast("long").alias("ym"),
    ).withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_cnt)
    )
    lo = ranked.filter(
        F.col("rk") == F.ceil(F.col("n") * 0.05).cast("long")
    ).select("event_type", F.col("ym").alias("lo_m"))
    hi = ranked.filter(
        F.col("rk") == F.ceil(F.col("n") * 0.95).cast("long")
    ).select("event_type", F.col("ym").alias("hi_m"))
    clamped = (
        ranked.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .select(
            "event_type",
            F.greatest(
                F.col("lo_m"), F.least(F.col("hi_m"), F.col("ym"))
            ).alias("cm"),
        )
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("cm").cast("double") / F.count(F.lit(1)) / U, 6
        ).alias("winsorized_mean"),
    )


AGG_WINSORIZED_SQL = """
WITH ranked AS (
  SELECT event_type, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS ym,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY floor(value * 1000000), event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
), lo AS (
  SELECT event_type, ym AS lo_m FROM ranked
  WHERE rk = CAST(ceil(n * 0.05) AS BIGINT)
), hi AS (
  SELECT event_type, ym AS hi_m FROM ranked
  WHERE rk = CAST(ceil(n * 0.95) AS BIGINT)
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(greatest(lo_m, least(hi_m, ym)))::DOUBLE / COUNT(*)
             / 1000000, 6) AS winsorized_mean
FROM ranked r JOIN lo USING (event_type) JOIN hi USING (event_type)
GROUP BY r.event_type
"""


def window_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH an idle-timeout and a max-duration cap —
    the production sessionizer rule (a 30-min-gap session left open by
    a polling client otherwise grows unbounded): first the classic
    gap-based pass (new session when the gap from the previous event
    exceeds 30 min — a per-user lag + cumulative-sum window), then each
    gap-session splits at fixed 2-hour offsets FROM ITS OWN START
    (floor(elapsed/cap) — deterministic, window-free, and exactly the
    "cap by wall-clock anchored at session start" semantics; a
    sequential re-anchor at each split would be a per-user recursion no
    engine parallelizes, and this fixed-grid split is the standard
    relaxation). Output: one row per (user, capped session) with
    bounds, event count, and which rule opened it.

    100 TB shape: two per-user windows on ONE user-keyed shuffle + a
    row-local split assignment + one mergeable aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    gap_s = 30 * 60
    cap_s = 2 * 3600
    base = ev.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("es"),
    ).withColumn(
        "new_sess",
        (
            F.coalesce(
                F.col("es") - F.lag("es").over(w) > gap_s, F.lit(True)
            )
        ).cast("long"),
    ).withColumn(
        "gap_sess",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("es", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_sess = Window.partitionBy("user_id", "gap_sess")
    capped = base.withColumn(
        "sess_start", F.min("es").over(w_sess)
    ).withColumn(
        "sub", F.floor((F.col("es") - F.col("sess_start")) / cap_s).cast("long")
    )
    return (
        capped.groupBy("user_id", "gap_sess", "sub")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("es").alias("start_epoch_s"),
            F.max("es").alias("end_epoch_s"),
        )
        .select(
            "user_id",
            F.col("gap_sess").cast("bigint").alias("gap_session"),
            F.col("sub").alias("cap_split"),
            "n_events",
            "start_epoch_s",
            "end_epoch_s",
            (F.col("sub") > 0).alias("opened_by_cap"),
        )
    )


WINDOW_SESSION_CAPPED_SQL = """
WITH base AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
), flagged AS (
  SELECT user_id, event_id, es,
         CASE WHEN es - lag(es) OVER (PARTITION BY user_id
                                      ORDER BY es, event_id) > 1800
              OR lag(es) OVER (PARTITION BY user_id
                               ORDER BY es, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM base
), sess AS (
  SELECT user_id, event_id, es,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                             ROWS UNBOUNDED PRECEDING) AS gap_sess
  FROM flagged
), capped AS (
  SELECT user_id, event_id, es, gap_sess,
         MIN(es) OVER (PARTITION BY user_id, gap_sess) AS sess_start
  FROM sess
)
SELECT user_id,
       CAST(gap_sess AS BIGINT) AS gap_session,
       CAST(floor((es - sess_start) / 7200) AS BIGINT) AS cap_split,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(es) AS start_epoch_s,
       MAX(es) AS end_epoch_s,
       floor((es - sess_start) / 7200) > 0 AS opened_by_cap
FROM capped
GROUP BY user_id, gap_sess, floor((es - sess_start) / 7200)
"""


def dq_null_run_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-NULL run detection — the sensor-outage signature a
    DQ monitor must distinguish from random missingness (5% scattered
    nulls is noise; 20 nulls IN A ROW is a dead instrument): per user,
    find maximal runs of consecutive null-valued events (gaps-and-
    islands via the rank-difference trick: seq_rank − null_rank is
    constant within a run), report runs of length >= 3 with their
    bounds. Every derived number is an exact integer.

    100 TB shape: two per-user windows on ONE user-keyed shuffle (the
    running index and the running null-index), then one mergeable
    (user, island) aggregate — the same islands discipline as
    window_interval_coalesce, pointed at missingness.

    Evidence note: the driver fixtures contain NO null values, so this
    entry's driver row is 0 == 0 by construction. The islands core is
    therefore (a) shared verbatim with dq_error_burst_detector, whose
    driver output is non-empty at every SF and certifies the same
    rank-difference machinery by hash, and (b) exercised directly by a
    planted-outage fixture test (tests/test_oracle.py) that plants a
    >= 3 null run, a 2-run, and scattered singles and asserts exact
    run bounds."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("es"),
        F.col("value").isNull().alias("is_missing"),
    )
    return _missing_run_islands(base, min_len=3)


def _missing_run_islands(base: DataFrame, min_len: int) -> DataFrame:
    """Gaps-and-islands over a boolean missingness signal: maximal runs
    of consecutive is_missing rows per user (seq_rank − missing_rank is
    constant within a run), reported with exact-integer bounds when
    run_len >= min_len. Shared by dq_null_run_detector and
    dq_error_burst_detector — one definition, two signals."""
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    seq = base.withColumn("rn", F.row_number().over(w))
    hits = seq.filter(F.col("is_missing")).withColumn(
        "nrn", F.row_number().over(w)
    ).withColumn("island", F.col("rn") - F.col("nrn"))
    return (
        hits.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("run_len"),
            F.min("es").alias("start_epoch_s"),
            F.max("es").alias("end_epoch_s"),
            F.min("event_id").alias("first_event_id"),
        )
        .filter(F.col("run_len") >= min_len)
        .select(
            "user_id", "run_len", "start_epoch_s", "end_epoch_s",
            "first_event_id",
        )
    )


def dq_error_burst_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-error burst detection — the ops-monitor sibling of
    dq_null_run_detector (N errors IN A ROW is an incident; scattered
    errors are noise): per user, maximal runs of consecutive
    event_type = 'error' events in the full event sequence, reporting
    runs of length >= 3 with exact bounds. Same shared islands core,
    different missingness signal — and this signal FIRES on the driver
    fixtures (~60 bursts at sf0.01), so its per-round hash match is
    the non-vacuous certificate for the rank-difference machinery.

    100 TB shape: identical to the null detector — two per-user
    windows on ONE user-keyed shuffle, then a mergeable island agg."""
    base = event_sequence(spark, sf_dir).select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("es"),
        (F.col("event_type") == "error").alias("is_missing"),
    )
    return _missing_run_islands(base, min_len=3)


def _run_islands_sql(signal: str) -> str:
    """Oracle twin of _missing_run_islands, parameterized on the
    missingness predicate so both detector entries share ONE SQL
    shape exactly as they share one Spark core."""
    return f"""
WITH base AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         {signal} AS is_missing
  FROM events
), seq AS (
  SELECT user_id, event_id, es, is_missing,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY es, event_id) AS rn
  FROM base
), hits AS (
  SELECT user_id, event_id, es, rn,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY es, event_id) AS nrn
  FROM seq WHERE is_missing
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS run_len,
       MIN(es) AS start_epoch_s,
       MAX(es) AS end_epoch_s,
       MIN(event_id) AS first_event_id
FROM hits
GROUP BY user_id, rn - nrn
HAVING COUNT(*) >= 3
"""


DQ_NULL_RUN_SQL = _run_islands_sql("value IS NULL")
DQ_ERROR_BURST_SQL = _run_islands_sql("event_type = 'error'")


def analytics_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration cut — "how many customers cover 80% of
    revenue": the smallest top-revenue customer set whose cumulative
    revenue reaches the threshold, with the achieved share. The
    scalar sibling of agg_gini_concentration (Gini summarizes the whole
    curve; operations wants the 80% headcount).

    Scale shape (the agg_weighted_percentile / two-phase recipe, on
    VALUE order descending): per-customer exact micro-cent revenues
    bucket by range under broadcast min/max bounds; cross-bucket
    cumulatives run over the 256-row bucket frame; the boundary
    bucket's members rank in a PARTITIONED window; everything reduces
    to one row. Threshold arithmetic stays in exact integers
    (8·total <= 10·cum ⟺ cum >= 0.8·total with no float)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("rev_c")
    )
    bounds = per_cust.agg(
        F.min("rev_c").alias("lo"),
        F.max("rev_c").alias("hi"),
        F.sum("rev_c").cast("decimal(38,0)").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
    )
    B = 256
    bucket = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(B - 1),
            F.floor(
                (F.col("rev_c") - F.col("lo")).cast("double")
                / (F.col("hi") - F.col("lo")).cast("double")
                * B
            ).cast("int"),
        ),
    ).otherwise(F.lit(0))
    withb = per_cust.crossJoin(F.broadcast(bounds)).select(
        "o_custkey", "rev_c", bucket.alias("bucket"), "total", "n_cust"
    )
    per_bucket = withb.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("bn"),
        F.sum("rev_c").cast("decimal(38,0)").alias("bsum"),
    )
    w_above = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bn").over(w_above), F.lit(0))
        .cast("bigint")
        .alias("n_above"),
        F.coalesce(
            F.sum("bsum").over(w_above), F.lit(0).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("rev_above"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("rev_c").desc(), F.col("o_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        withb.join(F.broadcast(base), "bucket")
        .withColumn(
            "cum_rev",
            (F.col("rev_above") + F.sum("rev_c").over(w_in)).cast(
                "decimal(38,0)"
            ),
        )
        .withColumn(
            "rank_desc",
            F.col("n_above")
            + F.row_number().over(
                Window.partitionBy("bucket").orderBy(
                    F.col("rev_c").desc(), F.col("o_custkey").asc()
                )
            ),
        )
    )
    # smallest prefix with 10*cum >= 8*total (exact integer compare)
    qualifying = ranked.filter(
        F.col("cum_rev") * 10 >= F.col("total") * 8
    )
    cut = qualifying.agg(
        F.min(F.struct("rank_desc", "cum_rev")).alias("m")
    ).select(
        F.col("m.rank_desc").alias("n_top"),
        F.col("m.cum_rev").alias("cum_at_cut"),
    )
    return (
        cut.crossJoin(F.broadcast(bounds))
        .select(
            "n_cust",
            F.col("n_top").cast("bigint").alias("n_top"),
            F.round(
                F.col("n_top").cast("double") / F.col("n_cust"), 6
            ).alias("pct_customers"),
            F.round(
                _dec_to_double(F.col("cum_at_cut"))
                / _dec_to_double(F.col("total")),
                6,
            ).alias("revenue_share"),
        )
    )


ANALYTICS_PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS rev_c
  FROM orders GROUP BY o_custkey
), bounds AS (
  SELECT MIN(rev_c) AS lo, MAX(rev_c) AS hi,
         CAST(SUM(rev_c) AS DECIMAL(38,0)) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM per_cust
), withb AS (
  SELECT o_custkey, rev_c, total, n_cust,
         CASE WHEN hi > lo
              THEN least(255, CAST(floor((rev_c - lo)::DOUBLE
                                         / (hi - lo)::DOUBLE * 256)
                                   AS INTEGER))
              ELSE 0 END AS bucket
  FROM per_cust CROSS JOIN bounds
), per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS bn,
         CAST(SUM(rev_c) AS DECIMAL(38,0)) AS bsum
  FROM withb GROUP BY bucket
), base AS (
  SELECT bucket,
         CAST(COALESCE(SUM(bn) OVER (ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_above,
         CAST(COALESCE(SUM(bsum) OVER (ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DECIMAL(38,0)) AS rev_above
  FROM per_bucket
), ranked AS (
  SELECT w.o_custkey, w.total, w.n_cust,
         CAST(b.rev_above + SUM(w.rev_c) OVER (PARTITION BY w.bucket
           ORDER BY w.rev_c DESC, w.o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(38,0)) AS cum_rev,
         b.n_above + ROW_NUMBER() OVER (PARTITION BY w.bucket
           ORDER BY w.rev_c DESC, w.o_custkey) AS rank_desc
  FROM withb w JOIN base b USING (bucket)
), cut AS (
  SELECT MIN(rank_desc) AS n_top,
         arg_min(cum_rev, rank_desc) AS cum_at_cut,
         MAX(total) AS total, MAX(n_cust) AS n_cust
  FROM ranked WHERE cum_rev * 10 >= total * 8
)
SELECT n_cust, CAST(n_top AS BIGINT) AS n_top,
       round(n_top::DOUBLE / n_cust, 6) AS pct_customers,
       round(CAST(CAST(cum_at_cut AS VARCHAR) AS DOUBLE)
             / CAST(CAST(total AS VARCHAR) AS DOUBLE), 6)
         AS revenue_share
FROM cut
"""


def analytics_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness — analytics_dau_cumulative's engagement
    sibling: per day, the distinct daily actives over the distinct
    trailing-30-day actives. MAU is computed the mergeable way: each
    (user, day) activity CONTRIBUTES to the 30 target days it falls in
    (a bounded ×30 date explode — one shuffle on the target day), then
    one exact distinct per day; no per-day re-scan of a growing window,
    no quadratic re-distinct.

    100 TB shape: per-(user,day) collapse first (the big reduction),
    ×30 explode on the ALREADY-collapsed frame, one (day, user)
    distinct — all mergeable; output is #days rows."""
    ev = _t(spark, sf_dir, "events")
    day_user = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = day_user.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    contrib = day_user.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 29))
        ).alias("day"),
        "user_id",
    ).distinct()
    mau = contrib.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("mau")
    )
    return (
        dau.join(mau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


ANALYTICS_DAU_MAU_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
), contrib AS (
  SELECT DISTINCT day + CAST(g.i AS INTEGER) AS day, user_id
  FROM du, UNNEST(generate_series(0, 29)) AS g(i)
), mau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS mau FROM contrib GROUP BY day
)
SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, mau.mau,
       round(dau.dau::DOUBLE / mau.mau, 6) AS stickiness
FROM dau JOIN mau ON dau.day = mau.day
"""


_M4_BUCKETS = 64


def timeseries_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 series downsampling (Jugel et al., VLDB 2014 — the OTHER
    dashboard downsampler beside LTTB): per event type, the time range
    splits into 64 equal-width buckets and each bucket keeps exactly
    four aggregates — first, last, min, max — which is lossless for
    min/max rendering at pixel resolution. Unlike LTTB (rank buckets,
    triangle picks), M4 is pure mergeable aggregation: no windows, no
    picks, one hash-agg.

    Determinism: values are micro-unit BIGINTs; first/last resolve ties
    with a composite integer key epoch_s·10^7 + event_id (unique;
    bound: event_id < 10^7 in the fixture — at larger id spaces widen
    the factor); min/max are plain integer extrema (value ties need no
    break — only the value is reported). Bucket bounds come from one
    per-type min/max aggregate joined back (broadcast, #types rows).
    100 TB shape: two mergeable hash-aggs + one broadcast join —
    nothing else."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = 1_000_000
    pts = ev.select(
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
        "event_id",
        F.floor(F.col("value") * U).cast("long").alias("ym"),
    ).withColumn("k", F.col("es") * 10_000_000 + F.col("event_id"))
    bounds = pts.groupBy("event_type").agg(
        F.min("es").alias("lo"), F.max("es").alias("hi")
    )
    b = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(_M4_BUCKETS - 1),
            F.floor(
                (F.col("es") - F.col("lo"))
                * _M4_BUCKETS
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
        ),
    ).otherwise(F.lit(0))
    return (
        pts.join(F.broadcast(bounds), "event_type")
        .select("event_type", b.alias("bucket"), "k", "ym")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(F.expr("min_by(ym, k)") / U, 6).alias("first_val"),
            F.round(F.expr("max_by(ym, k)") / U, 6).alias("last_val"),
            F.round(F.min("ym") / U, 6).alias("min_val"),
            F.round(F.max("ym") / U, 6).alias("max_val"),
        )
        .withColumn("bucket", F.col("bucket").cast("bigint"))
    )


TIMESERIES_M4_SQL = f"""
WITH pts AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS ym,
         CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id AS k
  FROM events WHERE value IS NOT NULL
), bounds AS (
  SELECT event_type, MIN(es) AS lo, MAX(es) AS hi FROM pts
  GROUP BY event_type
), bucketed AS (
  SELECT p.event_type,
         CASE WHEN b.hi > b.lo
              THEN least({_M4_BUCKETS - 1},
                         CAST(floor((p.es - b.lo) * {_M4_BUCKETS}
                                    / (b.hi - b.lo + 1)) AS INTEGER))
              ELSE 0 END AS bucket,
         p.k, p.ym
  FROM pts p JOIN bounds b USING (event_type)
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       round(arg_min(ym, k) / 1000000, 6) AS first_val,
       round(arg_max(ym, k) / 1000000, 6) AS last_val,
       round(MIN(ym) / 1000000, 6) AS min_val,
       round(MAX(ym) / 1000000, 6) AS max_val
FROM bucketed GROUP BY 1, 2
"""


def dq_chi2_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square two-sample categorical drift — the DISCRETE sibling of
    dq_ks_bucketed (KS handles continuous columns; category mixes need
    the chi-square contingency test): the event-type distribution on
    even vs odd epoch-days (a null-true split, so the statistic should
    be small) with per-category observed/expected cells and chi-square
    CONTRIBUTIONS as the output rows. No cross-row float sum happens in
    the engines (float addition order would differ): the reader sums
    the 6-dp contributions; every cell derives from exact integer
    counts.

    100 TB shape: ONE (type, period) hash-agg + broadcast 1-row totals;
    output is |categories| rows."""
    ev = _t(spark, sf_dir, "events")
    period = (
        (F.unix_timestamp("ts").cast("bigint") / 86400).cast("bigint") % 2
    ).alias("period")
    cells = ev.select("event_type", period).groupBy(
        "event_type", "period"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    wide = cells.groupBy("event_type").agg(
        F.sum(F.when(F.col("period") == 0, F.col("obs")).otherwise(0))
        .cast("bigint")
        .alias("obs_a"),
        F.sum(F.when(F.col("period") == 1, F.col("obs")).otherwise(0))
        .cast("bigint")
        .alias("obs_b"),
    )
    totals = wide.agg(
        F.sum("obs_a").cast("bigint").alias("tot_a"),
        F.sum("obs_b").cast("bigint").alias("tot_b"),
    )
    n = F.col("tot_a") + F.col("tot_b")
    row_tot = F.col("obs_a") + F.col("obs_b")
    exp_a = row_tot.cast("double") * F.col("tot_a") / n
    exp_b = row_tot.cast("double") * F.col("tot_b") / n
    contrib = (F.col("obs_a") - exp_a) * (F.col("obs_a") - exp_a) / exp_a + (
        F.col("obs_b") - exp_b
    ) * (F.col("obs_b") - exp_b) / exp_b
    return wide.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "obs_a",
        "obs_b",
        F.round(exp_a, 6).alias("exp_a"),
        F.round(exp_b, 6).alias("exp_b"),
        F.round(contrib, 6).alias("chi2_contrib"),
    )


DQ_CHI2_DRIFT_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS BIGINT) % 2
           AS period,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
), wide AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN period = 0 THEN obs ELSE 0 END) AS BIGINT)
           AS obs_a,
         CAST(SUM(CASE WHEN period = 1 THEN obs ELSE 0 END) AS BIGINT)
           AS obs_b
  FROM cells GROUP BY event_type
), totals AS (
  SELECT CAST(SUM(obs_a) AS BIGINT) AS tot_a,
         CAST(SUM(obs_b) AS BIGINT) AS tot_b
  FROM wide
)
SELECT event_type, obs_a, obs_b,
       round((obs_a + obs_b)::DOUBLE * tot_a / (tot_a + tot_b), 6) AS exp_a,
       round((obs_a + obs_b)::DOUBLE * tot_b / (tot_a + tot_b), 6) AS exp_b,
       round(
         (obs_a - (obs_a + obs_b)::DOUBLE * tot_a / (tot_a + tot_b))
         * (obs_a - (obs_a + obs_b)::DOUBLE * tot_a / (tot_a + tot_b))
         / ((obs_a + obs_b)::DOUBLE * tot_a / (tot_a + tot_b))
         + (obs_b - (obs_a + obs_b)::DOUBLE * tot_b / (tot_a + tot_b))
         * (obs_b - (obs_a + obs_b)::DOUBLE * tot_b / (tot_a + tot_b))
         / ((obs_a + obs_b)::DOUBLE * tot_b / (tot_a + tot_b)), 6)
         AS chi2_contrib
FROM wide CROSS JOIN totals
"""


def timeseries_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1-3 of each event type's hourly
    value series — the seasonality/persistence diagnostic a forecasting
    pipeline runs before model choice (timeseries_forecast_backtest's
    upstream): r_l = Σ(x_t−x̄)(x_{t+l}−x̄) / Σ(x_t−x̄)², computed from
    EXACT integer moments. The series is the per-(type, hour) sum of
    micro-unit values (BIGINT-exact); Σx and the lagged cross sums
    Σx_t·x_{t+l} / Σ heads / Σ tails accumulate as DECIMAL(38,0)
    (micro² products overflow int64 — the agg_variance_partial_merge
    HUGEINT discipline), string-hop to double once, and every later
    double op is identical cross-engine. Lag pairs join on exact epoch
    arithmetic (hour_s + 3600·l), so hours missing from the grid simply
    contribute no pair (documented gap semantics).

    100 TB shape: one (type, hour) hash-agg builds the series; lags
    explode ×3 and equi-join back on (type, hour+Δ) — one shuffle; all
    moments mergeable; output is #types × 3 rows."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = 1_000_000
    series = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .cast("bigint")
        .alias("hour_s"),
    ).agg(
        F.sum(F.floor(F.col("value") * U).cast("long"))
        .cast("bigint")
        .alias("x")
    )
    moments = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    lagged = series.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("lag"),
        (F.col("hour_s") + 3600 * F.col("lag")).alias("hour_s"),
        F.col("x").alias("x_head"),
    ).join(
        series.select(
            "event_type", "hour_s", F.col("x").alias("x_tail")
        ),
        ["event_type", "hour_s"],
    )
    pair_moments = lagged.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.col("x_head").cast("decimal(38,0)") * F.col("x_tail")
        ).alias("sxy"),
        F.sum("x_head").cast("decimal(38,0)").alias("sh"),
        F.sum("x_tail").cast("decimal(38,0)").alias("st"),
    )
    xbar = _dec_to_double(F.col("sx")) / F.col("n")
    num = (
        _dec_to_double(F.col("sxy"))
        - xbar * (_dec_to_double(F.col("sh")) + _dec_to_double(F.col("st")))
        + F.col("n_pairs") * xbar * xbar
    )
    den = _dec_to_double(F.col("sxx")) - F.col("n") * xbar * xbar
    return (
        pair_moments.join(moments, "event_type")
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("lag"),
            "n_pairs",
            F.round(num / den, 6).alias("acf"),
        )
    )


TIMESERIES_ACF_SQL = """
WITH series AS (
  SELECT event_type,
         CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT)
           AS hour_s,
         CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), moments AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
  FROM series GROUP BY event_type
), lagged AS (
  SELECT h.event_type, g.lag, h.x AS x_head, t.x AS x_tail
  FROM series h
  CROSS JOIN UNNEST(generate_series(1, 3)) AS g(lag)
  JOIN series t ON t.event_type = h.event_type
              AND t.hour_s = h.hour_s + 3600 * g.lag
), pair_moments AS (
  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x_head AS DECIMAL(38,0)) * x_tail) AS sxy,
         CAST(SUM(x_head) AS DECIMAL(38,0)) AS sh,
         CAST(SUM(x_tail) AS DECIMAL(38,0)) AS st
  FROM lagged GROUP BY 1, 2
)
SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag, p.n_pairs,
       round(
         (CAST(CAST(p.sxy AS VARCHAR) AS DOUBLE)
          - (CAST(CAST(m.sx AS VARCHAR) AS DOUBLE) / m.n)
            * (CAST(CAST(p.sh AS VARCHAR) AS DOUBLE)
               + CAST(CAST(p.st AS VARCHAR) AS DOUBLE))
          + p.n_pairs * (CAST(CAST(m.sx AS VARCHAR) AS DOUBLE) / m.n)
            * (CAST(CAST(m.sx AS VARCHAR) AS DOUBLE) / m.n))
         / (CAST(CAST(m.sxx AS VARCHAR) AS DOUBLE)
            - m.n * (CAST(CAST(m.sx AS VARCHAR) AS DOUBLE) / m.n)
              * (CAST(CAST(m.sx AS VARCHAR) AS DOUBLE) / m.n)),
         6) AS acf
FROM pair_moments p JOIN moments m USING (event_type)
"""


def analytics_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic CRM/BI workload: per
    customer, Recency (epoch day of last order), Frequency (order
    count), and Monetary (exact decimal revenue) are each cut into
    quintiles, concatenated into the familiar 3-digit RFM code
    (555 = best). Quintile boundaries come from ONE exact-percentile
    aggregate (p20/p40/p60/p80 per metric — Spark percentile() and
    DuckDB quantile_cont are verified bit-identical, the
    agg_percentiles convention), broadcast back, and each customer
    buckets by threshold compare — NO ntile global sort (the
    ntile_decile_stats trap): the only shuffle is the per-customer
    rollup, then map-side compares.

    100 TB shape: one hash-agg on custkey, one 1-row threshold frame
    (broadcast attach), map-only coding."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.unix_date(F.to_date(F.max("o_orderdate")))
        .cast("bigint")
        .alias("recency_day"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    ths = per_cust.agg(
        *[
            F.round(F.expr(f"percentile({m}, {q})"), 6).alias(
                f"{m[0]}{int(q * 100)}"
            )
            for m in ("recency_day", "frequency", "monetary")
            for q in (0.2, 0.4, 0.6, 0.8)
        ]
    )

    def quintile(metric: str, pfx: str):
        c = F.col(metric).cast("double")
        return (
            F.lit(1)
            + (c > F.col(f"{pfx}20")).cast("int")
            + (c > F.col(f"{pfx}40")).cast("int")
            + (c > F.col(f"{pfx}60")).cast("int")
            + (c > F.col(f"{pfx}80")).cast("int")
        ).cast("bigint")

    return (
        per_cust.crossJoin(F.broadcast(ths))
        .select(
            "o_custkey",
            "recency_day",
            "frequency",
            F.round("monetary", 2).alias("monetary"),
            quintile("recency_day", "r").alias("r_q"),
            quintile("frequency", "f").alias("f_q"),
            quintile("monetary", "m").alias("m_q"),
        )
        .withColumn(
            "rfm_code",
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).cast(
                "bigint"
            ),
        )
    )


ANALYTICS_RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(CAST(MAX(o_orderdate) AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS recency_day,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {sql_dsum("o_totalprice")} AS monetary
  FROM orders GROUP BY o_custkey
), ths AS (
  SELECT round(quantile_cont(recency_day, 0.2), 6) AS r20,
         round(quantile_cont(recency_day, 0.4), 6) AS r40,
         round(quantile_cont(recency_day, 0.6), 6) AS r60,
         round(quantile_cont(recency_day, 0.8), 6) AS r80,
         round(quantile_cont(frequency, 0.2), 6) AS f20,
         round(quantile_cont(frequency, 0.4), 6) AS f40,
         round(quantile_cont(frequency, 0.6), 6) AS f60,
         round(quantile_cont(frequency, 0.8), 6) AS f80,
         round(quantile_cont(monetary, 0.2), 6) AS m20,
         round(quantile_cont(monetary, 0.4), 6) AS m40,
         round(quantile_cont(monetary, 0.6), 6) AS m60,
         round(quantile_cont(monetary, 0.8), 6) AS m80
  FROM per_cust
), coded AS (
  SELECT o_custkey, recency_day, frequency, round(monetary, 2) AS monetary,
         CAST(1 + (recency_day::DOUBLE > r20)::INTEGER
                + (recency_day::DOUBLE > r40)::INTEGER
                + (recency_day::DOUBLE > r60)::INTEGER
                + (recency_day::DOUBLE > r80)::INTEGER AS BIGINT) AS r_q,
         CAST(1 + (frequency::DOUBLE > f20)::INTEGER
                + (frequency::DOUBLE > f40)::INTEGER
                + (frequency::DOUBLE > f60)::INTEGER
                + (frequency::DOUBLE > f80)::INTEGER AS BIGINT) AS f_q,
         CAST(1 + (monetary > m20)::INTEGER + (monetary > m40)::INTEGER
                + (monetary > m60)::INTEGER + (monetary > m80)::INTEGER
              AS BIGINT) AS m_q
  FROM per_cust CROSS JOIN ths
)
SELECT o_custkey, recency_day, frequency, monetary, r_q, f_q, m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code
FROM coded
"""


def analytics_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — retention_cohorts' revenue
    sibling: customers cohort by FIRST-order year; each cohort's
    revenue accrues by account age (order year − cohort year), and the
    running cumulative divided by cohort size is the LTV curve finance
    actually plots. Revenue stays exact DECIMAL through the cumulative
    window (order-free), converting to double only for the final
    rounded per-customer ratio.

    100 TB shape: one custkey hash-agg (cohort assignment), one
    (cohort, age) hash-agg, one BOUNDED window (≤ #years rows per
    cohort partition — scale-independent), one broadcast of the
    #cohorts-row size frame."""
    o = _t(spark, sf_dir, "orders")
    cohort = o.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).cast("int").alias("cohort_year")
    )
    sizes = cohort.groupBy("cohort_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    rev = (
        o.join(cohort, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year"))
            .cast("bigint")
            .alias("age_years"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                "revenue_dec"
            )
        )
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.withColumn("cum_dec", F.sum("revenue_dec").over(w))
        .join(F.broadcast(sizes), "cohort_year")
        .select(
            "cohort_year",
            "age_years",
            "n_customers",
            _dec_to_double(F.col("revenue_dec")).alias("revenue"),
            F.round(
                _dec_to_double(F.col("cum_dec")) / F.col("n_customers"), 6
            ).alias("ltv_per_customer"),
        )
    )


ANALYTICS_COHORT_LTV_SQL = """
WITH cohort AS (
  SELECT o_custkey, CAST(year(MIN(o_orderdate)) AS INTEGER) AS cohort_year
  FROM orders GROUP BY o_custkey
), sizes AS (
  SELECT cohort_year, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM cohort GROUP BY cohort_year
), rev AS (
  SELECT c.cohort_year,
         CAST(year(o.o_orderdate) - c.cohort_year AS BIGINT) AS age_years,
         SUM(CAST(o.o_totalprice AS DECIMAL(18, 4))) AS revenue_dec
  FROM orders o JOIN cohort c ON o.o_custkey = c.o_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_year, age_years, revenue_dec,
         SUM(revenue_dec) OVER (PARTITION BY cohort_year ORDER BY age_years
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
  FROM rev
)
SELECT c.cohort_year, c.age_years, s.n_customers,
       CAST(CAST(revenue_dec AS VARCHAR) AS DOUBLE) AS revenue,
       round(CAST(CAST(cum_dec AS VARCHAR) AS DOUBLE) / s.n_customers, 6)
         AS ltv_per_customer
FROM cum c JOIN sizes s USING (cohort_year)
"""


def analytics_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel — funnel_conversion's realistic sibling:
    a later stage only counts if it happens strictly after the earliest
    completion of the previous stage AND within a 1-hour conversion
    window of it (the attribution rule product analytics actually uses;
    the unwindowed funnel credits a purchase a week later). Same
    chained window-min shape: t1 = first view, t2 = first click in
    (t1, t1 + 1h], t3 = first purchase in (t2, t2 + 1h].

    100 TB shape: one shuffle on user_id; three chained window-mins on
    the SAME partitioning run in one Window stage; final 1-row
    partial-agg collapse (no Exchange carries user rows to the
    driver)."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    hour = F.expr("INTERVAL 1 HOUR")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + hour),
            F.col("ts"),
        )
    ).over(wu)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + hour),
            F.col("ts"),
        )
    ).over(wu)
    staged = staged.withColumn("t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_1h"),
        F.count("t3").alias("n_purchase_1h"),
        F.round(F.count("t2") / F.count("t1"), 6).alias("r_view_to_click"),
        F.round(F.count("t3") / F.count("t2"), 6).alias("r_click_to_purchase"),
    )


FUNNEL_WINDOWED_SQL = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 1 HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL 1 HOUR
  GROUP BY e.user_id
),
j AS (
  SELECT s1.user_id, s1.t1, s2.t2, s3.t3
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN s1 ON u.user_id = s1.user_id
  LEFT JOIN s2 ON u.user_id = s2.user_id
  LEFT JOIN s3 ON u.user_id = s3.user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t1) AS n_view,
       COUNT(t2) AS n_click_1h,
       COUNT(t3) AS n_purchase_1h,
       round(COUNT(t2)::DOUBLE / COUNT(t1), 6) AS r_view_to_click,
       round(COUNT(t3)::DOUBLE / COUNT(t2), 6) AS r_click_to_purchase
FROM j
"""


def geo_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trip statistics over an ordered point stream — the
    telemetry rollup a mobility/telemetry pipeline reports: total path
    length (sum of haversine segments between consecutive pings),
    point count, and the bounding box. Coordinates are a deterministic
    per-EVENT fixture ((user_id, event_id) residues — geo_bucket_join's
    per-user fixture, extended to event grain so paths have real
    movement); ordering is (ts, event_id).

    Determinism: each SEGMENT distance rounds at 6 dp (engine-exact on
    these magnitudes, as geo_bucket_join established), then converts to
    micro-km BIGINTs via floor (floor is tie-free, unlike the half-up vs
    half-away round() split) — so the per-user sum is exact integer
    arithmetic, independent of partial-aggregation order in BOTH
    engines. 100 TB shape: one shuffle on user_id shared by the lag
    window and the rollup; bbox min/max are mergeable."""
    ev = _t(spark, sf_dir, "events")
    lat = (
        (F.col("user_id") * 7919 + F.col("event_id") * 31) % 12000
    ).cast("double") / 100 - 60
    lon = (
        (F.col("user_id") * 104729 + F.col("event_id") * 17) % 36000
    ).cast("double") / 100 - 180
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select(
        "user_id", "ts", "event_id", lat.alias("lat"), lon.alias("lon")
    ).select(
        "user_id", "lat", "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    dlat = F.radians(F.col("lat") - F.col("plat"))
    dlon = F.radians(F.col("lon") - F.col("plon"))
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians("plat"))
        * F.cos(F.radians("lat"))
        * F.pow(F.sin(dlon / 2), 2)
    )
    seg_km = F.round(2 * 6371.0 * F.asin(F.sqrt(h)), 6)
    seg_micro = F.floor(seg_km * 1_000_000).cast("long")
    return (
        pts.select(
            "user_id", "lat", "lon",
            F.coalesce(seg_micro, F.lit(0).cast("long")).alias("seg_micro"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(F.sum("seg_micro") / 1_000_000.0, 6).alias("path_km"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
            F.min("lon").alias("min_lon"),
            F.max("lon").alias("max_lon"),
        )
    )


GEO_PATH_STATS_SQL = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         ((user_id * 7919 + event_id * 31) % 12000)::DOUBLE / 100 - 60
           AS lat,
         ((user_id * 104729 + event_id * 17) % 36000)::DOUBLE / 100 - 180
           AS lon
  FROM events
), seg AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), dist AS (
  SELECT user_id, lat, lon,
         COALESCE(CAST(floor(round(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(lat - plat) / 2), 2)
           + cos(radians(plat)) * cos(radians(lat))
             * pow(sin(radians(lon - plon) / 2), 2))), 6)
           * 1000000) AS BIGINT), 0) AS seg_micro
  FROM seg
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(SUM(seg_micro) / 1000000.0, 6) AS path_km,
       MIN(lat) AS min_lat, MAX(lat) AS max_lat,
       MIN(lon) AS min_lon, MAX(lon) AS max_lon
FROM dist GROUP BY user_id
"""


_KANON_K = 5


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy-governance DQ check a
    training-data release runs before publishing: for a chosen
    quasi-identifier set (here nation x market segment over customer),
    every equivalence class smaller than k = 5 (_KANON_K) re-identifies
    its members. Reports EVERY class with its size, at-risk flag, and
    the share of the table it holds, so the release gate can both count
    violations and locate them.

    This is Sweeney's k-anonymity on the QI grain, not a sampling
    estimate — classes are exact counts. 100 TB shape: ONE mergeable
    hash aggregate on the QI columns plus a 1-row total attach
    (broadcast); class cardinality is bounded by the QI domain
    (|nations| x |segments|), not by rows."""
    c = _t(spark, sf_dir, "customer")
    classes = c.groupBy(
        F.col("c_nationkey").alias("qi_nation"),
        F.col("c_mktsegment").alias("qi_segment"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    total = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return (
        classes.crossJoin(F.broadcast(total))
        .select(
            "qi_nation",
            "qi_segment",
            "class_size",
            (F.col("class_size") < _KANON_K).alias("at_risk"),
            F.round(
                F.col("class_size").cast("double") / F.col("n_rows"), 6
            ).alias("table_share"),
        )
    )


DQ_K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
         CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM customer
)
SELECT qi_nation, qi_segment, class_size,
       class_size < {_KANON_K} AS at_risk,
       round(class_size::DOUBLE / n_rows, 6) AS table_share
FROM classes CROSS JOIN total
"""


def analytics_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — allocate each part's returns against its
    receipts in first-in-first-out order (the inventory-costing /
    order-to-cash matching primitive): per partkey, demands (returns,
    l_returnflag = 'R') and supplies (receipts, 'N'/'A') each get a
    cumulative-quantity interval [cum - qty, cum) ordered by
    (shipdate, orderkey, linenumber), and an allocation of
    min(hi) - max(lo) units exists wherever the two intervals overlap —
    FIFO matching IS interval alignment on the cumulative axis, which
    turns the sequential textbook loop into one set-based join.

    100 TB shape: cumulative sums are per-PARTKEY windows (never
    global); the overlap join is an equi-join on partkey with the range
    predicate applied in-bucket, and FIFO's structure bounds output at
    |D| + |S| - 1 pairs per key (each pair boundary consumes a demand
    or a supply), so fan-out is linear, not |D|x|S|. Quantities are
    integral -> every interval endpoint and allocation is an exact
    BIGINT."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_returnflag",
        "l_shipdate",
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    def intervals(df):
        cum = F.sum("qty").over(w)
        return df.select(
            "l_partkey", "l_orderkey", "l_linenumber", "qty",
            (cum - F.col("qty")).alias("lo"), cum.alias("hi"),
        )
    dem = intervals(li.filter(F.col("l_returnflag") == "R"))
    sup = intervals(li.filter(F.col("l_returnflag") != "R"))
    d, s = dem.alias("d"), sup.alias("s")
    return (
        d.join(
            s,
            (F.col("d.l_partkey") == F.col("s.l_partkey"))
            & (F.col("s.lo") < F.col("d.hi"))
            & (F.col("d.lo") < F.col("s.hi")),
        )
        .select(
            F.col("d.l_partkey").alias("l_partkey"),
            F.col("d.l_orderkey").alias("d_orderkey"),
            F.col("d.l_linenumber").cast("bigint").alias("d_linenumber"),
            F.col("s.l_orderkey").alias("s_orderkey"),
            F.col("s.l_linenumber").cast("bigint").alias("s_linenumber"),
            (
                F.least(F.col("d.hi"), F.col("s.hi"))
                - F.greatest(F.col("d.lo"), F.col("s.lo"))
            ).cast("bigint").alias("alloc_qty"),
        )
    )


ANALYTICS_FIFO_SQL = """
WITH li AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_returnflag, l_shipdate,
         CAST(floor(l_quantity) AS BIGINT) AS qty
  FROM lineitem
), dem AS (
  SELECT l_partkey, l_orderkey, l_linenumber, qty,
         SUM(qty) OVER w - qty AS lo, SUM(qty) OVER w AS hi
  FROM li WHERE l_returnflag = 'R'
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING)
), sup AS (
  SELECT l_partkey, l_orderkey, l_linenumber, qty,
         SUM(qty) OVER w - qty AS lo, SUM(qty) OVER w AS hi
  FROM li WHERE l_returnflag <> 'R'
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING)
)
SELECT d.l_partkey,
       d.l_orderkey AS d_orderkey,
       CAST(d.l_linenumber AS BIGINT) AS d_linenumber,
       s.l_orderkey AS s_orderkey,
       CAST(s.l_linenumber AS BIGINT) AS s_linenumber,
       CAST(least(d.hi, s.hi) - greatest(d.lo, s.lo) AS BIGINT) AS alloc_qty
FROM dem d JOIN sup s
  ON d.l_partkey = s.l_partkey AND s.lo < d.hi AND d.lo < s.hi
"""


_FD_TESTS = [
    # (fd_name, lhs column, rhs column) — candidate dependencies over
    # orders; the first holds by construction (PK), the others are the
    # kind of "should this hold?" profiling questions an FD audit
    # answers with violation counts instead of a boolean guess.
    ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
    ("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"),
    ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
]


def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (the Deequ/Metanome-style profiling
    check): for each candidate FD "LHS -> RHS", how many LHS keys map
    to MORE than one distinct RHS value — n_lhs, n_violating, the
    worst key's distinct-RHS count, and a holds flag. A PK check says
    unique/not; an FD audit quantifies HOW broken a suspected
    invariant is, which is what decides repair vs. re-model.

    100 TB shape: per FD, reduce to DISTINCT (lhs, rhs) pairs first
    (mergeable, map-side combinable) and count per lhs — never
    count_distinct over raw rows; each audit is then one hash-agg over
    the deduplicated pair frame plus a 4-cell rollup. FDs are
    independent scans (column-pruned to 2 columns each); at many FDs
    over one table, share the scan with grouping sets."""
    o = _t(spark, sf_dir, "orders")
    outs = []
    for fd_name, lhs, rhs in _FD_TESTS:
        pairs = o.select(
            F.col(lhs).alias("lhs"), F.col(rhs).alias("rhs")
        ).distinct()
        per_lhs = pairs.groupBy("lhs").agg(
            F.count(F.lit(1)).alias("n_rhs")
        )
        outs.append(
            per_lhs.agg(
                F.lit(fd_name).alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("bigint").alias("n_violating"),
                F.max("n_rhs").cast("bigint").alias("max_rhs_per_lhs"),
            ).select(
                "fd", "n_lhs", "n_violating", "max_rhs_per_lhs",
                (F.col("n_violating") == 0).cast("bigint").alias("holds"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def _fd_sql() -> str:
    selects = []
    for fd_name, lhs, rhs in _FD_TESTS:
        selects.append(f"""
  SELECT '{fd_name}' AS fd,
         CAST(COUNT(*) AS BIGINT) AS n_lhs,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_per_lhs,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS BIGINT)
           AS holds
  FROM (SELECT {lhs}, COUNT(*) AS n_rhs
        FROM (SELECT DISTINCT {lhs}, {rhs} FROM orders) GROUP BY 1)""")
    return "\nUNION ALL\n".join(selects)


def analytics_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-model fit behind next-action
    prediction and session simulation: order each user's events by
    (ts, event_id), pair each with its successor via lag, and emit
    count + row-normalized probability per (from_type, to_type) cell.

    100 TB shape: ONE per-user window (the sequence order is
    user-local — never a global sort) + one hash-agg to the #types²
    cell frame; the row normalizer joins back on the tiny from_type
    marginal. Probabilities divide exact BIGINT counts, rounded 6dp."""
    return markov_report(markov_cells(event_sequence(spark, sf_dir)))


def markov_cells(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n_trans): each event paired with its
    predecessor in the user's (ts, event_id) order, counted per cell —
    the batch fit, and the streaming sink's per-batch count over
    (carry ∪ batch)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id", "event_type",
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))
    )


def markov_report(cells: DataFrame) -> DataFrame:
    """Row-normalize transition counts: p = n_trans / n_from (6dp)."""
    marg = cells.groupBy("from_type").agg(
        F.sum("n_trans").cast("bigint").alias("n_from")
    )
    return cells.join(marg, "from_type").select(
        "from_type", "to_type", "n_trans",
        F.round(F.col("n_trans").cast("double") / F.col("n_from"), 6).alias("p"),
    )


ANALYTICS_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
), trans AS (
  SELECT from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY 1, 2
), marg AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY 1
)
SELECT t.from_type, t.to_type, t.n_trans,
       round(t.n_trans::DOUBLE / m.n_from, 6) AS p
FROM trans t JOIN marg m USING (from_type)
"""


_LDIV_L = 3


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's second line of defense
    (Machanavajjhala et al.): a QI class can be large (k-anonymous) yet
    still leak if everyone in it shares the SAME sensitive value, so
    per (nation x segment) class we report the number of DISTINCT
    sensitive values (account-balance band, floor(acctbal/1000) — the
    derived attribute a release would bin to) and flag classes below
    l = 3. Distinct-l is the paper's simplest instantiation; the
    class_size/l_distinct pair in the output is what an entropy-l or
    recursive-(c,l) variant would consume.

    100 TB shape: reduce to DISTINCT (QI, sensitive) triples first
    (mergeable), then one hash-agg per class for l and one for size —
    never count_distinct over raw rows; class cardinality is the QI
    domain."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("qi_nation"),
        F.col("c_mktsegment").alias("qi_segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sens_band"),
    )
    sizes = c.groupBy("qi_nation", "qi_segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    ldist = (
        c.distinct()
        .groupBy("qi_nation", "qi_segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_distinct"))
    )
    return (
        sizes.join(ldist, ["qi_nation", "qi_segment"])
        .select(
            "qi_nation", "qi_segment", "class_size", "l_distinct",
            (F.col("l_distinct") < _LDIV_L).alias("below_l"),
        )
    )


DQ_L_DIVERSITY_SQL = f"""
WITH c AS (
  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS sens_band
  FROM customer
), sizes AS (
  SELECT qi_nation, qi_segment, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM c GROUP BY 1, 2
), ld AS (
  SELECT qi_nation, qi_segment, CAST(COUNT(*) AS BIGINT) AS l_distinct
  FROM (SELECT DISTINCT * FROM c) GROUP BY 1, 2
)
SELECT qi_nation, qi_segment, class_size, l_distinct,
       l_distinct < {_LDIV_L} AS below_l
FROM sizes JOIN ld USING (qi_nation, qi_segment)
"""


def dq_reconciliation_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table aggregate reconciliation — the finance-grade DQ
    audit (does the order header's total equal the sum of its lines?):
    per order, recompute Σ extendedprice·(1−discount)·(1+tax) and
    compare against the stored o_totalprice, reporting exact matches,
    within-a-cent matches (the rounding tolerance a header/detail
    pipeline legitimately accumulates), mismatches beyond a cent,
    headers with no lines, and the worst absolute discrepancy.
    Referential integrity says every key resolves; reconciliation says
    the AMOUNTS agree — different failure modes (dropped lines pass
    RI-on-orders, double-posted lines pass both key checks).

    Determinism: the money×rate product casts OPERANDS to decimal
    first (the drev/dcharge convention); diffs stay DECIMAL end-to-end
    and every comparison is exact. 100 TB shape: one per-orderkey
    hash-agg on lineitem, one keyed join against orders, one 1-row
    rollup."""
    li = _t(spark, sf_dir, "lineitem")
    d = "decimal(18,4)"
    charge = (
        F.col("l_extendedprice").cast(d)
        * (F.lit(1).cast(d) - F.col("l_discount").cast(d))
        * (F.lit(1).cast(d) + F.col("l_tax").cast(d))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(charge).alias("recomputed")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast(d).alias("stored")
    )
    j = o.join(
        per_order, o.o_orderkey == per_order.l_orderkey, "left"
    ).select(
        "stored", "recomputed",
        F.when(
            F.col("recomputed").isNotNull(),
            F.abs(F.col("recomputed") - F.col("stored")),
        ).alias("adiff"),
    )
    cent = F.lit("0.01").cast("decimal(18,4)")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("recomputed").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_no_lines"),
        F.sum(F.when(F.col("adiff") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_exact"),
        F.sum(
            F.when((F.col("adiff") > 0) & (F.col("adiff") <= cent), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_within_cent"),
        F.sum(F.when(F.col("adiff") > cent, 1).otherwise(0))
        .cast("bigint").alias("n_mismatched"),
        F.round(F.max("adiff").cast("double"), 4).alias("max_abs_diff"),
    )


DQ_RECONCILIATION_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
             * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4))))
           AS recomputed
  FROM lineitem GROUP BY 1
), j AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,4)) AS stored, recomputed,
         CASE WHEN recomputed IS NOT NULL
              THEN abs(recomputed - CAST(o_totalprice AS DECIMAL(18,4)))
         END AS adiff
  FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_lines,
       CAST(SUM(CASE WHEN adiff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN adiff > 0 AND adiff <= CAST(0.01 AS DECIMAL(18,4))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_cent,
       CAST(SUM(CASE WHEN adiff > CAST(0.01 AS DECIMAL(18,4))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       round(CAST(MAX(adiff) AS DOUBLE), 4) AS max_abs_diff
FROM j
"""


_IQR_U = 1_000_000


def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per event type — the third classic
    univariate screen beside anomaly_zscore (masking-prone) and
    timeseries_anomaly_mad (robust scale): exact discrete quartiles
    q1/q3 (percentile_disc: smallest value whose cumulative count
    reaches ceil(p·n)), fences at q1 − 1.5·IQR / q3 + 1.5·IQR, and
    per-type outlier counts beyond each fence. The 1.5 factor stays
    exact by comparing 2·v against 2·q1 − 3·IQR (integers — no float
    fence).

    100 TB shape: reduce to per-(type, micro-unit value) counts first
    (the distinct-value frame), cumulate with a TYPE-partitioned
    window over that reduced frame, pick quartiles by integer
    threshold, broadcast the #types-row fence frame back onto the
    same reduced frame — raw rows are touched exactly once."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = _IQR_U
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * U).cast("long").alias("v"),
    )
    counts = vals.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.select(
        "event_type", "v", "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    # percentile_disc thresholds: ceil(p*n) = (p_num*n + p_den - 1) div p_den
    t1 = F.floor((F.col("n") + 3) / 4)        # ceil(n/4)
    t3 = F.floor((3 * F.col("n") + 3) / 4)    # ceil(3n/4)
    q = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= t1, F.col("v"))).alias("q1"),
        F.min(F.when(F.col("cum") >= t3, F.col("v"))).alias("q3"),
        F.max("n").alias("n"),
    )
    iqr = F.col("q3") - F.col("q1")
    fenced = counts.join(F.broadcast(q), "event_type").select(
        "event_type", "v", "c", "q1", "q3", "n",
        (2 * F.col("v") < 2 * F.col("q1") - 3 * iqr).alias("low"),
        (2 * F.col("v") > 2 * F.col("q3") + 3 * iqr).alias("high"),
    )
    return (
        fenced.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(F.max("q1").cast("double") / U, 6).alias("q1"),
            F.round(F.max("q3").cast("double") / U, 6).alias("q3"),
            F.sum(F.when(F.col("low"), F.col("c")).otherwise(0))
            .cast("bigint").alias("n_low_outliers"),
            F.sum(F.when(F.col("high"), F.col("c")).otherwise(0))
            .cast("bigint").alias("n_high_outliers"),
        )
    )


DQ_IQR_FENCES_SQL = f"""
WITH vals AS (
  SELECT event_type, CAST(floor(value * {_IQR_U}) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), counts AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM vals GROUP BY 1, 2
), cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM counts
), q AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1,
         MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3,
         MAX(n) AS n
  FROM cum GROUP BY 1
)
SELECT c.event_type,
       CAST(MAX(q.n) AS BIGINT) AS n,
       round(MAX(q.q1)::DOUBLE / {_IQR_U}, 6) AS q1,
       round(MAX(q.q3)::DOUBLE / {_IQR_U}, 6) AS q3,
       CAST(SUM(CASE WHEN 2 * c.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                THEN c.c ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN 2 * c.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                THEN c.c ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM counts c JOIN q ON c.event_type = q.event_type
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Statistical-inference family: Welch t, one-way ANOVA F, Spearman rho,
# degree assortativity. All four reduce raw rows to exact integer /
# decimal moments first (HUGEINT/DECIMAL(38,0) oracle mirror) and derive
# the statistic as ONE fixed expression tree on a 1-row (or k-row) frame
# — the same determinism discipline as eval_ab_proportions /
# agg_regression_stats, and the mergeable map-side-combinable shape a
# 100 TB scan needs anyway.
# --------------------------------------------------------------------------

_STAT_U = 1_000_000  # micro-unit grid for events.value (same as _IQR_U)
# events.event_type domain is the fixed synthetic 5-set; the guard filter
# + the spec test pin it so a fixture change fails loudly instead of
# silently skewing the pivoted moments.
_ANOVA_TYPES = ("click", "error", "purchase", "signup", "view")


def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test of mean event value,
    'purchase' vs 'click' — the means sibling of eval_ab_proportions
    (which tests proportions): per-group n / Σv / Σv² on the micro-unit
    grid (Σv² runs in DECIMAL(38,0) — micro² products overflow int64),
    then t and the Welch–Satterthwaite df as one fixed expression tree
    on the 1-row frame. Sample variance uses ddof=1.

    100 TB shape: ONE mergeable hash-agg over the filtered scan (3
    partial sums per group, pivoted to columns by a 2-value tag);
    everything downstream is O(1)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    )
    v = F.floor(F.col("value") * _STAT_U).cast("long")
    tagged = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("g"),
        v.alias("v"),
    )
    vd = F.col("v").cast("decimal(18,0)")
    # Σv of micro-unit longs into a BIGINT overflows int64 around
    # 2e10 rows × avg value 500 (ANSI abort / non-ANSI silent wrap) —
    # reachable for events at 100 TB.
    # Decimal-promote the group sums (linear overflow class). The
    # micro-unit sums are exact integers, so _dec_to_double is
    # value-identical below 2⁵³.
    zd = F.lit(0).cast("decimal(18,0)")
    m = tagged.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("bigint").alias("n_b"),
        _dec_to_double(
            F.sum(F.when(F.col("g") == 1, vd).otherwise(zd))).alias("sa"),
        _dec_to_double(
            F.sum(F.when(F.col("g") == 0, vd).otherwise(zd))).alias("sb"),
        _dec_to_double(
            F.sum(F.when(F.col("g") == 1, vd * vd).otherwise(F.lit(0).cast("decimal(38,0)")))
        ).alias("qa"),
        _dec_to_double(
            F.sum(F.when(F.col("g") == 0, vd * vd).otherwise(F.lit(0).cast("decimal(38,0)")))
        ).alias("qb"),
    )
    U = float(_STAT_U)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("sa"), F.col("sb")
    ma, mb = sa / na / U, sb / nb / U
    # sample variance (ddof=1), value units²
    va = (F.col("qa") - sa * sa / na) / (na - 1) / (U * U)
    vb = (F.col("qb") - sb * sb / nb) / (nb - 1) / (U * U)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    return m.select(
        "n_a", "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("df_welch"),
    )


STAT_WELCH_SQL = f"""
WITH m AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(floor(value * {_STAT_U}) AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
    CAST(SUM(CASE WHEN event_type = 'click'
             THEN CAST(floor(value * {_STAT_U}) AS BIGINT) ELSE 0 END) AS BIGINT) AS sb,
    CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(floor(value * {_STAT_U}) AS HUGEINT)
                  * CAST(floor(value * {_STAT_U}) AS HUGEINT)
             ELSE 0 END) AS VARCHAR) AS DOUBLE) AS qa,
    CAST(CAST(SUM(CASE WHEN event_type = 'click'
             THEN CAST(floor(value * {_STAT_U}) AS HUGEINT)
                  * CAST(floor(value * {_STAT_U}) AS HUGEINT)
             ELSE 0 END) AS VARCHAR) AS DOUBLE) AS qb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
)
SELECT n_a, n_b,
  round(sa::DOUBLE / n_a / {_STAT_U}.0, 6) AS mean_a,
  round(sb::DOUBLE / n_b / {_STAT_U}.0, 6) AS mean_b,
  round((sa::DOUBLE / n_a / {_STAT_U}.0 - sb::DOUBLE / n_b / {_STAT_U}.0)
    / sqrt(((qa - sa::DOUBLE * sa / n_a) / (n_a - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_a
         + ((qb - sb::DOUBLE * sb / n_b) / (n_b - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_b), 6)
    AS t_stat,
  round(
    (((qa - sa::DOUBLE * sa / n_a) / (n_a - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_a
     + ((qb - sb::DOUBLE * sb / n_b) / (n_b - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_b)
    * (((qa - sa::DOUBLE * sa / n_a) / (n_a - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_a
     + ((qb - sb::DOUBLE * sb / n_b) / (n_b - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_b)
    / ((((qa - sa::DOUBLE * sa / n_a) / (n_a - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_a)
       * (((qa - sa::DOUBLE * sa / n_a) / (n_a - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_a)
       / (n_a - 1)
     + (((qb - sb::DOUBLE * sb / n_b) / (n_b - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_b)
       * (((qb - sb::DOUBLE * sb / n_b) / (n_b - 1) / ({_STAT_U}.0 * {_STAT_U}.0)) / n_b)
       / (n_b - 1)), 6) AS df_welch
FROM m
"""


def stat_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of event value across the five event
    types — the k-group generalization of stat_welch_ttest: per-type
    n_t / Σv (exact DECIMAL micro-unit sums, pivoted to columns over
    the FIXED 5-type domain) + the global Σv² (DECIMAL(38,0)), then
    SSB = Σ_t s_t²/n_t − S²/N and SSW = SST − SSB as one fixed
    expression tree written in alphabetical type order — both engines
    evaluate the identical left-fold, so no cross-row float sum exists
    anywhere. The isin guard + the spec test pin the type domain; a
    fixture change fails loudly rather than skewing the pivot.

    100 TB shape: ONE mergeable hash-agg (11 partial sums) over the
    filtered scan; the statistic is O(1) arithmetic on the 1-row
    frame."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin(*_ANOVA_TYPES)
    )
    v = F.floor(F.col("value") * _STAT_U).cast("long")
    base = ev.select("event_type", v.alias("v"))
    vd = F.col("v").cast("decimal(18,0)")
    # Per-type Σv micro-unit sums decimal-promoted like stat_welch's —
    # the same linear-overflow class; exact integers below 2⁵³, so the
    # downstream double arithmetic is value-identical at any test SF.
    zd = F.lit(0).cast("decimal(18,0)")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n"),
            _dec_to_double(F.sum(vd * vd)).alias("q")]
    for t in _ANOVA_TYPES:
        aggs.append(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint").alias(f"n_{t}"))
        aggs.append(
            _dec_to_double(
                F.sum(F.when(F.col("event_type") == t, vd).otherwise(zd))
            ).alias(f"s_{t}"))
    m = base.agg(*aggs)
    U2 = float(_STAT_U) * float(_STAT_U)
    nd = F.col("n").cast("double")
    s_tot = sum((F.col(f"s_{t}") for t in _ANOVA_TYPES), F.lit(0.0))
    between = None
    for t in _ANOVA_TYPES:
        term = (
            F.col(f"s_{t}") * F.col(f"s_{t}")
            / F.col(f"n_{t}").cast("double")
        )
        between = term if between is None else between + term
    ssb = (between - s_tot * s_tot / nd) / U2
    sst = (F.col("q") - s_tot * s_tot / nd) / U2
    ssw = sst - ssb
    k = len(_ANOVA_TYPES)
    f_stat = (ssb / (k - 1)) / (ssw / (nd - k))
    return m.select(
        F.col("n").alias("n"),
        F.lit(k).cast("bigint").alias("k"),
        F.round(ssb, 6).alias("ssb"),
        F.round(ssw, 6).alias("ssw"),
        F.round(f_stat, 6).alias("f_stat"),
    )


def _anova_sql() -> str:
    U, k = _STAT_U, len(_ANOVA_TYPES)
    types = ", ".join(f"'{t}'" for t in _ANOVA_TYPES)
    cells = []
    for t in _ANOVA_TYPES:
        cells.append(
            f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}")
        cells.append(
            f"CAST(SUM(CASE WHEN event_type = '{t}' THEN v ELSE 0 END) AS BIGINT) AS s_{t}")
    s_tot = " + ".join(f"s_{t}" for t in _ANOVA_TYPES)
    between = " + ".join(
        f"s_{t}::DOUBLE * s_{t} / n_{t}" for t in _ANOVA_TYPES)
    return f"""
WITH base AS (
  SELECT event_type, CAST(floor(value * {U}) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND event_type IN ({types})
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(v AS HUGEINT) * v) AS VARCHAR) AS DOUBLE) AS q,
         {", ".join(cells)}
  FROM base
)
SELECT n, CAST({k} AS BIGINT) AS k,
  round((({between}) - ({s_tot})::DOUBLE * ({s_tot}) / n)
        / ({U}.0 * {U}.0), 6) AS ssb,
  round(((q - ({s_tot})::DOUBLE * ({s_tot}) / n) / ({U}.0 * {U}.0))
        - ((({between}) - ({s_tot})::DOUBLE * ({s_tot}) / n)
           / ({U}.0 * {U}.0)), 6) AS ssw,
  round((((({between}) - ({s_tot})::DOUBLE * ({s_tot}) / n) / ({U}.0 * {U}.0))
         / ({k} - 1))
        / (((((q - ({s_tot})::DOUBLE * ({s_tot}) / n) / ({U}.0 * {U}.0))
            - ((({between}) - ({s_tot})::DOUBLE * ({s_tot}) / n)
               / ({U}.0 * {U}.0))) / (n - {k}))), 6) AS f_stat
FROM m
"""


def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation of l_quantity vs l_extendedprice
    — the monotone-association twin of agg_regression_stats' Pearson
    (which this reduces to on AVERAGE TIE RANKS). Doubled average ranks
    2·r̄(v) = 2·cum_before(v) + c(v) + 1 stay INTEGER, so every moment
    (Σ4rxry, Σ4rx², Σ4ry²) accumulates exactly in DECIMAL(38,0); rho is
    one fixed expression on the 1-row moment frame.

    100 TB shape: ranks never sort raw rows. l_extendedprice ranks use
    the two-phase recipe (per-distinct-value counts → 256 fixed-width
    buckets under a 1-row bounds attach → cross-bucket cumulative over
    the 256-row frame + within-bucket partitioned cumulative);
    l_quantity's distinct domain is the fixed 1..50 grid, so its
    cumulative runs over ≤50 rows. Rank maps join back keyed (the qty
    map broadcasts); moments are one mergeable agg."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    # --- x ranks: distinct domain is the 1..50 quantity grid ---
    px = li.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    rx = px.select(
        "x",
        (2 * F.coalesce(F.sum("c").over(wx), F.lit(0)) + F.col("c") + 1)
        .cast("bigint").alias("rx2"),
    )
    # --- y ranks: two-phase bucketed cumulative over distinct prices ---
    py = li.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    bounds = py.agg(F.min("y").alias("lo"), F.max("y").alias("hi"))
    B = 256
    bucket = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(B - 1),
            F.floor((F.col("y") - F.col("lo")) / (F.col("hi") - F.col("lo")) * B)
            .cast("int"),
        ),
    ).otherwise(F.lit(0))
    withb = py.crossJoin(F.broadcast(bounds)).select(
        "y", "c", bucket.alias("bucket"))
    per_bucket = withb.groupBy("bucket").agg(F.sum("c").alias("bc"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_base = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("before_bucket"),
    )
    win = (
        Window.partitionBy("bucket").orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ry = (
        withb.join(F.broadcast(bucket_base), "bucket")
        .select(
            "y",
            (
                2 * (F.col("before_bucket")
                     + F.coalesce(F.sum("c").over(win), F.lit(0)))
                + F.col("c") + 1
            ).cast("bigint").alias("ry2"),
        )
    )
    ranked = li.join(F.broadcast(rx), "x").join(ry, "y")
    rx2d = F.col("rx2").cast("decimal(19,0)")
    ry2d = F.col("ry2").cast("decimal(19,0)")
    # Σ2r̄ is n²-magnitude (mean doubled rank ≈ n), so summing the
    # BIGINT rx2/ry2 into a BIGINT overflows int64 once n ≳ 3e9 rows
    # (ANSI Spark aborts the job; non-ANSI wraps silently — dead
    # either way) — lineitem at 100 TB is ~6e11. Same overflow class
    # as the Mann-Whitney rank sum (_rank_sum_2x): promote to decimal
    # BEFORE the aggregate.
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dec_to_double(F.sum(rx2d)).alias("sx"),
        _dec_to_double(F.sum(ry2d)).alias("sy"),
        _dec_to_double(F.sum(rx2d * ry2d)).alias("sxy"),
        _dec_to_double(F.sum(rx2d * rx2d)).alias("sxx"),
        _dec_to_double(F.sum(ry2d * ry2d)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    rho = (nd * F.col("sxy") - sx * sy) / F.sqrt(
        (nd * F.col("sxx") - sx * sx) * (nd * F.col("syy") - sy * sy)
    )
    return m.select("n", F.round(rho, 6).alias("spearman_rho"))


AGG_SPEARMAN_SQL = """
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS x, l_extendedprice AS y FROM lineitem
), px AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY x
), rx AS (
  SELECT x, CAST(2 * COALESCE(SUM(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS BIGINT) AS rx2
  FROM px
), py AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY y
), bounds AS (SELECT MIN(y) AS lo, MAX(y) AS hi FROM py),
withb AS (
  SELECT y, c,
         CASE WHEN hi > lo
              THEN least(255, CAST(floor((y - lo) / (hi - lo) * 256) AS INTEGER))
              ELSE 0 END AS bucket
  FROM py CROSS JOIN bounds
), per_bucket AS (
  SELECT bucket, SUM(c) AS bc FROM withb GROUP BY bucket
), bucket_base AS (
  SELECT bucket, COALESCE(SUM(bc) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS before_bucket
  FROM per_bucket
), ry AS (
  SELECT w.y,
         CAST(2 * (b.before_bucket
               + COALESCE(SUM(w.c) OVER (PARTITION BY w.bucket ORDER BY w.y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               + w.c + 1 AS BIGINT) AS ry2
  FROM withb w JOIN bucket_base b USING (bucket)
), ranked AS (
  SELECT rx.rx2, ry.ry2 FROM li
  JOIN rx ON li.x = rx.x
  JOIN ry ON li.y = ry.y
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx,
         CAST(SUM(ry2) AS BIGINT) AS sy,
         CAST(CAST(SUM(CAST(rx2 AS HUGEINT) * ry2) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(rx2 AS HUGEINT) * rx2) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(ry2 AS HUGEINT) * ry2) AS VARCHAR) AS DOUBLE) AS syy
  FROM ranked
)
SELECT n,
       round((n::DOUBLE * sxy - sx::DOUBLE * sy)
             / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
                    * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6)
         AS spearman_rho
FROM m
"""


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-purchase graph
    — Pearson correlation of endpoint degrees over edges, the one-number
    summary of whether hubs link to hubs (r > 0) or to leaves (r < 0).
    Uses graph_triangle_count's edge set (1-in-20 order sample, distinct
    undirected u < v pairs). Undirected symmetrization sums BOTH
    orientations' moments per edge row (Sx = Σ(du+dv), Sxy = Σ2·du·dv,
    Sxx = Σ(du²+dv²), n = 2|E|) — all exact integers in DECIMAL(38,0),
    r is one fixed expression on the 1-row frame.

    100 TB shape: degree table is one hash-agg on edges; attaching
    degrees is two broadcast joins (the degree frame is |V| rows of two
    ints); moments are one mergeable agg — no global structure
    anywhere."""
    edges = _copurchase_edges(_copurchase_baskets(spark, sf_dir))
    deg = _copurchase_degrees(edges)
    du, dv = deg.alias("du"), deg.alias("dv")
    withd = (
        edges.join(F.broadcast(du), edges.u == F.col("du.node"))
        .join(F.broadcast(dv), edges.v == F.col("dv.node"))
        .select(F.col("du.deg").alias("dx"), F.col("dv.deg").alias("dy"))
    )
    dxd = F.col("dx").cast("decimal(19,0)")
    dyd = F.col("dy").cast("decimal(19,0)")
    m = withd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.col("dx") + F.col("dy")).cast("bigint").alias("sx"),
        _dec_to_double(F.sum(2 * dxd * dyd)).alias("sxy"),
        _dec_to_double(F.sum(dxd * dxd + dyd * dyd)).alias("sxx"),
    )
    n = (2 * F.col("n_edges")).cast("double")
    sx = F.col("sx").cast("double")
    r = (n * F.col("sxy") - sx * sx) / (n * F.col("sxx") - sx * sx)
    return m.select(
        "n_edges",
        F.round(r, 6).alias("assortativity"),
    )


GRAPH_ASSORTATIVITY_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL},
{_COPURCHASE_DEG_SQL},
withd AS (
  SELECT du.deg AS dx, dv.deg AS dy
  FROM edges JOIN deg du ON edges.u = du.node JOIN deg dv ON edges.v = dv.node
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(dx + dy) AS BIGINT) AS sx,
         CAST(CAST(SUM(2 * CAST(dx AS HUGEINT) * dy) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(dx AS HUGEINT) * dx + CAST(dy AS HUGEINT) * dy)
              AS VARCHAR) AS DOUBLE) AS sxx
  FROM withd
)
SELECT n_edges,
       round((2 * n_edges::DOUBLE * sxy - sx::DOUBLE * sx)
             / (2 * n_edges::DOUBLE * sxx - sx::DOUBLE * sx), 6)
         AS assortativity
FROM m
"""


def interval_gap_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user FREE-time gaps — the complement of
    window_interval_coalesce: after merging overlapping busy intervals
    into islands, emit the gap between consecutive islands (prev
    island end → next island start). The pair is the classic
    scheduling/telemetry duo: coalesce answers "when was the system
    busy", gaps answer "when was it free / dark" (outage windows,
    maintenance slots, idle-capacity audits). Island merging
    guarantees gaps are strictly positive and non-adjacent.

    100 TB shape: reuses the coalesce core (two user-keyed windows
    after one hash shuffle), then ONE more lag() over the same
    user-partitioned island frame — no new shuffle (same key), no
    global ordering. Epoch seconds as BIGINT end-to-end."""
    islands = window_interval_coalesce(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("island_id")
    gaps = islands.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("bigint").alias("gap_idx"),
        F.lag("island_end_s").over(w).alias("gap_start_s"),
        F.col("island_start_s").alias("gap_end_s"),
    ).filter(F.col("gap_start_s").isNotNull())
    return gaps.select(
        "user_id", "gap_idx", "gap_start_s", "gap_end_s",
        (F.col("gap_end_s") - F.col("gap_start_s")).cast("bigint")
        .alias("gap_s"),
    )


INTERVAL_GAPS_SQL = f"""
WITH islands AS ({INTERVAL_COALESCE_SQL}),
lagged AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY island_id)
              - 1 AS BIGINT) AS gap_idx,
         lag(island_end_s) OVER (PARTITION BY user_id ORDER BY island_id)
           AS gap_start_s,
         island_start_s AS gap_end_s
  FROM islands
)
SELECT user_id, gap_idx, gap_start_s, gap_end_s,
       CAST(gap_end_s - gap_start_s AS BIGINT) AS gap_s
FROM lagged WHERE gap_start_s IS NOT NULL
"""


# Candidate key sets audited by dq_candidate_keys: the true PK, a
# known-duplicated FK, and three composite candidates of rising
# plausibility. All columns are non-null in the fixture (concat_ws
# would silently merge NULL states otherwise — dq_column_profile is
# the null audit).
_CK_CANDIDATES = (
    ("o_orderkey",),
    ("o_custkey",),
    ("o_custkey", "o_orderdate"),
    ("o_orderpriority", "o_orderdate"),
    ("o_custkey", "o_orderstatus"),
)


def dq_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit — the UNIQUENESS sibling of
    dq_functional_dependency (FDs test determination between columns;
    this tests whether a column SET identifies rows): for each
    candidate set, count rows vs distinct combinations; dup_rows =
    rows − distinct is the violation mass and is_key flags the sets
    that hold. The schema-discovery pass a warehouse runs before
    declaring MERGE keys or bucketing columns.

    100 TB shape: one mergeable two-phase distinct per candidate
    (groupBy the combo key, then a 1-row rollup), unioned — each
    candidate is a single hash-agg over a projected key; no joins, no
    windows. The candidate list is fixed metadata, not data."""
    orders = _t(spark, sf_dir, "orders")
    frames = []
    for cols in _CK_CANDIDATES:
        key = F.concat_ws(
            "\u001f", *[F.col(c).cast("string") for c in cols]
        )
        frames.append(
            orders.select(key.alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.lit("+".join(cols)).alias("candidate"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out.select(
        "candidate", "n_rows", "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).cast("bigint")
        .alias("dup_rows"),
        (F.col("n_rows") == F.col("n_distinct")).alias("is_key"),
    )


def _candidate_keys_sql() -> str:
    selects = []
    for cols in _CK_CANDIDATES:
        key = " || chr(31) || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        name = "+".join(cols)
        selects.append(f"""
  SELECT '{name}' AS candidate,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT {key}) AS BIGINT) AS n_distinct,
         CAST(COUNT(*) - COUNT(DISTINCT {key}) AS BIGINT) AS dup_rows,
         COUNT(*) = COUNT(DISTINCT {key}) AS is_key
  FROM orders""")
    return "\nUNION ALL\n".join(selects)


def analytics_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per calendar month — the BI report behind
    every "up X% YoY" number, done calendar-ALIGNED (January compares
    to last January, not to a trailing window — the seasonality trap
    timeseries_seasonal_residual models, sidestepped by alignment):
    monthly order revenue (decimal-exact sums), self-joined to the
    same month one year earlier, yoy_pct = (rev − prev)/prev.

    100 TB shape: ONE (year, month) hash-agg over the scan (mergeable
    decimal partials), then a self-join on the ~#months-row grid —
    O(observation window), never over raw rows."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
    prev = monthly.select(
        (F.col("y") + 1).alias("y"), F.col("m").alias("m"),
        F.col("revenue").alias("prev_year_revenue"),
    )
    return (
        monthly.join(prev, ["y", "m"], "left")
        .select(
            F.col("y").alias("year"), F.col("m").alias("month"),
            "n_orders", "revenue", "prev_year_revenue",
            F.round(
                (F.col("revenue") - F.col("prev_year_revenue"))
                / F.col("prev_year_revenue"),
                6,
            ).alias("yoy_pct"),
        )
    )


ANALYTICS_YOY_SQL = f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         {sql_dsum("o_totalprice")} AS revenue
  FROM orders GROUP BY 1, 2
)
SELECT c.y AS year, c.m AS month, c.n_orders, c.revenue,
       p.revenue AS prev_year_revenue,
       round((c.revenue - p.revenue) / p.revenue, 6) AS yoy_pct
FROM monthly c LEFT JOIN monthly p ON p.y = c.y - 1 AND p.m = c.m
"""


_GAP_BUCKET = 4096


def dq_key_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-key gap audit — "is this surrogate key dense, and
    where are the holes?" (dropped loads, purged ranges, generator
    skips): over DISTINCT o_orderkey values, count the gaps between
    consecutive keys, their total missing mass, and the largest hole.
    The invariant missing_total = (max − min + 1) − n_keys is asserted
    by the spec test — the audit must balance to the closed form.

    100 TB shape: the dataset_shuffle_shards two-phase recipe — keys
    reduce to value-range buckets (floor(key/4096)); consecutive-key
    lag runs WITHIN each bucket partition, and the cross-bucket
    boundary gaps come from a lag over the per-bucket (min, max) frame
    (O(#buckets) rows, waived) — no global ordering over raw keys."""
    keys = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    b = F.floor(F.col("k") / _GAP_BUCKET).alias("b")
    kb = keys.select("k", b)
    w_in = Window.partitionBy("b").orderBy("k")
    within = kb.select(
        (F.col("k") - F.lag("k").over(w_in) - 1).alias("g")
    ).filter(F.col("g").isNotNull())
    per_bucket = kb.groupBy("b").agg(
        F.min("k").alias("mn"), F.max("k").alias("mx")
    )
    w_b = Window.orderBy("b")
    boundary = per_bucket.select(
        (F.col("mn") - F.lag("mx").over(w_b) - 1).alias("g")
    ).filter(F.col("g").isNotNull())
    gaps = within.unionAll(boundary)
    gap_stats = gaps.agg(
        F.sum((F.col("g") > 0).cast("long")).cast("bigint").alias("n_gaps"),
        F.sum("g").cast("bigint").alias("missing_total"),
        F.max("g").cast("bigint").alias("max_gap"),
    ).select(F.lit("g").alias("t"), "n_gaps", "missing_total", "max_gap")
    key_stats = keys.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.min("k").cast("bigint").alias("key_min"),
        F.max("k").cast("bigint").alias("key_max"),
    ).select(F.lit("k").alias("t"), "n_keys", "key_min", "key_max")
    # tagged union (the graph_triangle_count move — no 1-row crossJoin)
    tagged = key_stats.unionByName(
        gap_stats.select(
            "t",
            F.col("n_gaps").alias("n_keys"),
            F.col("missing_total").alias("key_min"),
            F.col("max_gap").alias("key_max"),
        )
    )
    # gap aggregates coalesce to 0 so a dense key space reads "0 gaps"
    # unambiguously (NULL would make the balance invariant
    # missing_total = (max-min+1) - n_keys unverifiable)
    zero = F.lit(0).cast("bigint")
    return tagged.agg(
        F.max(F.when(F.col("t") == "k", F.col("n_keys"))).alias("n_keys"),
        F.max(F.when(F.col("t") == "k", F.col("key_min"))).alias("key_min"),
        F.max(F.when(F.col("t") == "k", F.col("key_max"))).alias("key_max"),
        F.coalesce(
            F.max(F.when(F.col("t") == "g", F.col("n_keys"))), zero
        ).alias("n_gaps"),
        F.coalesce(
            F.max(F.when(F.col("t") == "g", F.col("key_min"))), zero
        ).alias("missing_total"),
        F.coalesce(
            F.max(F.when(F.col("t") == "g", F.col("key_max"))), zero
        ).alias("max_gap"),
    )


DQ_KEY_GAP_SQL = f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
kb AS (SELECT k, CAST(floor(k / {_GAP_BUCKET}) AS BIGINT) AS b FROM keys),
within AS (
  SELECT k - lag(k) OVER (PARTITION BY b ORDER BY k) - 1 AS g FROM kb
), per_bucket AS (
  SELECT b, MIN(k) AS mn, MAX(k) AS mx FROM kb GROUP BY b
), boundary AS (
  SELECT mn - lag(mx) OVER (ORDER BY b) - 1 AS g FROM per_bucket
), gaps AS (
  SELECT g FROM within WHERE g IS NOT NULL
  UNION ALL SELECT g FROM boundary WHERE g IS NOT NULL
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS n_keys,
       (SELECT CAST(MIN(k) AS BIGINT) FROM keys) AS key_min,
       (SELECT CAST(MAX(k) AS BIGINT) FROM keys) AS key_max,
       COALESCE(CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT),
                0) AS n_gaps,
       COALESCE(CAST(SUM(g) AS BIGINT), 0) AS missing_total,
       COALESCE(CAST(MAX(g) AS BIGINT), 0) AS max_gap
FROM gaps
"""


_CLUSTCOEF_K = 20


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient — Watts-Strogatz's "are my
    neighbors neighbors of each other": c(v) = 2·T(v) / (d(v)·(d(v)−1))
    on the part co-purchase graph (graph_triangle_count's edge set and
    degree-oriented wedge machinery; each triangle increments all three
    corners' T). Top-20 by (coefficient, triangle count, node) — the
    tightly-knit-neighborhood probe between triangle COUNTING (global)
    and community detection (labels).

    100 TB shape: identical to the triangle entry (orientation bounds
    wedge fan-out by out-degree), plus one 3-way corner explode of the
    triangle rows and a node hash-agg; the report is TakeOrdered k."""
    edges = _copurchase_edges(_copurchase_baskets(spark, sf_dir))
    deg = _copurchase_degrees(edges)
    oriented = _copurchase_oriented(edges, deg)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.src") == F.col("e2.src"))
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("s"),
            F.col("e1.dst").alias("x"),
            F.col("e2.dst").alias("y"),
        )
    )
    closing = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    ).distinct()
    tri = wedges.join(closing, ["x", "y"])
    corners = (
        tri.select(F.col("s").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    coef = (
        deg.join(corners, "node", "left")
        .withColumn(
            "n_triangles",
            F.coalesce("n_triangles", F.lit(0).cast("bigint")),
        )
        .filter(F.col("deg") >= 2)
        .select(
            "node", "deg", "n_triangles",
            F.round(
                2 * F.col("n_triangles").cast("double")
                / (F.col("deg").cast("double") * (F.col("deg") - 1)),
                6,
            ).alias("clustering_coef"),
        )
    )
    return coef.orderBy(
        F.desc("clustering_coef"), F.desc("n_triangles"), F.asc("node")
    ).limit(_CLUSTCOEF_K)


GRAPH_CLUSTCOEF_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL},
{_COPURCHASE_DEG_SQL},
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS dst
  FROM edges JOIN deg du ON edges.u = du.node JOIN deg dv ON edges.v = dv.node
),
wedges AS (
  SELECT e1.src AS s, e1.dst AS x, e2.dst AS y
  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
closing AS (
  SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y FROM oriented
),
tri AS (
  SELECT w.s, w.x, w.y FROM wedges w JOIN closing c ON c.x = w.x AND c.y = w.y
),
corners AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT s AS node FROM tri
    UNION ALL SELECT x FROM tri
    UNION ALL SELECT y FROM tri
  ) GROUP BY node
)
SELECT d.node, d.deg,
       COALESCE(c.n_triangles, 0) AS n_triangles,
       round(2 * COALESCE(c.n_triangles, 0)::DOUBLE
             / (d.deg::DOUBLE * (d.deg - 1)), 6) AS clustering_coef
FROM deg d LEFT JOIN corners c ON c.node = d.node
WHERE d.deg >= 2
ORDER BY clustering_coef DESC, n_triangles DESC, d.node ASC
LIMIT {_CLUSTCOEF_K}
"""


_APRIORI_MIN_SUPPORT = 2
_APRIORI_K = 20


def analytics_apriori_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair association mining (the 2-itemset slice of
    Apriori) on the sampled co-purchase baskets — support, confidence
    and lift per part pair, the market-basket report behind
    "customers who bought X also bought Y". basket_brand_lift measures
    ONE planted brand pair; this mines ALL pairs above min support and
    ranks the top-20 by lift (exact integer supports; two divisions at
    the end). Anti-monotone pruning is structural: pairs are generated
    only from items co-present in a basket, and the support filter
    runs before any scoring.

    100 TB shape: pair generation is bounded per basket (TPC-H orders
    have ≤ 7 lines); supports are two mergeable hash-aggs (item, pair);
    item supports broadcast back onto the pair frame; the report is
    TakeOrdered k."""
    li = _copurchase_baskets(spark, sf_dir)
    nb = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("nb"))
    a, bb = li.alias("a"), li.alias("b")
    pairs = (
        a.join(bb, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support_xy"))
        .filter(F.col("support_xy") >= _APRIORI_MIN_SUPPORT)
    )
    items = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("support")
    )
    ia, ib = items.alias("ia"), items.alias("ib")
    scored = (
        pairs.join(F.broadcast(ia), pairs.x == F.col("ia.item"))
        .join(F.broadcast(ib), pairs.y == F.col("ib.item"))
        .crossJoin(F.broadcast(nb))
        .select(
            "x", "y", "support_xy",
            F.col("ia.support").alias("support_x"),
            F.col("ib.support").alias("support_y"),
            F.round(
                F.col("support_xy").cast("double") / F.col("ia.support"),
                6,
            ).alias("confidence_x_to_y"),
            F.round(
                F.col("support_xy").cast("double") * F.col("nb")
                / (F.col("ia.support").cast("double") * F.col("ib.support")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.desc("support_xy"), F.asc("x"), F.asc("y")
    ).limit(_APRIORI_K)


APRIORI_PAIRS_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0
), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li),
pairs AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y,
         CAST(COUNT(*) AS BIGINT) AS support_xy
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_APRIORI_MIN_SUPPORT}
), items AS (
  SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS support
  FROM li GROUP BY 1
)
SELECT p.x, p.y, p.support_xy,
       ia.support AS support_x, ib.support AS support_y,
       round(p.support_xy::DOUBLE / ia.support, 6) AS confidence_x_to_y,
       round(p.support_xy::DOUBLE * (SELECT n_baskets FROM n)
             / (ia.support::DOUBLE * ib.support), 6) AS lift
FROM pairs p
JOIN items ia ON p.x = ia.item
JOIN items ib ON p.y = ib.item
ORDER BY lift DESC, support_xy DESC, x ASC, y ASC
LIMIT {_APRIORI_K}
"""


_ROLLREG_W = 24  # trailing observations per regression window


def timeseries_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares TREND per event type — the windowed
    sibling of agg_regression_stats (global fit) and timeseries_ewma
    (level smoothing): over each type's hourly micro-unit series,
    the slope of value-vs-time across the trailing 24 OBSERVATIONS
    (ROWS frame — gaps make it 24 observations, not 24 hours;
    documented). The classic cancellation trap is real here — epoch-
    hour x values make n·Σxx and (Σx)² agree to ~2 digits — so BOTH
    numerator and denominator accumulate as exact BIGINTs inside the
    frame and the slope is ONE double division; engines agree
    bit-for-bit.

    100 TB shape: one (type, hour) hash-agg builds the series, then
    four windowed integer sums over type-keyed partitions — per-key
    sorts after one shuffle, no global ordering."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    U = 1_000_000
    series = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .cast("bigint").alias("hour_s"),
    ).agg(
        F.sum(F.floor(F.col("value") * U).cast("long"))
        .cast("bigint").alias("y")
    ).select(
        "event_type", "hour_s",
        (F.col("hour_s") / 3600).cast("bigint").alias("x"), "y",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(-(_ROLLREG_W - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    num = n * sxy - sx * sy          # exact BIGINT arithmetic
    den = n * sxx - sx * sx
    out = series.select(
        "event_type", "hour_s",
        n.alias("n_obs"),
        num.alias("num"), den.alias("den"), sy.alias("sy"),
    ).filter(F.col("n_obs") == _ROLLREG_W)
    return out.select(
        "event_type", "hour_s",
        F.round(
            F.col("num").cast("double") / F.col("den") / U, 6
        ).alias("slope_per_hour"),
        F.round(F.col("sy").cast("double") / _ROLLREG_W / U, 6)
        .alias("window_mean"),
    )


TIMESERIES_ROLLREG_SQL = f"""
WITH series AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
         CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), xy AS (
  SELECT event_type, hour_s, CAST(hour_s // 3600 AS BIGINT) AS x, y
  FROM series
), win AS (
  SELECT event_type, hour_s,
         COUNT(*) OVER wf AS n_obs,
         SUM(x) OVER wf AS sx, SUM(y) OVER wf AS sy,
         SUM(x * y) OVER wf AS sxy, SUM(x * x) OVER wf AS sxx
  FROM xy
  WINDOW wf AS (PARTITION BY event_type ORDER BY hour_s
                ROWS BETWEEN {_ROLLREG_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, hour_s,
       round(CAST(n_obs * sxy - sx * sy AS DOUBLE)
             / (n_obs * sxx - sx * sx) / 1000000, 6) AS slope_per_hour,
       round(CAST(sy AS DOUBLE) / {_ROLLREG_W} / 1000000, 6)
         AS window_mean
FROM win WHERE n_obs = {_ROLLREG_W}
"""


# Bitemporal probes: (valid-time cut, transaction-seq fraction of max
# orderkey). Fractions, not literals, so the probe set is meaningful
# at every SF.
_BT_PROBES = (
    ("1996-06-30", 0.25),
    ("1997-12-31", 0.50),
    ("1999-06-30", 0.75),
    ("2001-12-31", 1.00),
)


def join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal AS-OF — the two-axis generalization of
    join_pointintime_scd2 (valid time only) and cdc_apply_changelog
    (transaction order only): for each probe (valid-time V, known-by
    transaction cut T), reconstruct what the dimension LOOKED LIKE to
    the system at T for business time V — the active version per
    customer is the max-(valid_from, seq) change among those with
    valid_from ≤ V AND seq ≤ T. Late-arriving history (a change
    recorded after T for an earlier valid date) is correctly invisible
    — the audit/backtest semantics temporal databases call
    "AS OF SYSTEM TIME ... FOR BUSINESS TIME AS OF ...".

    100 TB shape: ×4 bounded probe explode on the change scan + ONE
    (probe, key) max_by hash-agg + a #probes-row rollup; the 1-row
    max-seq attach is waived. No windows, no self-joins."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("valid_from"),
    )
    bounds = o.agg(F.max("seq").alias("mx"))
    probes = F.array(*[
        F.struct(
            F.lit(i).alias("probe_id"),
            F.lit(v).alias("valid_cut"),
            F.lit(frac).alias("tx_frac"),
        )
        for i, (v, frac) in enumerate(_BT_PROBES)
    ])
    exploded = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            "key", "seq", "price", "valid_from", "mx",
            F.explode(probes).alias("p"),
        )
        .select(
            "key", "seq", "price", "valid_from",
            F.col("p.probe_id").cast("bigint").alias("probe_id"),
            F.col("p.valid_cut").alias("valid_cut"),
            F.col("p.tx_frac").alias("tx_frac"),
            F.floor(F.col("mx") * F.col("p.tx_frac")).cast("bigint")
            .alias("tx_cut"),
        )
        .filter(
            (F.col("valid_from") <= F.col("valid_cut").cast("timestamp"))
            & (F.col("seq") <= F.col("tx_cut"))
        )
    )
    # composite (valid_from, seq) order packed into ONE comparable
    # BIGINT (epoch-seconds * 1e7 + seq). Lexicographic packing only
    # needs seq < 8.64e11: valid_from steps in whole days, so distinct
    # epoch-seconds differ by >= 86400, i.e. packed keys by >= 8.64e11
    # — far above any TPC-H orderkey-derived seq (6e6 * SF). The spec
    # test asserts max(seq) < 8.64e11 so a finer-grained timestamp
    # fixture cannot silently break the packing. DuckDB's max_by has
    # no struct ordering, hence the scalar key.
    ordkey = (
        F.unix_timestamp("valid_from").cast("bigint") * 10_000_000
        + F.col("seq")
    )
    active = exploded.groupBy("probe_id", "valid_cut", "tx_frac", "key").agg(
        F.max_by(F.col("price"), ordkey).alias("price")
    )
    return active.groupBy("probe_id", "valid_cut", "tx_frac").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.round(
            _dec_to_double(
                F.sum(F.col("price").cast("decimal(18,4)"))
            ) / F.count(F.lit(1)),
            6,
        ).alias("avg_price"),
    )


def _bitemporal_sql() -> str:
    probes = "\nUNION ALL\n".join(
        f"  SELECT CAST({i} AS BIGINT) AS probe_id, '{v}' AS valid_cut, "
        f"CAST({frac} AS DOUBLE) AS tx_frac"
        for i, (v, frac) in enumerate(_BT_PROBES)
    )
    return f"""
WITH probes AS (
{probes}
), bounds AS (SELECT MAX(o_orderkey) AS mx FROM orders),
exploded AS (
  SELECT o.o_custkey AS key, o.o_orderkey AS seq,
         o.o_totalprice AS price, o.o_orderdate AS valid_from,
         p.probe_id, p.valid_cut, p.tx_frac,
         CAST(floor(b.mx * p.tx_frac) AS BIGINT) AS tx_cut
  FROM orders o CROSS JOIN bounds b CROSS JOIN probes p
  WHERE o.o_orderdate <= CAST(p.valid_cut AS TIMESTAMP)
    AND o.o_orderkey <= CAST(floor(b.mx * p.tx_frac) AS BIGINT)
), active AS (
  SELECT probe_id, valid_cut, tx_frac, key,
         max_by(price, CAST(floor(epoch(valid_from)) AS BIGINT)
                       * 10000000 + seq) AS price
  FROM exploded GROUP BY 1, 2, 3, 4
)
SELECT probe_id, valid_cut, tx_frac,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       round(CAST(CAST(SUM(CAST(price AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_price
FROM active GROUP BY 1, 2, 3
"""


def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR interpolation — the between-neighbors sibling
    of timeseries_gapfill's LOCF (forward-fill repeats the last
    reading; interpolation draws the line to the NEXT one — the right
    call for sampled physical measurements vs. state variables): on
    the same per-type hourly spine, missing hours get
    v = prev + (next − prev)·(h − h_prev)/(h_next − h_prev); leading/
    trailing gaps (no neighbor on one side) stay NULL, flagged by
    fill_kind ∈ (observed, interpolated, edge).

    Determinism: observed sums are decimal-exact (dsum); the
    interpolation is ONE fixed expression over two string-hopped
    doubles and exact integer hour distances — identical cross-engine.
    100 TB shape: spine = hours × types (generated from the grouped
    min/max, independent of event count); neighbor lookups are four
    last/first(ignorenulls) windows over type partitions — one
    shuffle."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    hourly = ev.groupBy(hour.alias("hour_s"), "event_type").agg(
        dsum("value").alias("v")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_s").alias("h0"), F.max("hour_s").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.lit(3600))
            ).alias("hour_s"),
        )
    )
    grid = spine.join(hourly, ["event_type", "hour_s"], "left")
    w_prev = (
        Window.partitionBy("event_type").orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("event_type").orderBy("hour_s")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    prev_v = F.last("v", ignorenulls=True).over(w_prev)
    next_v = F.first("v", ignorenulls=True).over(w_next)
    prev_h = F.last(
        F.when(F.col("v").isNotNull(), F.col("hour_s")), ignorenulls=True
    ).over(w_prev)
    next_h = F.first(
        F.when(F.col("v").isNotNull(), F.col("hour_s")), ignorenulls=True
    ).over(w_next)
    interp = prev_v + (next_v - prev_v) * (
        (F.col("hour_s") - prev_h).cast("double")
        / (next_h - prev_h).cast("double")
    )
    filled = grid.select(
        "event_type", "hour_s",
        F.when(F.col("v").isNotNull(), F.round(F.col("v"), 6))
        .when(
            prev_v.isNotNull() & next_v.isNotNull(), F.round(interp, 6)
        )
        .alias("value"),
        F.when(F.col("v").isNotNull(), F.lit("observed"))
        .when(
            prev_v.isNotNull() & next_v.isNotNull(), F.lit("interpolated")
        )
        .otherwise(F.lit("edge")).alias("fill_kind"),
    )
    return filled


TIMESERIES_INTERP_SQL = f"""
WITH hourly AS (
  SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS hour_s,
         event_type, {sql_dsum("value")} AS v
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(hour_s) AS h0, MAX(hour_s) AS h1
  FROM hourly GROUP BY event_type
), spine AS (
  SELECT event_type,
         CAST(unnest(generate_series(h0, h1, 3600)) AS BIGINT) AS hour_s
  FROM bounds
), grid AS (
  SELECT s.event_type, s.hour_s, h.v
  FROM spine s LEFT JOIN hourly h USING (event_type, hour_s)
), nb AS (
  SELECT event_type, hour_s, v,
         last_value(v IGNORE NULLS) OVER wp AS prev_v,
         first_value(v IGNORE NULLS) OVER wn AS next_v,
         last_value(CASE WHEN v IS NOT NULL THEN hour_s END IGNORE NULLS)
           OVER wp AS prev_h,
         first_value(CASE WHEN v IS NOT NULL THEN hour_s END IGNORE NULLS)
           OVER wn AS next_h
  FROM grid
  WINDOW wp AS (PARTITION BY event_type ORDER BY hour_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY event_type ORDER BY hour_s
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour_s,
       CASE WHEN v IS NOT NULL THEN round(v, 6)
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
            THEN round(prev_v + (next_v - prev_v)
                       * (CAST(hour_s - prev_h AS DOUBLE)
                          / CAST(next_h - prev_h AS DOUBLE)), 6)
       END AS value,
       CASE WHEN v IS NOT NULL THEN 'observed'
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
            THEN 'interpolated'
            ELSE 'edge' END AS fill_kind
FROM nb
"""


# Category-set drift snapshots: same split as dq_distribution_drift
# (orders through 1997 vs later) but auditing the CATEGORY SETS, not
# the distribution shape.
def dq_value_set_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-set drift audit — the SCHEMA-of-values companion to
    dq_distribution_drift (PSI) and dq_chi2_categorical_drift (shape):
    those two compare frequencies over a SHARED category set; this one
    audits the set itself — which (clerk-bucket, priority) categories
    are NEW in the recent snapshot, which VANISHED, which persist —
    the first question when a upstream enum or producer version
    changes. Full-outer join of the two snapshots' distinct category
    counts; one row per category with its status.

    100 TB shape: one conditional-count hash-agg per category key
    (both snapshots in a single scan pass), category-set-sized output
    — raw rows touched once, no windows."""
    o = _t(spark, sf_dir, "orders")
    snap = F.when(
        F.year("o_orderdate") <= 1997, F.lit("a")
    ).otherwise(F.lit("b"))
    cat = F.concat_ws(
        "|", F.col("o_orderpriority"), F.col("o_orderstatus")
    )
    cells = o.select(snap.alias("snap"), cat.alias("category")).groupBy(
        "category"
    ).agg(
        F.sum(F.when(F.col("snap") == "a", 1).otherwise(0))
        .cast("bigint").alias("n_old"),
        F.sum(F.when(F.col("snap") == "b", 1).otherwise(0))
        .cast("bigint").alias("n_new"),
    )
    status = (
        F.when((F.col("n_old") > 0) & (F.col("n_new") > 0), "persisting")
        .when(F.col("n_old") > 0, "vanished")
        .otherwise("new")
    )
    return cells.select("category", "n_old", "n_new", status.alias("status"))


DQ_VALUE_SET_DRIFT_SQL = """
WITH cells AS (
  SELECT o_orderpriority || '|' || o_orderstatus AS category,
         CAST(SUM(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN year(o_orderdate) > 1997 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new
  FROM orders GROUP BY 1
)
SELECT category, n_old, n_new,
       CASE WHEN n_old > 0 AND n_new > 0 THEN 'persisting'
            WHEN n_old > 0 THEN 'vanished'
            ELSE 'new' END AS status
FROM cells
"""


_THEIL_K = 64
_THEIL_EPOCH = 1_704_067_200  # 2024-01-01 UTC — fixed x origin for OLS


def agg_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope per event type — the median of all
    pairwise slopes, the estimator that shrugs off the outliers OLS
    chases (breakdown point 29%): value-vs-time trend over a
    deterministic K-point skeleton per type, reported next to the OLS
    slope on the SAME points so the robust-vs-classical gap is visible
    in one row. Pairwise slopes are exact double divisions; the median
    is linear-interpolated identically in both engines; OLS uses the
    decimal-moment recipe (agg_regression_stats).

    100 TB shape: Theil-Sen is inherently O(n²) in pairs, so the
    skeleton IS the algorithm: the first K = 64 points per type
    (row_number over a type-partitioned window — never global) bound
    the self-join at C(K,2) = 2016 pairs per type at ANY corpus
    scale. The textbook alternative — all-pairs over raw rows — is
    the kind of plan the no-cartesian gate exists to catch."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("es", "event_id")
    pts = (
        ev.select(
            "event_type", "event_id",
            F.unix_timestamp("ts").alias("es"),
            "value",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _THEIL_K)
    )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.rn") < F.col("b.rn"))
            & (F.col("a.es") != F.col("b.es")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.round(
                (F.col("b.value") - F.col("a.value"))
                / (F.col("b.es") - F.col("a.es")).cast("double"),
                12,
            ).alias("slope"),
        )
    )
    ts_med = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 9).alias("theil_sen_slope"),
    )
    # OLS x is epoch-seconds SHIFTED to a fixed origin: the slope is
    # translation-invariant, and the shift keeps x^2 inside a narrow
    # decimal (raw epoch^2 overflows DECIMAL(18) on the oracle side)
    x = (F.col("es") - _THEIL_EPOCH).cast("decimal(14,0)")
    y = F.col("value").cast("decimal(18,4)")
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        dsum_dec(x).alias("sx"),
        dsum_dec(y).alias("sy"),
        dsum_dec(x * y).alias("sxy"),
        dsum_dec(x * x).alias("sxx"),
    )
    nd = F.col("n_points").cast("double")
    ols = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        m.join(ts_med, "event_type")
        .select(
            "event_type", "n_points", "n_pairs", "theil_sen_slope",
            F.round(ols, 9).alias("ols_slope"),
        )
    )


AGG_THEIL_SEN_SQL = f"""
WITH pts AS (
  SELECT event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY floor(epoch(ts)), event_id) AS rn
  FROM events
  QUALIFY rn <= {_THEIL_K}
), pairs AS (
  SELECT a.event_type,
         round((b.value - a.value) / CAST(b.es - a.es AS DOUBLE), 12)
           AS slope
  FROM pts a JOIN pts b
    ON a.event_type = b.event_type AND a.rn < b.rn AND a.es <> b.es
), med AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         round(quantile_cont(slope, 0.5), 9) AS theil_sen_slope
  FROM pairs GROUP BY 1
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
    {sql_dsum_dec(f"CAST(es - {_THEIL_EPOCH} AS DECIMAL(14,0))")} AS sx,
    {sql_dsum_dec("CAST(value AS DECIMAL(18,4))")} AS sy,
    {sql_dsum_dec(f"CAST(es - {_THEIL_EPOCH} AS DECIMAL(14,0))"
                  " * CAST(value AS DECIMAL(18,4))")} AS sxy,
    {sql_dsum_dec(f"CAST(es - {_THEIL_EPOCH} AS DECIMAL(14,0))"
                  f" * CAST(es - {_THEIL_EPOCH} AS DECIMAL(14,0))")} AS sxx
  FROM pts GROUP BY 1
)
SELECT m.event_type, n_points, n_pairs, theil_sen_slope,
       round((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 9)
         AS ols_slope
FROM m JOIN med USING (event_type)
"""


def timeseries_changepoint_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection by binary segmentation: per event
    type, the hourly-mean series split that maximizes the
    between-segment SSE reduction gain(t) = S_L²/n_L + S_R²/n_R − S²/n
    (the CUSUM/binary-segmentation objective — the first step of every
    recursive change-point algorithm, and the level-shift detector a
    metrics monitor runs per series). Reports the argmax split with
    segment means.

    Determinism: hourly means are decimal-sum averages rounded to 6;
    prefix sums run over DECIMAL in identical hr order on both
    engines; the gain is then identical double arithmetic, rounded,
    and the argmax carries a total tie order (gain DESC, hr ASC).

    100 TB shape: one (type, hour) mergeable pre-aggregate collapses
    the raw stream to bounded series; prefix sums and the argmax are
    type-partitioned windows over those ≤ |hours| rows — the
    rollup-then-window discipline, never a window over raw events."""
    ev = _t(spark, sf_dir, "events")
    hr = (F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = (
        ev.groupBy("event_type", hr.alias("hr"))
        .agg(
            F.round(
                _dec_to_double(F.sum(F.col("value").cast("decimal(18,4)")))
                / F.count(F.lit(1)),
                6,
            ).alias("yv"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    dec = "decimal(20,6)"
    pre = (
        hourly.withColumn("idx", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cum_s",
            _dec_to_double(
                F.sum(F.col("yv").cast(dec)).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
            ),
        )
    )
    tot = pre.groupBy("event_type").agg(
        F.max("idx").alias("n_hours"),
        F.max_by("cum_s", "idx").alias("s_total"),
    )
    g = (
        pre.join(F.broadcast(tot), "event_type")
        .filter(F.col("idx") < F.col("n_hours"))
        .select(
            "event_type", "hr", "idx", "n_hours",
            F.round(
                F.col("cum_s") * F.col("cum_s") / F.col("idx")
                + (F.col("s_total") - F.col("cum_s"))
                * (F.col("s_total") - F.col("cum_s"))
                / (F.col("n_hours") - F.col("idx"))
                - F.col("s_total") * F.col("s_total") / F.col("n_hours"),
                9,
            ).alias("gain"),
            F.round(F.col("cum_s") / F.col("idx"), 6).alias("mean_before"),
            F.round(
                (F.col("s_total") - F.col("cum_s"))
                / (F.col("n_hours") - F.col("idx")),
                6,
            ).alias("mean_after"),
        )
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.desc("gain"), F.asc("hr")
    )
    return (
        g.withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type", "n_hours",
            F.col("hr").alias("split_last_left_hr"),
            "mean_before", "mean_after", "gain",
        )
    )


TIMESERIES_CHANGEPOINT_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*), 6) AS yv
  FROM events GROUP BY 1, 2
), pre AS (
  SELECT event_type, hr,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS idx,
         CAST(CAST(SUM(CAST(yv AS DECIMAL(20,6))) OVER
                   (w ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
           AS cum_s
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr)
), tot AS (
  SELECT event_type, MAX(idx) AS n_hours,
         max_by(cum_s, idx) AS s_total
  FROM pre GROUP BY 1
), g AS (
  SELECT p.event_type, p.hr, p.idx, t.n_hours,
         round(p.cum_s * p.cum_s / p.idx
               + (t.s_total - p.cum_s) * (t.s_total - p.cum_s)
                 / (t.n_hours - p.idx)
               - t.s_total * t.s_total / t.n_hours, 9) AS gain,
         round(p.cum_s / p.idx, 6) AS mean_before,
         round((t.s_total - p.cum_s) / (t.n_hours - p.idx), 6) AS mean_after
  FROM pre p JOIN tot t USING (event_type)
  WHERE p.idx < t.n_hours
)
SELECT event_type, n_hours, hr AS split_last_left_hr,
       mean_before, mean_after, gain
FROM g
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY gain DESC, hr ASC) = 1
"""


def analytics_interval_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-to-calendar-month proration — the billing/allocation
    primitive "split each interval's days across the months it
    touches" (usage metering, revenue recognition, capacity
    accounting): each lineitem carries a deterministic transit
    interval [shipdate, shipdate + (7·orderkey + linenumber) % 45 + 5
    days]; per (month, returnflag): intervals touching the month and
    exact in-month day counts. No range join anywhere — the interval
    EXPLODES to the ≤ 3 months it overlaps via sequence(), turning a
    nonequi problem into a bounded generate + one mergeable hash-agg
    (the same move as the as-of family's bucketed probes).

    100 TB shape: bounded per-row explode (interval length caps the
    fan-out), one (month, flag) hash-agg; all exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    ship = F.to_date("l_shipdate")
    dur = ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 45 + 5)
    endd = F.date_add(ship, dur.cast("int"))
    rows = li.select(
        "l_returnflag",
        ship.alias("ship"),
        endd.alias("endd"),
        F.explode(
            F.sequence(
                F.trunc(ship, "MM"), F.trunc(endd, "MM"),
                F.expr("interval 1 month"),
            )
        ).alias("m"),
    )
    overlap = (
        F.datediff(
            F.least(F.col("endd"), F.last_day(F.col("m"))),
            F.greatest(F.col("ship"), F.col("m")),
        )
        + 1
    )
    return (
        rows.groupBy(
            F.date_format("m", "yyyy-MM").alias("month"), "l_returnflag"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum(overlap.cast("long")).cast("bigint").alias("days_in_month"),
        )
    )


ANALYTICS_INTERVAL_PRORATION_SQL = """
WITH iv AS (
  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS ship,
         CAST(l_shipdate AS DATE)
           + CAST(((l_orderkey * 7 + l_linenumber) % 45 + 5) AS INTEGER)
           AS endd
  FROM lineitem
), ex AS (
  SELECT l_returnflag, ship, endd, CAST(m AS DATE) AS m
  FROM iv, UNNEST(generate_series(date_trunc('month', ship),
                                  date_trunc('month', endd),
                                  INTERVAL 1 MONTH)) AS t(m)
)
SELECT strftime(m, '%Y-%m') AS month, l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(date_diff('day', greatest(ship, m),
                          least(endd, last_day(m))) + 1) AS BIGINT)
         AS days_in_month
FROM ex
GROUP BY 1, 2
"""


def analytics_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per month — "how many orders were
    simultaneously open" (capacity planning, license sizing, staffing):
    each order opens at o_orderdate and closes after a deterministic
    (o_orderkey % 20 + 3)-day fulfillment window (half-open [open,
    close)); per month: the month's peak concurrent count, open/close
    event counts, and the carry-in level.

    The scale idiom is the TWO-PHASE GLOBAL PREFIX SUM: a single
    time-ordered ±1 sweep would serialize the whole corpus through one
    partition, so the sweep runs WITHIN month partitions and the
    cross-month baseline arrives as a carry-in — each month's net
    open−close delta rolls up to one row, and a window over that
    O(#months) frame (scale-independent, waived) accumulates the
    starting level, exactly the dq_key_gap_audit bucket-boundary
    move. Peak(month) = carry_in + max(0, max running sum within the
    month); ties at the same timestamp process closes before opens
    (half-open intervals), tie-broken deterministically by order key."""
    o = _t(spark, sf_dir, "orders")
    open_d = F.to_date("o_orderdate")
    dur = (F.col("o_orderkey") % 20 + 3).cast("int")
    iv = o.select(
        "o_orderkey", open_d.alias("od"), F.date_add(open_d, dur).alias("cd")
    )
    bounds = iv.select(
        F.col("od").alias("t"), F.lit(1).alias("delta"), "o_orderkey"
    ).unionAll(
        iv.select(
            F.col("cd").alias("t"), F.lit(-1).alias("delta"), "o_orderkey"
        )
    ).withColumn("m", F.date_format(F.trunc("t", "MM"), "yyyy-MM"))
    w_in = (
        Window.partitionBy("m")
        .orderBy("t", "delta", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = bounds.withColumn("run", F.sum("delta").over(w_in))
    per_month = run.groupBy("m").agg(
        F.max("run").cast("bigint").alias("max_run"),
        F.sum("delta").cast("bigint").alias("net"),
        F.sum((F.col("delta") == 1).cast("long")).cast("bigint")
        .alias("n_opens"),
        F.sum((F.col("delta") == -1).cast("long")).cast("bigint")
        .alias("n_closes"),
    )
    w_m = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_month.withColumn(
            "carry_in", (F.sum("net").over(w_m) - F.col("net")).cast("bigint")
        )
        .select(
            F.col("m").alias("month"), "n_opens", "n_closes", "carry_in",
            (F.col("carry_in")
             + F.greatest(F.col("max_run"), F.lit(0).cast("bigint")))
            .cast("bigint").alias("peak_concurrency"),
        )
    )


ANALYTICS_PEAK_CONCURRENCY_SQL = """
WITH iv AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         CAST(o_orderdate AS DATE)
           + CAST((o_orderkey % 20 + 3) AS INTEGER) AS cd
  FROM orders
), bounds AS (
  SELECT od AS t, 1 AS delta, o_orderkey FROM iv
  UNION ALL
  SELECT cd AS t, -1 AS delta, o_orderkey FROM iv
), marked AS (
  SELECT t, delta, o_orderkey, strftime(date_trunc('month', t), '%Y-%m') AS m
  FROM bounds
), run AS (
  SELECT m, delta,
         SUM(delta) OVER (PARTITION BY m ORDER BY t, delta, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
), per_month AS (
  SELECT m, CAST(MAX(run) AS BIGINT) AS max_run,
         CAST(SUM(delta) AS BIGINT) AS net,
         CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_opens,
         CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_closes
  FROM run GROUP BY m
)
SELECT m AS month, n_opens, n_closes,
       CAST(SUM(net) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) - net
            AS BIGINT) AS carry_in,
       CAST(SUM(net) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) - net
            + greatest(max_run, 0) AS BIGINT) AS peak_concurrency
FROM per_month
"""


def _arr_median(c):
    """Exact median of a double array column — sort, pick middle (odd)
    or average the two middles (even). Identical IEEE arithmetic in
    both engines."""
    s = F.sort_array(c)
    n = F.size(c)
    return F.when(
        n % 2 == 1, F.element_at(s, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(s, (n / 2).cast("int"))
            + F.element_at(s, (n / 2 + 1).cast("int"))
        ) / 2
    )


def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter — the ROBUST rolling detector (rolling
    median ± 3·1.4826·rolling MAD) that flags spikes without letting
    the spike contaminate its own baseline, which is exactly what the
    rolling-MEAN z-score (anomaly_zscore) gets wrong at level shifts:
    per event type's hourly series, a ±3-hour centered window, the
    window median, the median absolute deviation, and the flag.
    Medians come from sorted bounded arrays (7 values) — no
    percentile aggregate, pure array arithmetic, identical in both
    engines.

    100 TB shape: the hourly rollup collapses raw events first (one
    mergeable agg); the windowed collect runs per type partition over
    the bounded series — the rollup-then-window discipline; the ±3
    frame caps every array at 7 doubles."""
    ev = _t(spark, sf_dir, "events")
    hr = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = ev.groupBy("event_type", hr.alias("hr")).agg(
        F.round(
            _dec_to_double(F.sum(F.col("value").cast("decimal(18,4)")))
            / F.count(F.lit(1)),
            6,
        ).alias("yv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-3, 3)
    )
    arr = F.collect_list("yv").over(w)
    base = hourly.withColumn("win", arr)
    med = F.round(_arr_median(F.col("win")), 6)
    base = base.withColumn("rolling_med", med)
    absdev = F.transform(
        F.col("win"), lambda x: F.round(F.abs(x - F.col("rolling_med")), 6)
    )
    mad = F.round(_arr_median(absdev), 6)
    base = base.withColumn("rolling_mad", mad)
    return base.select(
        "event_type", "hr", "yv",
        F.size("win").cast("bigint").alias("window_n"),
        "rolling_med", "rolling_mad",
        (
            F.abs(F.col("yv") - F.col("rolling_med"))
            > F.lit(3 * 1.4826) * F.col("rolling_mad")
        ).alias("is_outlier"),
    )


WINDOW_HAMPEL_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*), 6) AS yv
  FROM events GROUP BY 1, 2
), windowed AS (
  SELECT event_type, hr, yv,
         list(yv) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
  FROM hourly
), med AS (
  SELECT event_type, hr, yv, win,
         round(CASE WHEN len(win) % 2 = 1
               THEN list_sort(win)[CAST((len(win) + 1) / 2 AS INTEGER)]
               ELSE (list_sort(win)[CAST(len(win) / 2 AS INTEGER)]
                     + list_sort(win)[CAST(len(win) / 2 + 1 AS INTEGER)]) / 2
               END, 6) AS rolling_med
  FROM windowed
), madt AS (
  SELECT event_type, hr, yv, win, rolling_med,
         list_sort(list_transform(win, x -> round(abs(x - rolling_med), 6)))
           AS dev
  FROM med
)
SELECT event_type, hr, yv, CAST(len(win) AS BIGINT) AS window_n,
       rolling_med,
       round(CASE WHEN len(dev) % 2 = 1
             THEN dev[CAST((len(dev) + 1) / 2 AS INTEGER)]
             ELSE (dev[CAST(len(dev) / 2 AS INTEGER)]
                   + dev[CAST(len(dev) / 2 + 1 AS INTEGER)]) / 2
             END, 6) AS rolling_mad,
       abs(yv - rolling_med) >
         3 * 1.4826 * round(CASE WHEN len(dev) % 2 = 1
             THEN dev[CAST((len(dev) + 1) / 2 AS INTEGER)]
             ELSE (dev[CAST(len(dev) / 2 AS INTEGER)]
                   + dev[CAST(len(dev) / 2 + 1 AS INTEGER)]) / 2
             END, 6) AS is_outlier
FROM madt
"""


_SPECTRAL_HARMONICS = 6
_PI = 3.141592653589793


def timeseries_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded periodogram — seasonality detection by direct DFT at
    the first 6 harmonics of each event type's hourly series:
    amplitude_k = 2·√(C_k² + S_k²)/n with C_k = Σ ỹ·cos(2πk·t/n),
    S_k = Σ ỹ·sin(2πk·t/n) over the mean-centered series, plus the
    dominant-harmonic flag. The "is there a daily/weekly cycle, and
    at which period" probe that decides whether a forecast needs a
    seasonal term (timeseries_seasonal_residual assumes the period;
    THIS finds it).

    Determinism: the series is the decimal-rounded hourly rollup;
    cos/sin are libm calls whose last ulp differs across engines, so
    every trig value is rounded to 12 before the multiply, products
    round to 10, and sums run in DECIMAL — the agg_regression_stats
    discipline pointed at a Fourier basis.

    100 TB shape: the (type, hour) rollup collapses raw events first;
    the DFT is ONE mergeable (type, k) hash-agg over the bounded
    series × 6 exploded harmonics, with n and the mean arriving as a
    per-type broadcast — no FFT machinery, no global ordering beyond
    the per-type index window."""
    ev = _t(spark, sf_dir, "events")
    hr = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = ev.groupBy("event_type", hr.alias("hr")).agg(
        F.round(
            _dec_to_double(F.sum(F.col("value").cast("decimal(18,4)")))
            / F.count(F.lit(1)),
            6,
        ).alias("yv"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    idx = hourly.withColumn("idx", (F.row_number().over(w) - 1).cast("bigint"))
    tot = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(
            _dec_to_double(F.sum(F.col("yv").cast("decimal(20,6)")))
            / F.count(F.lit(1)),
            6,
        ).alias("ybar"),
    )
    j = idx.join(F.broadcast(tot), "event_type").select(
        "event_type", "idx", "n_hours",
        F.round(F.col("yv") - F.col("ybar"), 6).alias("yc"),
        F.explode(
            F.array(*[
                F.lit(k).cast("bigint")
                for k in range(1, _SPECTRAL_HARMONICS + 1)
            ])
        ).alias("k"),
    )
    angle = (
        F.lit(2.0 * _PI) * F.col("k") * F.col("idx")
        / F.col("n_hours").cast("double")
    )
    cosv = F.round(F.cos(angle), 12)
    sinv = F.round(F.sin(angle), 12)
    dec = "decimal(24,10)"
    g = j.groupBy("event_type", "k").agg(
        F.max("n_hours").alias("n_hours"),
        _dec_to_double(
            F.sum(F.round(F.col("yc") * cosv, 10).cast(dec))
        ).alias("sc"),
        _dec_to_double(
            F.sum(F.round(F.col("yc") * sinv, 10).cast(dec))
        ).alias("ss"),
    )
    amp = F.round(
        2.0
        * F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
        / F.col("n_hours").cast("double"),
        6,
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.desc("amplitude"), F.asc("k")
    )
    return (
        g.select("event_type", "k", "n_hours", amp.alias("amplitude"))
        .withColumn("is_dominant", F.row_number().over(wd) == 1)
    )


TIMESERIES_SPECTRAL_SQL = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*), 6) AS yv
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, yv,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) - 1
              AS BIGINT) AS idx
  FROM hourly
), tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         round(CAST(CAST(SUM(CAST(yv AS DECIMAL(20,6))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*), 6) AS ybar
  FROM idx GROUP BY 1
), j AS (
  SELECT i.event_type, i.idx, t.n_hours,
         round(i.yv - t.ybar, 6) AS yc, k
  FROM idx i JOIN tot t USING (event_type),
       UNNEST(generate_series(1, {_SPECTRAL_HARMONICS})) AS u(k)
), g AS (
  SELECT event_type, CAST(k AS BIGINT) AS k, MAX(n_hours) AS n_hours,
    CAST(CAST(SUM(CAST(round(yc * round(cos(2 * {_PI} * k * idx
                                            / n_hours), 12), 10)
                       AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS sc,
    CAST(CAST(SUM(CAST(round(yc * round(sin(2 * {_PI} * k * idx
                                            / n_hours), 12), 10)
                       AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS ss
  FROM j GROUP BY 1, 2
)
SELECT event_type, k, n_hours,
       round(2 * sqrt(sc * sc + ss * ss) / n_hours, 6) AS amplitude,
       ROW_NUMBER() OVER (PARTITION BY event_type
                          ORDER BY round(2 * sqrt(sc * sc + ss * ss)
                                         / n_hours, 6) DESC, k ASC) = 1
         AS is_dominant
FROM g
"""


# ---------------------------------------------------------------------------
# Rank-based inference (Mann-Whitney U, Kruskal-Wallis H)
# ---------------------------------------------------------------------------
# Exact average ranks WITHOUT a global sort: collapse to distinct
# micro-grid values (groupBy v), then a TWO-LEVEL prefix sum — a
# partitioned cumulative within coarse value buckets plus an O(#buckets)
# cross-bucket carry (the analytics_peak_concurrency idiom) — so the
# only single-partition window runs over the bounded bucket frame, not
# the data. All rank sums are kept as 2x-integers (avg rank of a tie
# group is a half-integer, so 2*R is exact) in DECIMAL(38,0).


def _rank_below(byv: DataFrame) -> DataFrame:
    """Attach below(v) = #observations with value < v to a distinct-
    value frame carrying (v, c): partitioned prefix within the integer
    value-part bucket + cross-bucket carry."""
    byv = byv.withColumn(
        "bkt", F.floor(F.col("v") / F.lit(_STAT_U)).cast("long")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    byv = byv.withColumn("cum_in", F.sum("c").over(w_in))
    btot = byv.groupBy("bkt").agg(F.sum("c").alias("bc"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    btot = btot.withColumn(
        "carry", F.coalesce(F.sum("bc").over(w_b), F.lit(0))
    )
    j = byv.join(btot.select("bkt", "carry"), "bkt")
    return j.withColumn(
        "below", (F.col("carry") + F.col("cum_in") - F.col("c")).cast("long")
    )


_RANK_DEC = "decimal(38,0)"


def _rank_sum_2x(cg, below, c):
    """2·Σ(rank·count) for a group with per-distinct-value group count
    ``cg``: cg·(2·below + c + 1), promoted to DECIMAL(38,0) BEFORE the
    multiply. In int64 this wraps (non-ANSI Spark) once below ≳ 1.5e18
    or the product exceeds 2⁶³ — at-scale regimes the DuckDB oracle
    handles via HUGEINT."""
    return cg.cast(_RANK_DEC) * (
        F.lit(2) * below.cast(_RANK_DEC) + c + F.lit(1)
    )


def _rank_tie_term(c):
    """Σc·(c²−1) tie-correction addend, decimal-promoted before the
    multiply: c ≳ 2.1M tied rows overflows int64 c³."""
    return c.cast(_RANK_DEC) * (c.cast(_RANK_DEC) * c - F.lit(1))


_MWU_A, _MWU_B = "purchase", "click"


def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of event value, 'purchase' vs
    'click' — the NON-parametric sibling of stat_welch_ttest: exact
    tie-averaged ranks on the micro-unit grid, U for the purchase side,
    the tie-corrected normal-approximation z. 2*R_A stays integer
    (DECIMAL(38,0)); the tie term Σc(c²-1) likewise; z is one fixed
    double expression on the 1-row frame.

    100 TB shape: one distinct-value hash-agg, the two-level exact
    prefix sum (partitioned within integer-value buckets + an
    O(#buckets) carry), one mergeable final agg — no global sort of
    observations anywhere."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin(_MWU_A, _MWU_B)
    )
    v = F.floor(F.col("value") * _STAT_U).cast("long")
    base = ev.select(
        (F.col("event_type") == _MWU_A).cast("int").alias("g"), v.alias("v")
    )
    byv = base.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("g")).cast("bigint").alias("cb"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    r = _rank_below(byv)
    m = r.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        _dec_to_double(
            F.sum(_rank_sum_2x(F.col("ca"), F.col("below"), F.col("c")))
        ).alias("ra2"),
        _dec_to_double(F.sum(_rank_tie_term(F.col("c")))).alias("tie"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = na + nb
    u_a = F.col("ra2") / 2 - na * (na + 1) / 2
    sigma2 = na * nb / 12 * ((nn + 1) - F.col("tie") / (nn * (nn - 1)))
    z = (u_a - na * nb / 2) / F.sqrt(sigma2)
    return m.select(
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_stat"),
        F.round(F.col("ra2") / (2 * na), 6).alias("mean_rank_a"),
        F.round(z, 6).alias("z_stat"),
    )


STAT_MWU_SQL = f"""
WITH f AS (
  SELECT CASE WHEN event_type = '{_MWU_A}' THEN 1 ELSE 0 END AS g,
         CAST(floor(value * {_STAT_U}) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('{_MWU_A}', '{_MWU_B}')
), byv AS (
  SELECT v, CAST(SUM(g) AS BIGINT) AS ca,
         CAST(SUM(1 - g) AS BIGINT) AS cb,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM f GROUP BY v
), r AS (
  SELECT *, CAST(COALESCE(SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS below
  FROM byv
), m AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         CAST(CAST(SUM(CAST(ca AS HUGEINT) * (2 * below + c + 1))
              AS VARCHAR) AS DOUBLE) AS ra2,
         CAST(CAST(SUM(CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) * c - 1))
              AS VARCHAR) AS DOUBLE) AS tie
  FROM r
)
SELECT n_a, n_b,
       round(ra2 / 2 - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2,
             6) AS u_stat,
       round(ra2 / (2 * CAST(n_a AS DOUBLE)), 6) AS mean_rank_a,
       round((ra2 / 2 - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12
                    * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                       - tie / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                                * (CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE) - 1)))),
             6) AS z_stat
FROM m
"""


def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event types — the rank-based
    one-way ANOVA (stat_anova_f's non-parametric sibling): exact
    tie-averaged rank sums per type from the same two-level prefix-sum
    machinery as stat_mann_whitney_u, H folded in alphabetical type
    order, plus the tie-corrected H'. Per-type rows carry n and mean
    rank; the two H columns ride on every row (broadcast attach).

    100 TB shape: distinct-value hash-agg with 5 pivoted conditional
    counts, the bucketed exact prefix sum, ONE mergeable final agg
    (11 sums), O(1) arithmetic after."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin(*_ANOVA_TYPES)
    )
    v = F.floor(F.col("value") * _STAT_U).cast("long")
    base = ev.select("event_type", v.alias("v"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("c")]
    for t in _ANOVA_TYPES:
        aggs.append(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{t}")
        )
    byv = base.groupBy("v").agg(*aggs)
    r = _rank_below(byv)
    final = [
        _dec_to_double(F.sum(_rank_tie_term(F.col("c")))).alias("tie")
    ]
    for t in _ANOVA_TYPES:
        final.append(F.sum(f"c_{t}").cast("bigint").alias(f"n_{t}"))
        final.append(
            _dec_to_double(
                F.sum(_rank_sum_2x(F.col(f"c_{t}"), F.col("below"), F.col("c")))
            ).alias(f"r2_{t}")
        )
    m = r.agg(*final)
    nn = sum((F.col(f"n_{t}") for t in _ANOVA_TYPES), F.lit(0)).cast("double")
    # H = 12/(N(N+1)) * Σ R_g²/n_g − 3(N+1), alphabetical fold
    srr = None
    for t in _ANOVA_TYPES:
        term = (
            (F.col(f"r2_{t}") / 2)
            * (F.col(f"r2_{t}") / 2)
            / F.col(f"n_{t}").cast("double")
        )
        srr = term if srr is None else srr + term
    h = F.lit(12.0) / (nn * (nn + 1)) * srr - 3 * (nn + 1)
    h_corr = h / (F.lit(1.0) - F.col("tie") / (nn * nn * nn - nn))
    one = m.select(
        F.round(h, 6).alias("h_stat"),
        F.round(h_corr, 6).alias("h_tie_corrected"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("event_type"),
                        F.col(f"n_{t}").alias("n"),
                        F.round(
                            F.col(f"r2_{t}")
                            / (2 * F.col(f"n_{t}").cast("double")),
                            6,
                        ).alias("mean_rank"),
                    )
                    for t in _ANOVA_TYPES
                ]
            )
        ),
    )
    return one.select("event_type", "n", "mean_rank", "h_stat", "h_tie_corrected")


def _kruskal_sql() -> str:
    conds = "\n".join(
        f"         CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{t}," for t in _ANOVA_TYPES
    )
    sums = "\n".join(
        f"         CAST(SUM(c_{t}) AS BIGINT) AS n_{t},\n"
        f"         CAST(CAST(SUM(CAST(c_{t} AS HUGEINT) * (2 * below + c + 1))"
        f" AS VARCHAR) AS DOUBLE) AS r2_{t}," for t in _ANOVA_TYPES
    )
    nn = " + ".join(f"CAST(n_{t} AS DOUBLE)" for t in _ANOVA_TYPES)
    srr = " + ".join(
        f"(r2_{t} / 2) * (r2_{t} / 2) / CAST(n_{t} AS DOUBLE)"
        for t in _ANOVA_TYPES
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{t}' AS event_type, n_{t} AS n,"
        f" round(r2_{t} / (2 * CAST(n_{t} AS DOUBLE)), 6) AS mean_rank,"
        f" h_stat, h_tie_corrected FROM h"
        for t in _ANOVA_TYPES
    )
    types = ", ".join(f"'{t}'" for t in _ANOVA_TYPES)
    return f"""
WITH f AS (
  SELECT event_type, CAST(floor(value * {_STAT_U}) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ({types})
), byv AS (
  SELECT v,
{conds}
         CAST(COUNT(*) AS BIGINT) AS c
  FROM f GROUP BY v
), r AS (
  SELECT *, CAST(COALESCE(SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS below
  FROM byv
), m AS (
  SELECT
{sums}
         CAST(CAST(SUM(CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) * c - 1))
              AS VARCHAR) AS DOUBLE) AS tie
  FROM r
), h AS (
  SELECT *,
         round(12.0 / (({nn}) * (({nn}) + 1)) * ({srr})
               - 3 * (({nn}) + 1), 6) AS h_stat,
         round((12.0 / (({nn}) * (({nn}) + 1)) * ({srr})
                - 3 * (({nn}) + 1))
               / (1.0 - tie / (({nn}) * ({nn}) * ({nn}) - ({nn}))), 6)
           AS h_tie_corrected
  FROM m
)
{rows}
"""


def analytics_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification matrix over parts: ABC from
    cumulative revenue share (A ≤ 80%, B ≤ 95%, C rest — the Pareto
    cut, cumulative INCLUSIVE of the current part, ordered by revenue
    desc then partkey) × XYZ from demand variability (population CV of
    monthly quantity over the table's global month spine, zero months
    included: X cv ≤ 0.5, Y cv ≤ 1.0, Z above — compared as cv² against
    0.25 / 1.0, so no sqrt enters the classification). Revenue and
    quantity run on exact cent grids; cv² is a double built from exact
    BIGINT/DECIMAL sums, identical in both engines.

    100 TB shape: per-(part, month) partial agg, per-part rollup, the
    two-level exact prefix sum for the cumulative share (partitioned
    within 256 revenue-magnitude buckets + an O(256) carry), 1-row
    scalar attaches for the global totals — no global sort of parts."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).alias("mth"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("rev_c"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
    )
    pm = li.groupBy("l_partkey", "mth").agg(
        F.sum("qty_c").cast("bigint").alias("mq"),
        F.sum("rev_c").cast("bigint").alias("mrev"),
    )
    dec = "decimal(38,0)"
    per_part = pm.groupBy("l_partkey").agg(
        F.sum("mrev").cast("bigint").alias("rev"),
        F.sum("mq").cast("bigint").alias("s_q"),
        _dec_to_double(
            F.sum((F.col("mq").cast(dec) * F.col("mq").cast(dec)))
        ).alias("q_q"),
    )
    globals_ = pm.agg(
        F.countDistinct("mth").cast("bigint").alias("n_months"),
        F.sum("mrev").cast("bigint").alias("total_rev"),
    )
    max_rev = per_part.agg(F.max("rev").alias("max_rev"))
    p = per_part.crossJoin(F.broadcast(globals_)).crossJoin(
        F.broadcast(max_rev)
    )
    # two-level exact prefix (descending revenue): 256 magnitude buckets
    p = p.withColumn(
        "bkt",
        F.floor(
            F.col("rev").cast("double")
            * 256
            / (F.col("max_rev").cast("double") + 1)
        ).cast("long"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = p.withColumn("cum_in", F.sum("rev").over(w_in))
    btot = p.groupBy("bkt").agg(F.sum("rev").alias("brev"))
    w_b = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    btot = btot.withColumn(
        "carry", F.coalesce(F.sum("brev").over(w_b), F.lit(0))
    )
    p = p.join(btot.select("bkt", "carry"), "bkt").withColumn(
        "cum", (F.col("carry") + F.col("cum_in")).cast(dec)
    )
    tot = F.col("total_rev").cast(dec)
    abc = (
        F.when(F.col("cum") * 100 <= tot * 80, "A")
        .when(F.col("cum") * 100 <= tot * 95, "B")
        .otherwise("C")
    )
    # cv² = (M·Q − S²)/S² on doubles built from exact sums
    md = F.col("n_months").cast("double")
    sd = F.col("s_q").cast("double")
    cv2 = (md * F.col("q_q") - sd * sd) / (sd * sd)
    xyz = (
        F.when(cv2 <= 0.25, "X").when(cv2 <= 1.0, "Y").otherwise("Z")
    )
    return (
        p.select(abc.alias("abc_class"), xyz.alias("xyz_class"), "rev")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("revenue_cents"),
        )
    )


ANALYTICS_ABC_XYZ_SQL = """
WITH li AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS mth,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS rev_c,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
  FROM lineitem
), pm AS (
  SELECT l_partkey, mth, CAST(SUM(qty_c) AS BIGINT) AS mq,
         CAST(SUM(rev_c) AS BIGINT) AS mrev
  FROM li GROUP BY l_partkey, mth
), per_part AS (
  SELECT l_partkey, CAST(SUM(mrev) AS BIGINT) AS rev,
         CAST(SUM(mq) AS BIGINT) AS s_q,
         CAST(CAST(SUM(CAST(mq AS HUGEINT) * mq) AS VARCHAR) AS DOUBLE) AS q_q
  FROM pm GROUP BY l_partkey
), g AS (
  SELECT CAST(COUNT(DISTINCT mth) AS BIGINT) AS n_months,
         CAST(SUM(mrev) AS BIGINT) AS total_rev
  FROM pm
), ranked AS (
  SELECT p.*, g.n_months, g.total_rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM per_part p CROSS JOIN g
), classed AS (
  SELECT CASE WHEN CAST(cum AS HUGEINT) * 100 <= CAST(total_rev AS HUGEINT) * 80 THEN 'A'
              WHEN CAST(cum AS HUGEINT) * 100 <= CAST(total_rev AS HUGEINT) * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         CASE WHEN (CAST(n_months AS DOUBLE) * q_q
                    - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                   / (CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE)) <= 0.25
              THEN 'X'
              WHEN (CAST(n_months AS DOUBLE) * q_q
                    - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                   / (CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE)) <= 1.0
              THEN 'Y' ELSE 'Z' END AS xyz_class,
         rev
  FROM ranked
)
SELECT abc_class, xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents
FROM classed GROUP BY abc_class, xyz_class
"""


def dq_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit — THE report you read before choosing
    a streaming watermark delay: per user, events in arrival order
    (event_id is the ingest sequence); an adjacent pair is 'backwards'
    when its event time precedes the previous event's. Per event type
    (of the later event): pair count, backwards count, the worst
    backwards gap in seconds, and backwards parts-per-million. A
    watermark shorter than max_backwards_seconds WILL drop rows —
    dq_event_freshness tells you lag vs wall clock; this tells you
    intra-key disorder.

    100 TB shape: one partitioned lag window (user_id — millions of
    partitions, no skew) + one mergeable hash-agg; epoch math stays on
    exact BIGINT seconds."""
    ev = event_sequence(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").cast("long").alias("epo"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    pairs = ev.select(
        "event_type",
        (F.lag("epo").over(w) - F.col("epo")).alias("back_s"),
    ).filter(F.col("back_s").isNotNull())
    return out_of_order_counters(pairs, ppm=True)


def out_of_order_counters(pairs: DataFrame, ppm: bool = False) -> DataFrame:
    """Per-type counters over adjacent (event_type, back_s) pairs:
    n_pairs, n_backwards and max_backwards_seconds — additive and
    max-mergeable, which is what the streaming sink folds across
    batches. ``ppm`` adds the report's backwards_ppm in the same
    aggregate (the batch entry; the stream derives it at read-off)."""
    backwards = F.col("back_s") > 0
    n_pairs = F.count(F.lit(1))
    n_backwards = F.sum(F.when(backwards, 1).otherwise(0))
    aggs = [
        n_pairs.cast("bigint").alias("n_pairs"),
        n_backwards.cast("bigint").alias("n_backwards"),
        F.coalesce(F.max(F.when(backwards, F.col("back_s"))), F.lit(0))
        .cast("bigint")
        .alias("max_backwards_seconds"),
    ]
    if ppm:
        aggs.append(backwards_ppm(n_backwards, n_pairs))
    return pairs.groupBy("event_type").agg(*aggs)


def backwards_ppm(n_backwards, n_pairs):
    """Backwards pairs per million pairs, 6dp."""
    return F.round(n_backwards.cast("double") * 1000000 / n_pairs, 6).alias(
        "backwards_ppm"
    )


DQ_OUT_OF_ORDER_SQL = """
WITH seq AS (
  SELECT event_type,
         lag(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY event_id)
         - CAST(floor(epoch(ts)) AS BIGINT) AS back_s
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN back_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_backwards,
       CAST(COALESCE(MAX(CASE WHEN back_s > 0 THEN back_s END), 0) AS BIGINT)
         AS max_backwards_seconds,
       round(CAST(SUM(CASE WHEN back_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             * 1000000 / COUNT(*), 6) AS backwards_ppm
FROM seq WHERE back_s IS NOT NULL
GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "stat_mann_whitney_u": QuerySpec(
        stat_mann_whitney_u, STAT_MWU_SQL, "stat",
        plan_waivers={
            "global_window": (
                "cross-bucket carry runs over the O(#integer-value-"
                "buckets) frame (bounded by the value domain, not the "
                "data); within-bucket prefixes are partitioned"),
        }),
    "stat_kruskal_wallis": QuerySpec(
        stat_kruskal_wallis, _kruskal_sql(), "stat",
        plan_waivers={
            "global_window": (
                "same bounded cross-bucket carry as stat_mann_whitney_u"),
        }),
    "analytics_abc_xyz_matrix": QuerySpec(
        analytics_abc_xyz_matrix, ANALYTICS_ABC_XYZ_SQL, "analytics",
        plan_waivers={
            "bnlj": (
                "1-row global month-count/total-revenue/max-revenue "
                "scalar attaches"),
            "global_window": (
                "cross-bucket carry over the 256-row revenue-magnitude "
                "bucket frame (O(1)); within-bucket prefixes are "
                "partitioned"),
        }),
    "dq_out_of_order_audit": QuerySpec(
        dq_out_of_order_audit, DQ_OUT_OF_ORDER_SQL, "dq"),
    "timeseries_interpolate_linear": QuerySpec(
        timeseries_interpolate_linear, TIMESERIES_INTERP_SQL, "timeseries"),
    "dq_value_set_drift": QuerySpec(
        dq_value_set_drift, DQ_VALUE_SET_DRIFT_SQL, "dq"),
    "timeseries_rolling_regression": QuerySpec(
        timeseries_rolling_regression, TIMESERIES_ROLLREG_SQL, "timeseries"),
    "join_bitemporal_asof": QuerySpec(
        join_bitemporal_asof, _bitemporal_sql(), "join",
        plan_waivers={"bnlj": (
            "1-row max-seq bound attach before the bounded ×4 probe "
            "explode")}),
    "analytics_apriori_pairs": QuerySpec(
        analytics_apriori_pairs, APRIORI_PAIRS_SQL, "analytics",
        plan_waivers={"bnlj": "1-row basket-count scalar attach"}),
    "analytics_yoy_growth": QuerySpec(
        analytics_yoy_growth, ANALYTICS_YOY_SQL, "analytics"),
    "dq_key_gap_audit": QuerySpec(
        dq_key_gap_audit, DQ_KEY_GAP_SQL, "dq",
        plan_waivers={"global_window": (
            "boundary-gap lag runs over the per-bucket (min,max) frame "
            "— O(#buckets = key range / 4096 shrunk by the distinct "
            "reduction), never over raw keys")}),
    "graph_clustering_coefficient": QuerySpec(
        graph_clustering_coefficient, GRAPH_CLUSTCOEF_SQL, "graph"),
    "interval_gap_extraction": QuerySpec(
        interval_gap_extraction, INTERVAL_GAPS_SQL, "window"),
    "dq_candidate_keys": QuerySpec(
        dq_candidate_keys, _candidate_keys_sql(), "dq"),
    "stat_welch_ttest": QuerySpec(
        stat_welch_ttest, STAT_WELCH_SQL, "quality"),
    "stat_anova_f": QuerySpec(
        stat_anova_f, _anova_sql(), "quality"),
    "agg_spearman_corr": QuerySpec(
        agg_spearman_corr, AGG_SPEARMAN_SQL, "aggregation",
        plan_waivers={
            "bnlj": "1-row price-bounds scalar attach",
            "global_window": (
                "cross-bucket cumulative runs over the 256-row bucket "
                "frame and the qty cumulative over the fixed 1..50 "
                "quantity domain — both O(1); within-bucket windows "
                "are partitioned"),
        }),
    "graph_degree_assortativity": QuerySpec(
        graph_degree_assortativity, GRAPH_ASSORTATIVITY_SQL, "graph"),
    "geo_path_stats": QuerySpec(
        geo_path_stats, GEO_PATH_STATS_SQL, "geo"),
    "analytics_funnel_windowed": QuerySpec(
        analytics_funnel_windowed, FUNNEL_WINDOWED_SQL, "analytics"),
    "analytics_fifo_allocation": QuerySpec(
        analytics_fifo_allocation, ANALYTICS_FIFO_SQL, "analytics"),
    "dq_functional_dependency": QuerySpec(
        dq_functional_dependency, _fd_sql(), "dq"),
    "dq_l_diversity": QuerySpec(
        dq_l_diversity, DQ_L_DIVERSITY_SQL, "dq"),
    "dq_reconciliation_totals": QuerySpec(
        dq_reconciliation_totals, DQ_RECONCILIATION_SQL, "dq"),
    "dq_outlier_iqr_fences": QuerySpec(
        dq_outlier_iqr_fences, DQ_IQR_FENCES_SQL, "dq"),
    "analytics_markov_transitions": QuerySpec(
        analytics_markov_transitions, ANALYTICS_MARKOV_SQL, "analytics"),
    "analytics_rfm_segmentation": QuerySpec(
        analytics_rfm_segmentation, ANALYTICS_RFM_SQL, "analytics",
        plan_waivers={"bnlj": (
            "1-row quintile-threshold frame (12 exact percentiles) "
            "attached onto the per-customer rollup")}),
    "analytics_cohort_ltv": QuerySpec(
        analytics_cohort_ltv, ANALYTICS_COHORT_LTV_SQL, "analytics"),
    "timeseries_acf_lags": QuerySpec(
        timeseries_acf_lags, TIMESERIES_ACF_SQL, "timeseries"),
    "timeseries_m4_downsample": QuerySpec(
        timeseries_m4_downsample, TIMESERIES_M4_SQL, "timeseries"),
    "dq_chi2_categorical_drift": QuerySpec(
        dq_chi2_categorical_drift, DQ_CHI2_DRIFT_SQL, "dq",
        plan_waivers={"bnlj": "1-row column-totals scalar attach"}),
    "analytics_pareto_share": QuerySpec(
        analytics_pareto_share, ANALYTICS_PARETO_SQL, "analytics",
        plan_waivers={
            "bnlj": (
                "1-row revenue-bounds/total attach (twice: bucketing "
                "and the final report)"),
            "global_window": (
                "cross-bucket cumulatives run over the 256-row bucket "
                "frame (O(1)); within-bucket windows are partitioned"),
        }),
    "analytics_dau_mau_stickiness": QuerySpec(
        analytics_dau_mau_stickiness, ANALYTICS_DAU_MAU_SQL, "analytics"),
    "dq_k_anonymity": QuerySpec(
        dq_k_anonymity, DQ_K_ANONYMITY_SQL, "dq",
        plan_waivers={"bnlj": (
            "1-row table-total scalar attach onto the bounded QI-class "
            "frame")}),
    "dq_null_run_detector": QuerySpec(
        dq_null_run_detector, DQ_NULL_RUN_SQL, "dq"),
    "dq_error_burst_detector": QuerySpec(
        dq_error_burst_detector, DQ_ERROR_BURST_SQL, "dq"),
    "agg_theil_sen_slope": QuerySpec(
        agg_theil_sen_slope, AGG_THEIL_SEN_SQL, "agg"),
    "timeseries_changepoint_binary": QuerySpec(
        timeseries_changepoint_binary, TIMESERIES_CHANGEPOINT_SQL,
        "timeseries"),
    "analytics_interval_proration": QuerySpec(
        analytics_interval_proration, ANALYTICS_INTERVAL_PRORATION_SQL,
        "analytics"),
    "analytics_peak_concurrency": QuerySpec(
        analytics_peak_concurrency, ANALYTICS_PEAK_CONCURRENCY_SQL,
        "analytics",
        plan_waivers={"global_window": (
            "the cross-month carry-in cumsum runs over the O(#months) "
            "per-month rollup frame — scale-independent (the "
            "dq_key_gap_audit bucket-boundary move); the raw ±1 sweep "
            "itself is month-partitioned")}),
    "window_hampel_filter": QuerySpec(
        window_hampel_filter, WINDOW_HAMPEL_SQL, "window"),
    "timeseries_spectral_peak": QuerySpec(
        timeseries_spectral_peak, TIMESERIES_SPECTRAL_SQL, "timeseries"),
    "window_session_capped": QuerySpec(
        window_session_capped, WINDOW_SESSION_CAPPED_SQL, "time_window"),
    "timeseries_lttb_downsample": QuerySpec(
        timeseries_lttb_downsample, TIMESERIES_LTTB_SQL, "timeseries"),
    "agg_winsorized_mean": QuerySpec(
        agg_winsorized_mean, AGG_WINSORIZED_SQL, "aggregation"),
    "analytics_dau_cumulative": QuerySpec(
        analytics_dau_cumulative, ANALYTICS_DAU_SQL, "analytics",
        plan_waivers={"global_window": (
            "cumulative window runs over the #distinct-days frame "
            "(O(observation window)), never over users")}),
    "geo_bucket_join": QuerySpec(
        geo_bucket_join, GEO_BUCKET_JOIN_SQL, "join"),
    "dq_column_profile": QuerySpec(
        dq_column_profile, DQ_COLUMN_PROFILE_SQL, "dq"),
    "dq_event_freshness": QuerySpec(
        dq_event_freshness, DQ_EVENT_FRESHNESS_SQL, "dq",
        plan_waivers={"bnlj": "1-row event-time high-water-mark attach"}),
    "timeseries_survival_km": QuerySpec(
        timeseries_survival_km, TIMESERIES_SURVIVAL_KM_SQL, "timeseries",
        plan_waivers={
            "bnlj": "1-row observation-end + total-count scalar attaches",
            "global_window": (
                "cumulative windows run over the #distinct-exit-days "
                "frame (O(observation window) rows), never over users"),
        }),
    "funnel_conversion": QuerySpec(funnel_conversion, FUNNEL_SQL, "analytics"),
    "retention_cohorts": QuerySpec(retention_cohorts, RETENTION_SQL, "analytics"),
    "timeseries_gapfill": QuerySpec(timeseries_gapfill, GAPFILL_SQL, "timeseries"),
    "resample_ohlc": QuerySpec(resample_ohlc, OHLC_SQL, "timeseries"),
    "timeseries_ewma": QuerySpec(
        timeseries_ewma, TIMESERIES_EWMA_SQL, "timeseries"),
    "basket_brand_lift": QuerySpec(
        basket_brand_lift, BASKET_BRAND_LIFT_SQL, "analytics",
        plan_waivers={"bnlj": "1-row basket-count scalar attach"}),
    "scd2_user_state": QuerySpec(scd2_user_state, SCD2_SQL, "analytics"),
    "join_pointintime_scd2": QuerySpec(
        join_pointintime_scd2, JOIN_POINTINTIME_SCD2_SQL, "join"),
    "pattern_match_sequence": QuerySpec(
        pattern_match_sequence, PATTERN_MATCH_SQL, "analytics"),
    "pattern_match_runs": QuerySpec(
        pattern_match_runs, PATTERN_RUNS_SQL, "analytics"),
    "window_reset_cumsum": QuerySpec(
        window_reset_cumsum, WINDOW_RESET_CUMSUM_SQL, "window"),
    "dq_constraint_report": QuerySpec(dq_constraint_report, DQ_SQL, "quality"),
    "dq_benford_check": QuerySpec(
        dq_benford_check, DQ_BENFORD_SQL, "quality",
        plan_waivers={"bnlj": "1-row digit-total scalar attach"}),
    "timeseries_cusum_drift": QuerySpec(
        timeseries_cusum_drift, TIMESERIES_CUSUM_SQL, "timeseries"),
    "timeseries_seasonal_residual": QuerySpec(
        timeseries_seasonal_residual, TIMESERIES_SEASONAL_SQL, "timeseries",
        plan_waivers={"bnlj": "1-row residual-moment scalar attach"}),
    "sample_poisson_bootstrap": QuerySpec(
        sample_poisson_bootstrap, _bootstrap_sql(), "sampling"),
    "eval_ab_proportions": QuerySpec(
        eval_ab_proportions, EVAL_AB_SQL, "quality"),
    "agg_group_entropy": QuerySpec(
        agg_group_entropy, AGG_GROUP_ENTROPY_SQL, "aggregation"),
    # no waiver: the rank window is 5-way segment-partitioned (the gate
    # only flags single-partition-fed windows); the 100 TB rank recipe
    # is cross-referenced in the docstring
    "agg_gini_concentration": QuerySpec(
        agg_gini_concentration, AGG_GINI_SQL, "aggregation"),
    "attribution_linear_touch": QuerySpec(
        attribution_linear_touch, ATTRIBUTION_LINEAR_SQL, "analytics"),
    "dq_primary_key_uniqueness": QuerySpec(
        dq_primary_key_uniqueness, DQ_PK_UNIQUENESS_SQL, "quality"),
    "dq_referential_integrity": QuerySpec(
        dq_referential_integrity, DQ_REFERENTIAL_SQL, "quality",
        plan_waivers={"bnlj": "five 1-row stat×orphan-count scalar attaches"}),
    "dq_distribution_drift": QuerySpec(
        dq_distribution_drift, DQ_DRIFT_SQL, "quality",
        plan_waivers={
            "bnlj": "1-row bounds + 1-row snapshot-totals scalar attaches"
        },
    ),
    "anomaly_zscore": QuerySpec(anomaly_zscore, ZSCORE_SQL, "timeseries"),
    "join_skew_salted": QuerySpec(join_skew_salted, SKEW_SALTED_SQL, "join"),
    "ntile_decile_stats": QuerySpec(
        ntile_decile_stats, NTILE_SQL, "analytics",
        plan_waivers={"global_window": (
            "exact-tier NTILE (global sort by design); the scale-safe "
            "twin decile_stats_bucketed ships alongside")}),
    "decile_stats_bucketed": QuerySpec(
        decile_stats_bucketed, DECILE_BUCKETED_SQL, "analytics",
        plan_waivers={"bnlj": "1-row min/max bounds broadcast"},
    ),
    "graph_triangle_count": QuerySpec(graph_triangle_count, TRIANGLE_SQL, "graph"),
    "graph_link_prediction": QuerySpec(
        graph_link_prediction, LINKPRED_SQL, "graph"),
    "graph_pagerank": QuerySpec(
        graph_pagerank, _pagerank_sql(), "graph",
        plan_waivers={"bnlj": "1-row node-count scalar attach"}),
    "graph_bfs_levels": QuerySpec(graph_bfs_levels, _bfs_sql(), "graph"),
    "graph_kcore_prune": QuerySpec(graph_kcore_prune, _kcore_sql(), "graph"),
    "graph_modularity_eval": QuerySpec(
        graph_modularity_eval, _modularity_sql(), "graph",
        plan_waivers={"bnlj": "1-row E2 directed-edge-count scalar attach"}),
    "graph_sssp_weighted": QuerySpec(
        graph_sssp_weighted, _sssp_sql(), "graph"),
    "window_interval_coalesce": QuerySpec(
        window_interval_coalesce, INTERVAL_COALESCE_SQL, "window"),
    "timeseries_anomaly_mad": QuerySpec(
        timeseries_anomaly_mad, ANOMALY_MAD_SQL, "timeseries"),
    "timeseries_forecast_backtest": QuerySpec(
        timeseries_forecast_backtest, FORECAST_BACKTEST_SQL, "timeseries"),
    "dq_ks_bucketed": QuerySpec(
        dq_ks_bucketed, DQ_KS_SQL, "quality",
        plan_waivers={
            "bnlj": "1-row min/max bounds broadcast",
            "global_window": (
                "cumsum/max windows input = #buckets rows (O(1), <= 64)"),
        }),
    "sample_neyman_allocation": QuerySpec(
        sample_neyman_allocation, SAMPLE_NEYMAN_SQL, "sampling",
        plan_waivers={"global_window": (
            "weight-total window input = #strata rows (O(1))")}),
    "window_max_drawdown": QuerySpec(
        window_max_drawdown, WINDOW_MAX_DRAWDOWN_SQL, "window"),
    "graph_label_propagation": QuerySpec(
        graph_label_propagation, _lpa_sql(), "graph"),
    "sample_fixed_k_per_stratum": QuerySpec(
        sample_fixed_k_per_stratum, SAMPLE_FIXED_K_SQL, "sampling"
    ),
    "sample_weighted_priority": QuerySpec(
        sample_weighted_priority, SAMPLE_WPRIO_SQL, "sampling"
    ),
    "stratified_sample_hash": QuerySpec(
        stratified_sample_hash, STRATIFIED_SQL, "sampling"
    ),
}
