"""Stream-stream join: purchases joined to the same user's signups within
a bounded event-time window, both sides watermarked.

The time-range condition + watermarks are what make an unbounded
stream-stream join feasible: each side's state retains only rows inside
the watermark-derived bound, so state is evicted as event time advances.
In a cold one-batch replay the result equals the equivalent batch join —
which is what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _purchases_join_signups(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Purchases stream-joined (``how``) to the same user's signups at
    most 24 h before them, both sides watermarked at 1 hour."""
    from .windows import _stream_events

    ev = _stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    return purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        how,
    ).select(
        "purchase_id",
        "user_id",
        "signup_id",
        F.unix_micros("p_ts").alias("p_ts_us"),
        F.unix_micros("s_ts").alias("s_ts_us"),
    )


def purchases_after_signup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .windows import _drain

    return _drain(_purchases_join_signups(spark, sf_dir, "inner"), "append")


def purchases_left_signup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the expiry-semantics
    variant of :func:`purchases_after_signup_stream`.

    An unmatched left row can only emit (with NULL right columns) once
    the watermark passes its event time, proving no future right-side
    row can still match; Spark's no-data micro-batch after the final
    data batch performs that state eviction. Purchases inside the final
    watermark hour therefore never finalize in a cold replay — so the
    result is bounded to purchases at least 2 h (> the 1 h watermark)
    before max event time, which makes the output deterministic and
    equal to the batch left join under the same bound (the oracle)."""
    from ..schemas import load_table
    from .windows import _drain

    drained = _drain(_purchases_join_signups(spark, sf_dir, "leftOuter"), "append")
    max_us = (
        load_table(spark, sf_dir, "events")
        .agg(F.unix_micros(F.max("ts")))
        .collect()[0][0]
    )
    return drained.filter(F.col("p_ts_us") <= max_us - 2 * 3600 * 1_000_000)
