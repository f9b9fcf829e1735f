"""Sanctioned UDF escape hatches (SURVEY §2B "UDF surface"): mapInArrow
(the zero-copy Arrow batch path one level below mapInPandas), a Python
UDTF, and GROUPED_AGG / SCALAR_ITER pandas UDFs. Each is
oracle-checkable: its Python side computes in integers (cents, counts,
micro-units) or on exact doubles, so pandas/pyarrow vs DuckDB agree
bit-for-bit despite the Python boundary.

Policy reminder (SURVEY §1.4): these paths exist for semantics native
expressions can't reach; nothing in the relational core routes through
them. At 100 TB mapInArrow streams fixed-size Arrow batches with no row
materialization in Python objects.

``cogroup_order_gaps`` and ``applyinpandas_trimmed_mean`` are fully
expressible with built-in window/aggregate functions, so their registry
entries run native plans: no per-group Python call, and map-side
partial aggregation. Their cogroup and grouped applyInPandas forms live
in tests/test_udf_surface_equivalence.py as the reference arms the
native plans are compared against, which keeps those calling
conventions exercised.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load_table
from .spec import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def cogroup_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order cadence — order count, exact spend in cents,
    and the maximum gap in days between consecutive orders.

    A cogrouped applyInPandas form (the reference arm in
    tests/test_udf_surface_equivalence.py) pays one Python call per
    customer key, and at 100 TB ships every order row through Arrow to
    Python with no partial aggregation. The gap logic is a lag window +
    max — all built-ins: one hash exchange on o_custkey feeds the
    window, the groupBy reuses that partitioning (no second orders
    shuffle), and the aggregate is map-side-combinable.

    Exactness: cents are summed as int64 (round(x*100) is
    tie-rule-independent — prices carry exactly 2 decimals), the gap
    is integer datediff, so both engines agree bit-for-bit."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap"),
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum("cents").alias("spend_cents"),
        F.max("gap").cast("long").alias("max_gap_days"),
    )
    return cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias("n_orders"),
        F.coalesce(F.col("spend_cents"), F.lit(0).cast("long")).alias(
            "spend_cents"
        ),
        "max_gap_days",
    )


COGROUP_ORDER_GAPS_SQL = """
WITH go AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap
  FROM orders)
SELECT c_custkey,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS spend_cents,
       CAST(MAX(gap) AS BIGINT) AS max_gap_days
FROM customer LEFT JOIN go ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def mapinarrow_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow over documents: per-doc character and vowel counts
    computed with pyarrow.compute kernels directly on Arrow batches —
    no pandas conversion, no Python-object rows. This is the template
    for the multimodal decode path: columnar in, columnar out, schema
    declared up front."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring_regex(text, "[aeiou]"), pa.int64()),
                ],
                ["doc_id", "n_chars2", "n_vowels"],
            )

    return docs.mapInArrow(stats, "doc_id long, n_chars2 long, n_vowels long")


MAPINARROW_TEXT_STATS_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars2,
       CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS n_vowels
FROM documents
"""


def applyinpandas_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trimmed mean spend (drop one min and one max,
    average the rest).

    A grouped applyInPandas form (the reference arm in
    tests/test_udf_surface_equivalence.py) calls Python once per
    customer key, and at 100 TB every order row crosses to Python with
    no partial aggregation (grouped pandas ships whole groups). The
    statistic is (sum-min-max)/(n-2) — four built-in aggregates with
    map-side combine: one byte-light exchange of partial
    (count,sum,min,max) rows instead of all order rows.

    Exactness: arithmetic runs in int64 cents; only the final division
    produces a double, identical on both engines."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    agg = orders.select("o_custkey", cents.alias("cents")).groupBy(
        "o_custkey"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("s"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    n = F.col("n_orders")
    return agg.select(
        "o_custkey",
        "n_orders",
        F.when(
            n > 2,
            (F.col("s") - F.col("mn") - F.col("mx")).cast("double")
            / ((n - 2) * 100),
        )
        .otherwise(F.col("s").cast("double") / (n * 100))
        .alias("trimmed_mean"),
    )


APPLYINPANDAS_TRIMMED_SQL = """
WITH c AS (
  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, COUNT(*) AS n_orders,
       CASE WHEN COUNT(*) > 2
            THEN CAST(SUM(cents) - MIN(cents) - MAX(cents) AS DOUBLE)
                 / ((COUNT(*) - 2) * 100)
            ELSE CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100) END AS trimmed_mean
FROM c GROUP BY o_custkey
"""


def udtf_order_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) via LATERAL join: expand
    each urgent order into 3 equal installments — the row-generating
    escape hatch (one input row -> N output rows with computed state),
    registered and invoked through the SQL frontend. Oracle: a
    generate_series lateral."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="installment int, amount double")
    class Installments:
        def eval(self, total: float, k: int):
            if total is None:
                return
            for i in range(1, k + 1):
                yield i, total / k

    spark.udtf.register("order_installments", Installments)
    _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_totalprice").createOrReplaceTempView("urgent_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, i.installment, i.amount
        FROM urgent_orders o, LATERAL order_installments(o.o_totalprice, 3) i
        """
    )


UDTF_INSTALLMENTS_SQL = """
SELECT o_orderkey, CAST(i AS INTEGER) AS installment, o_totalprice / 3 AS amount
FROM orders, UNNEST(generate_series(1, 3)) AS g(i)
WHERE o_orderpriority = '1-URGENT'
"""


def pandas_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the user-defined AGGREGATE member of
    the sanctioned vectorized escape hatches (scalar pandas_udf,
    applyInPandas, UDTF, cogroup, mapInArrow already have entries):
    per event_type, a numpy median over micro-unit integer values,
    mixed with a built-in count in the same .agg() — the calling
    convention a custom sketch/statistic would use when Spark has no
    native aggregate for it.

    Median is the right demo statistic because it is ROW-ORDER
    INDEPENDENT: the series pandas receives arrives in shuffle order,
    so an order-sensitive float reduction (sum of logs, say) would not
    be engine-reproducible — this is the same partition-order
    discipline the decimal-sum convention enforces for built-ins.
    Micro-unit longs in, one (a+b)/2 interpolation out, and the result
    stays IN MICRO UNITS: an even-count median is x.5 exactly, and
    dividing/rounding it back to value units measurably diverged
    (Spark round() goes through BigDecimal HALF_UP on the shortest
    decimal string while DuckDB rounds the binary double — a
    .5-at-the-6th-decimal tie split engines). x.5 micro-units is an
    exact double on both.

    100 TB shape: THERE ISN'T ONE — this entry exists to pin the
    calling convention, not a scale path. GROUPED_AGG does NO partial
    aggregation: AggregateInPandasExec shuffles EVERY row of a group to
    one reducer and materializes the whole group as a single pandas
    Series, so with 5 event types at 100 TB that is ~20 TB on one
    executor — a guaranteed OOM. At scale use percentile_approx, or the
    exact two-phase bucketed-rank median recipe that
    agg_weighted_percentile implements (plans/relational2.py:167) —
    both are mergeable and never materialize a group."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_micro(v: pd.Series) -> float:
        import numpy as np

        return float(np.median(v.to_numpy(dtype="int64")))

    # Spark refuses to mix GROUPED_AGG pandas UDFs with built-in
    # aggregates in one .agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # row count is a second pandas aggregate — a real calling-convention
    # constraint worth pinning in the entry itself.
    @pandas_udf("long")
    def count_rows(v: pd.Series) -> int:
        return int(len(v))

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    micro = ev.select(
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("ym"),
    )
    return micro.groupBy("event_type").agg(
        count_rows("ym").alias("n"),
        median_micro("ym").alias("median_value_micro"),
    )


PANDAS_GROUPED_AGG_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(median(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
         AS median_value_micro
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""


# fixed surcharge schedule, percent by priority class — the "expensive
# model" the iterator UDF loads once per executor task, not once per
# batch (the whole point of SCALAR_ITER over plain SCALAR)
_SURCHARGE_PCT = {
    "1-URGENT": 7,
    "2-HIGH": 4,
    "3-MEDIUM": 2,
    "4-NOT SPECIFIED": 0,
    "5-LOW": 0,
}


def pandas_udf_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-batches pandas UDF (SCALAR_ITER — completes the UDF
    matrix next to SCALAR / GROUPED_AGG / applyInPandas / cogroup /
    mapInArrow / UDTF): priority-surcharged order totals in exact int64
    cents. The surcharge table is built ONCE per iterator, before the
    batch loop — the init-amortization pattern for per-task model/
    tokenizer loads that a plain SCALAR pandas UDF would repeat every
    ~10k-row Arrow batch. Arithmetic is integer cents end-to-end, so
    the Python side and the SQL oracle agree bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    @pandas_udf("long")
    def surcharged(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        table = dict(_SURCHARGE_PCT)  # the once-per-task "model load"
        for prio, price in it:
            cents = price.mul(100).round().astype("int64")
            pct = prio.map(table).fillna(0).astype("int64")
            yield cents + cents * pct // 100

    return orders.select(
        "o_orderkey",
        surcharged(F.col("o_orderpriority"), F.col("o_totalprice")).alias(
            "adjusted_cents"
        ),
    )


def _scalar_iter_sql() -> str:
    cases = "\n".join(
        f"         WHEN o_orderpriority = '{k}' THEN {v}"
        for k, v in _SURCHARGE_PCT.items()
    )
    return f"""
WITH c AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(CASE
{cases}
         ELSE 0 END AS BIGINT) AS pct
  FROM orders
)
SELECT o_orderkey,
       CAST(cents + (cents * pct) // 100 AS BIGINT) AS adjusted_cents
FROM c
"""


QUERIES: dict[str, QuerySpec] = {
    "pandas_udf_scalar_iter": QuerySpec(
        pandas_udf_scalar_iter, _scalar_iter_sql(), "udf-surface"
    ),
    "pandas_udf_grouped_agg": QuerySpec(
        pandas_udf_grouped_agg, PANDAS_GROUPED_AGG_SQL, "udf-surface"
    ),
    "cogroup_order_gaps": QuerySpec(
        cogroup_order_gaps, COGROUP_ORDER_GAPS_SQL, "udf-surface"
    ),
    "mapinarrow_text_stats": QuerySpec(
        mapinarrow_text_stats, MAPINARROW_TEXT_STATS_SQL, "udf-surface"
    ),
    "applyinpandas_trimmed_mean": QuerySpec(
        applyinpandas_trimmed_mean, APPLYINPANDAS_TRIMMED_SQL, "udf-surface"
    ),
    "udtf_order_installments": QuerySpec(
        udtf_order_installments, UDTF_INSTALLMENTS_SQL, "udf-surface"
    ),
}
