"""Equivalence contract for the two native udf-surface entries: each
native plan must return EXACTLY the rows its cogroup / grouped
applyInPandas form returns (which the DuckDB oracle already certifies).
Those forms live here as the reference arms, which also keeps the
grouped-pandas and cogroup calling conventions exercised now that the
registry entries no longer route through Python (built-in aggregates do
map-side partial aggregation; grouped pandas ships every row of every
group to a Python worker)."""

from __future__ import annotations

import pandas as pd

from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _keyed(df, key):
    """Explicit-count key repartition before grouped applyInPandas /
    cogroup (the dedup._shuffle_partitions rule, Python edition): the
    per-group Python call is CPU-dense but the grouped exchange is
    byte-light, so AQE coalesces it to one partition and every group's
    pandas call runs on a single core. The explicit hash distribution
    satisfies the grouped operator's required clustering, so no second
    exchange appears."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = spark.sparkContext.defaultParallelism
    return df.repartition(n, key)


def cogroup_order_gaps_pandas(spark, sf_dir):
    """Reference arm for ``cogroup_order_gaps``: the cogrouped
    applyInPandas form. The gap needs ordered pairwise iteration within
    a key, a natural pandas computation; spend is summed as int64 cents
    so the Python side and the SQL oracle are integer-exact (a float64
    pandas sum would differ from DuckDB's unordered double sum in the
    last ulp)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )

    def merge(key: tuple, cdf: pd.DataFrame, odf: pd.DataFrame) -> pd.DataFrame:
        n = len(odf)
        if n == 0:
            return pd.DataFrame(
                {
                    "c_custkey": [int(key[0])],
                    "n_orders": [0],
                    "spend_cents": [0],
                    "max_gap_days": [None],
                }
            )
        odf = odf.sort_values(["o_orderdate", "o_orderkey"])
        # prices carry exactly 2 decimals: *100 lands ~1e-10 from an
        # integer, so round() is tie-rule-independent here
        cents = int(odf["o_totalprice"].mul(100).round().astype("int64").sum())
        gaps = odf["o_orderdate"].diff().dt.days
        max_gap = None if n < 2 else int(gaps.max())
        return pd.DataFrame(
            {
                "c_custkey": [int(key[0])],
                "n_orders": [n],
                "spend_cents": [cents],
                "max_gap_days": [max_gap],
            }
        )

    return (
        _keyed(cust, "c_custkey").groupBy("c_custkey")
        .cogroup(_keyed(orders, "o_custkey").groupBy("o_custkey"))
        .applyInPandas(
            merge,
            "c_custkey long, n_orders long, spend_cents long, max_gap_days long",
        )
    )


def applyinpandas_trimmed_mean_pandas(spark, sf_dir):
    """Reference arm for ``applyinpandas_trimmed_mean``: the grouped
    applyInPandas form. Arithmetic runs in int64 cents inside pandas so
    the Python side and the SQL oracle are integer-exact; only the
    final division produces a double, identical on both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )

    def trimmed(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = pdf["o_totalprice"].mul(100).round().astype("int64")
        n = len(cents)
        if n > 2:
            val = float(cents.sum() - cents.min() - cents.max()) / ((n - 2) * 100)
        else:
            val = float(cents.sum()) / (n * 100)
        return pd.DataFrame(
            {
                "o_custkey": [int(pdf["o_custkey"].iloc[0])],
                "n_orders": [n],
                "trimmed_mean": [val],
            }
        )

    return _keyed(orders, "o_custkey").groupBy("o_custkey").applyInPandas(
        trimmed, "o_custkey long, n_orders long, trimmed_mean double"
    )


def test_cogroup_order_gaps_native_equals_pandas(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.plans.udf_surface import (
        cogroup_order_gaps,
    )

    fast = cogroup_order_gaps(spark, sf_dir)
    ref = cogroup_order_gaps_pandas(spark, sf_dir)
    # names+types must match (nullability may tighten: built-in
    # count/coalesce prove non-null where pandas could not — the oracle
    # gate compares name+type only, tests/test_oracle.py)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert _rows(fast) == _rows(ref)
    # the optimized plan must not cross the Python boundary
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_applyinpandas_trimmed_mean_native_equals_pandas(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.plans.udf_surface import (
        applyinpandas_trimmed_mean,
    )

    fast = applyinpandas_trimmed_mean(spark, sf_dir)
    ref = applyinpandas_trimmed_mean_pandas(spark, sf_dir)
    # names+types must match (nullability may tighten: built-in
    # count/coalesce prove non-null where pandas could not — the oracle
    # gate compares name+type only, tests/test_oracle.py)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert _rows(fast) == _rows(ref)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "EvalPython" not in plan
