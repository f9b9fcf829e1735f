"""Query registry spec.

Every operator from SURVEY.md §2 lands here as a named QuerySpec:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle that DuckDB
runs over the same parquet tables. The driver hash-compares the two at
sf0.01 — see /root/repo/__spark_entry__.py.

Determinism conventions (both sides, so value hashes agree):
- double SUMs go through DECIMAL(18,4) then cast back to double
  (functions/numeric.py) — partition-order independent;
- money×rate PRODUCTS are computed in decimal with the OPERANDS cast
  first (drev/dcharge) — casting a double product to decimal rounds
  .xxxx5 boundaries differently across engines;
- the final decimal→double conversion goes through a STRING cast on
  both engines — direct decimal→double casts double-round past 2^53
  unscaled and the engines land one ulp apart;
- AVG = decimal-sum / count;
- every computed integer scalar is BIGINT in both engines (DuckDB's
  HUGEINT sums and Spark's int32 scalar fns would otherwise disagree);
- date/timestamp outputs are ISO strings or epoch integers;
- any top-k / limit has a total order (explicit tie-break columns);
- "keep one representative" dedup keeps min(id), never dropDuplicates.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    category: str
    doc: str = ""
    # Plan-shape waivers consumed by the regression gate
    # (tests/test_scale_idioms.py::test_no_cartesian_in_registry_plans).
    # The gate reads the returned frame's plan AND the plan of every SQL
    # execution the entry runs while building it (pins, caches, eager
    # fits, layout writes — explain_audit.entry_plans), and fails any
    # containing a CartesianProduct, an unsanctioned
    # BroadcastNestedLoopJoin, or a single-partition-fed Window; a
    # waiver whose smell appears in none of them fails as stale
    # (test_plan_waivers_not_stale). A sanction lives HERE, next to the
    # operator it excuses, as
    # {"bnlj": "<why the broadcast side is provably tiny>"} or
    # {"global_window": "<why the window input is scale-independent, or
    # which scale-safe twin ships alongside>"} — never as a hardcoded
    # name inside the test.
    plan_waivers: dict[str, str] | None = None
