"""Explicit schemas (SURVEY.md §1.2), testdata table loaders and the
one builder of small driver-held tables (:func:`driver_frame`).

The reference is schemaless (Python dicts end-to-end); here every reader
gets an explicit ``StructType`` so Catalyst can prune/pushdown and no
inference pass is ever paid — at 100 TB an inference scan is a second
full read of the data. The JSONL/CSV inputs use the literal schemas
below; a testdata parquet table's schema is read from its parquet footer
on the driver (:func:`footer_schema`), so loading it runs no Spark job.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- Reference fan-engagement input (SURVEY.md §1.2 / reference
#     src/pipeline.py:136-200; all 8 fields observed in input/*.json) ---
FAN_ENGAGEMENT_SCHEMA = T.StructType(
    [
        T.StructField("FanID", T.StringType()),
        T.StructField("RaceID", T.StringType()),
        T.StructField("Timestamp", T.StringType()),  # opaque string in the
        # reference: never parsed (only appears in the KEEP projection,
        # reference src/pipeline.py:190)
        T.StructField("ViewerLocationCountry", T.StringType()),
        T.StructField("DeviceType", T.StringType()),
        T.StructField("EngagementMetric_secondswatched", T.LongType()),
        T.StructField("PredictionClicked", T.BooleanType()),
        T.StructField("MerchandisingClicked", T.BooleanType()),
    ]
)

# LocationData output struct (reference src/pipeline.py:114-120, 174-181).
# NOTE: "official language" legitimately contains a space — legal in Spark
# structs; quote with backticks in SQL paths.
LOCATION_FIELDS = ["country", "capital", "continent", "official language", "currency"]

LOCATION_SCHEMA = T.StructType([T.StructField(f, T.StringType()) for f in LOCATION_FIELDS])

# Output projection order (reference src/pipeline.py:187-196).
KEEP = [
    "FanID",
    "RaceID",
    "Timestamp",
    "DeviceType",
    "EngagementMetric_secondswatched",
    "PredictionClicked",
    "MerchandisingClicked",
    "LocationData",
]

# --- Driver testdata tables (/root/testdata/sf*/; FIXTURES.md §4) ---
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime SQL confs this package's correctness depends on —
    idempotent and safe to call per-query, so results are right even when
    the caller (e.g. the driver harness) built its own SparkSession
    without session.get_spark():

    - nanosAsLong: Spark's reader rejects parquet TIMESTAMP(NANOS)
      (events.ts) outright without it;
    - UTC session timezone: epoch/date-string outputs must match the
      UTC-naive DuckDB oracle regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Key under which Spark's parquet writer stores the written schema.
SPARK_FOOTER_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: str) -> T.StructType:
    """The schema of the parquet file ``path`` (for a directory, its
    first part file), read from the file's footer by pyarrow on the
    driver — no Spark job, where ``spark.read.parquet(path)`` without a
    schema runs one to infer it. ``spark.read.schema(footer_schema(p))
    .parquet(p)`` has the schema Spark infers for ``p``: as in Spark's
    own inference, a file Spark wrote gives the schema Spark stored in
    its footer. Otherwise Arrow types map as Spark's
    ``from_arrow_schema`` maps them (a tz-less timestamp as
    TIMESTAMP_NTZ), and a TIMESTAMP(NANOS) column is LongType, what the
    reader yields under nanosAsLong. Fields keep the nullability the
    file declares; Spark's file sources read a given schema as
    nullable. An Arrow type ``from_arrow_schema`` cannot map raises
    ``TypeError``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        path = min(glob.glob(os.path.join(path, "*.parquet")))
    arrow = pq.read_schema(path)
    spark_schema = (arrow.metadata or {}).get(SPARK_FOOTER_KEY)
    if spark_schema is not None:
        return T.StructType.fromJson(json.loads(spark_schema))
    arrow = pa.schema(
        [
            f.with_type(pa.int64())
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            else f
            for f in arrow
        ]
    )
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata parquet table with the schema of its footer
    (:func:`footer_schema`), so building a plan over it runs no Spark
    job; column pruning + predicate pushdown apply as usual.

    Timestamp normalization — the driver has shipped the time columns
    two ways across rounds, and both must land as session-TZ TIMESTAMP
    (LTZ), which every plan here assumes (unix_micros/session_window
    reject TIMESTAMP_NTZ):
    - parquet TIMESTAMP(NANOS): illegal for Spark's reader, arrives as a
      nanosecond long (nanosAsLong) and is truncated to microseconds,
      matching DuckDB/Arrow ns->us truncation;
    - parquet timestamp[us] without tz: read as TIMESTAMP_NTZ, cast to
      TIMESTAMP — value-preserving under the UTC session timezone and
      identical to how the UTC-naive DuckDB oracle sees it."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    return normalize_nanos_ts(spark.read.schema(footer_schema(path)).parquet(path))


def driver_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """A small driver-held table (``rows`` of tuples, ``schema`` in DDL
    or as a ``StructType``) as a LocalRelation, built through Arrow. The
    package's one ``createDataFrame`` call: a list passed straight to
    ``createDataFrame`` becomes a Python RDD instead, and every scan of
    it starts Python workers, one per partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], arrow)
    return spark.createDataFrame(table, struct)


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as TT

    if col in df.columns and isinstance(df.schema[col].dataType, TT.LongType):
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, TT.TimestampNTZType)
    ]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(TT.TimestampType()))
    return df
