"""Structured Streaming forms of the time-window operators.

The aggregations are the batch module's own functions
(plans/windows_batch.tumbling_agg, sliding_agg, session_agg), applied
to the events parquet read as a stream with a 2-hour watermark and
drained to a memory sink. On a real cluster the source becomes
Kafka/files-in-arrival-order and the sink a Delta/parquet append — the
aggregation code does not change.

The memory sink + processAllAvailable pattern drains a bounded source
synchronously, which is how the tests (and the rows-only driver check)
get a deterministic result out of a streaming query.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The file stream source needs the schema up front: the RAW file
    # schema from the footer (ts may be a nanosecond long — see
    # schemas.load_table); the ns->us conversion reapplies on the stream.
    from ..schemas import ensure_session_confs, footer_schema, normalize_nanos_ts

    # The driver harness builds its OWN SparkSession: the nanos-timestamp
    # and UTC confs must be (re)applied here, not assumed from get_spark.
    ensure_session_confs(spark)
    # The file stream source requires a directory; glob-filter to the one
    # events file inside the sf dir.
    stream = (
        spark.readStream.schema(footer_schema(f"{sf_dir}/events.parquet"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_nanos_ts(stream)


def _drain(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming aggregation to completion via a memory sink and
    return the materialized result as a batch DataFrame. The sink's
    temp view is dropped once resolved: the returned frame keeps the
    sink's rows alive, the session catalog does not."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def _watermarked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event stream with a 2-hour watermark: windows older than
    max(event time) - 2 h finalize and leave state."""
    return _stream_events(spark, sf_dir).withWatermark("ts", "2 hours")


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the watermarked tumbling aggregation over the events
    parquet as a stream; complete mode because a cold replay is one batch
    (append mode would emit nothing until the watermark advances past a
    window in a LATER batch)."""
    from ..plans.windows_batch import tumbling_agg

    return _drain(tumbling_agg(_watermarked_events(spark, sf_dir)), "complete")


def run_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the watermarked sliding aggregation as a one-batch cold
    replay (complete mode — see run_tumbling_stream)."""
    from ..plans.windows_batch import sliding_agg

    return _drain(sliding_agg(_watermarked_events(spark, sf_dir)), "complete")


def run_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute streaming sessionization over the events parquet; the
    watermark tells session_window when a session can no longer grow.
    Complete mode because a cold replay is one batch (sessions would
    otherwise wait for a later batch's watermark advance to finalize)."""
    from ..plans.windows_batch import session_agg

    return _drain(session_agg(_watermarked_events(spark, sf_dir)), "complete")


def run_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type). State is evicted once the watermark passes —
    bounded memory on an unbounded stream."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    out = deduped.select("user_id", "event_type", "event_id")
    return _drain(out, "append")
