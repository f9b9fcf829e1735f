"""Time-window operators over the events table, batch form
(SURVEY.md §2B "Streaming" row). Each window aggregation is defined once
here (tumbling_agg, sliding_agg, session_agg) and streaming/windows.py
applies the same function to the watermarked event stream. Both forms
of each pair share one DuckDB oracle, which is what checks the stream;
tests/test_streaming.py also compares tumbling batch against stream
row for row.

Window starts are emitted as epoch integers: Spark's F.window aligns to
the Unix epoch, so `unix_timestamp(window.start)` equals
`floor(epoch(ts)/w)*w` — which is what the oracle computes. Gap/window
arithmetic runs on microseconds (events carry sub-second timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..operators.sessionize import session_window_agg
from ..schemas import driver_frame, load_table
from .analytics import TIMESERIES_CUSUM_SQL as _CUSUM_ORACLE_SQL
from .spec import QuerySpec


def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type: count + value sum."""
    return tumbling_agg(load_table(spark, sf_dir, "events"))


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per (1-hour tumbling window, event_type): count + value sum."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


WINDOW_TUMBLING_SQL = f"""
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS window_start_s,
       event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour, slide 30 min): each event lands in
    exactly 2 windows. Oracle reproduces the window-assignment rule with
    generate_series over slide-aligned starts."""
    return sliding_agg(load_table(spark, sf_dir, "events"))


def sliding_agg(events: DataFrame) -> DataFrame:
    """Per sliding window (1 hour, slide 30 min): count + value sum."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "n_events",
            "sum_value",
        )
    )


WINDOW_SLIDING_SQL = f"""
WITH assigned AS (
  SELECT e.value, g.s AS window_start_s
  FROM events e,
       UNNEST(generate_series(CAST(floor(epoch(e.ts)/1800) AS BIGINT)*1800 - 1800,
                              CAST(floor(epoch(e.ts)/1800) AS BIGINT)*1800,
                              1800)) AS g(s)
)
SELECT window_start_s, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM assigned GROUP BY window_start_s
"""


def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via native
    F.session_window. Oracle: the lag+cumsum islands idiom — semantically
    identical (new session when gap >= 30 min, microsecond precision)."""
    return session_agg(load_table(spark, sf_dir, "events"))


def session_agg(events: DataFrame) -> DataFrame:
    """Per (user_id, 30-min-gap session): start (epoch micros), count,
    value sum."""
    return session_window_agg(
        events, key="user_id", ts="ts", gap="30 minutes", value="value"
    )


WINDOW_SESSION_SQL = f"""
WITH ordered AS (
  SELECT user_id, value, epoch_us(ts) AS tus,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_tus IS NULL OR tus - prev_tus >= 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sess AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(tus) AS session_start_us, COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM sess GROUP BY user_id, sid
"""


def dedup_keyed_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup, batch analog of dropDuplicatesWithinWatermark: keep
    the FIRST event per (user_id, event_type) by (ts, event_id) — a
    deterministic total order, where dropDuplicates would keep an
    arbitrary row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us"))
    )


DEDUP_KEYED_FIRST_SQL = """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation executed through Structured
    Streaming (readStream over the same parquet, watermark, memory sink,
    drained synchronously). Replayed cold all data is one batch, so no
    rows fall past the watermark and the result equals the batch form —
    hence the same oracle as window_tumbling."""
    from ..streaming.windows import run_tumbling_stream

    return run_tumbling_stream(spark, sf_dir)


def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregation executed through Structured
    Streaming. Cold one-batch replay equals the batch form (no rows fall
    past the watermark), so it shares window_sliding's
    generate_series-assignment oracle."""
    from ..streaming.windows import run_sliding_stream

    return run_sliding_stream(spark, sf_dir)


def streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) executed through Structured Streaming
    with a watermark (state finalizes when no event can extend a session).
    Cold one-batch replay == the batch session_window form, so it shares
    window_session's islands oracle."""
    from ..streaming.windows import run_session_stream

    return run_session_stream(spark, sf_dir)


def streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running per-user totals. In a cold one-batch
    replay each user emits exactly one final row, so the result equals a
    plain per-user aggregate — giving the Python state-store path a full
    value oracle."""
    from ..streaming.stateful import run_stateful_counter

    return run_stateful_counter(spark, sf_dir)


STREAMING_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY user_id
"""


def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark keyed on (user_id, event_type),
    projected to the key set (which event survives depends on arrival
    order across partitions — the KEY SET is the deterministic part)."""
    from ..streaming.windows import run_dedup_within_watermark

    return run_dedup_within_watermark(spark, sf_dir).select("user_id", "event_type")


STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (purchases ⋈ signups within 24 h,
    same user). One-batch cold replay == the equivalent batch join, so
    the oracle is plain SQL."""
    from ..streaming.joins import purchases_after_signup_stream

    return purchases_after_signup_stream(spark, sf_dir)


STREAMING_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, s.event_id AS signup_id,
       epoch_us(p.ts) AS p_ts_us, epoch_us(s.ts) AS s_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id
 AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 24 HOUR
"""


def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join (purchases ⟕ signups
    within 24 h, same user) — exercises watermark EXPIRY: unmatched
    purchases emit with NULL signup columns only after the watermark
    proves no match can arrive. Result bounded to purchases ≥ 2 h before
    max event time so the cold replay equals the batch left join (see
    streaming/joins.purchases_left_signup_stream)."""
    from ..streaming.joins import purchases_left_signup_stream

    return purchases_left_signup_stream(spark, sf_dir)


STREAMING_STREAM_LEFT_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, s.event_id AS signup_id,
       epoch_us(p.ts) AS p_ts_us, epoch_us(s.ts) AS s_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id
 AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 24 HOUR
WHERE p.ts <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
"""


def streaming_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once delivery: stream the events table through
    a foreachBatch IdempotentParquetSink (per-batch directory + commit
    marker — see streaming/sinks.py), read the committed batches back,
    and aggregate. At-least-once replay of a committed batch id is a
    no-op, so the readback equals the source exactly — which is what the
    plain batch-aggregate oracle checks."""
    from ..streaming.sinks import IdempotentParquetSink, replay

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # One slice, so one micro-batch; the read-off spans every committed
    # batch_id=N directory and is one row per event_type.
    return replay(
        ev, F.lit(0), IdempotentParquetSink,
        lambda back: back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value")
        ),
        n=1,
    )


STREAMING_FOREACH_BATCH_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type
"""


def streaming_cusum_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming CUSUM (streaming/sinks.CusumStateSink):
    per-user drift state carried as ONE decimal across time-ordered
    micro-batches; cold replay over any slicing equals the one-shot
    batch closed form, so the oracle is TIMESERIES_CUSUM_SQL verbatim
    — the strongest possible check of the carry algebra."""
    from ..streaming.sinks import run_cusum_stream

    return run_cusum_stream(spark, sf_dir)


def streaming_file_source_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE incremental file ingest: Structured Streaming's file
    source with an availableNow trigger — the built-in twin of
    maintenance_incremental_manifest (there the manifest diff is
    hand-rolled; here the checkpoint's file log IS the manifest).
    Run 1 lands two order batches and drains them; MORE files then
    arrive in the same landing dir; run 2 restarts from the SAME
    checkpoint and must process ONLY the new files, tagging each run's
    rows. The per-run aggregate hash-matching the orders slices proves
    exactly-once file discovery across restarts — the property that
    makes continuous 100 TB ingest idempotent after any crash.

    Scale shape: file listing is metadata work (the checkpoint log
    bounds the diff); the data path is a plain streamed scan into a
    parquet sink, linear in NEW bytes only."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="graft_filesrc_")
    landing, ckpt, sinkdir = f"{out}/landing", f"{out}/ckpt", f"{out}/sink"
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        orders.filter(F.col("o_orderkey") % 3 != 2).write.parquet(landing)

        def drain(run_id: int) -> None:
            stream = spark.readStream.schema(orders.schema).parquet(landing)
            q = (
                stream.withColumn("run", F.lit(run_id).cast("long"))
                .writeStream.format("parquet")
                .option("path", sinkdir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain(1)
        orders.filter(F.col("o_orderkey") % 3 == 2).write.mode("append").parquet(
            landing
        )
        drain(2)
        back = spark.read.parquet(sinkdir)
        res = back.groupBy("run").agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        return driver_frame(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


STREAMING_FILE_SOURCE_SQL = f"""
SELECT CAST(1 AS BIGINT) AS run, COUNT(*) AS n_rows,
       {sql_dsum('o_totalprice')} AS sum_price,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders WHERE o_orderkey % 3 <> 2
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*), {sql_dsum('o_totalprice')},
       MIN(o_orderkey), MAX(o_orderkey)
FROM orders WHERE o_orderkey % 3 = 2
"""


def streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate dedup over an incremental corpus ingest:
    documents replayed as FOUR micro-batches through a foreachBatch
    MERGE that maintains the content-fingerprint table (md5 of the
    sorted distinct token set — the batch dedup path's word-order-
    insensitive near-dup key) across batches, exactly-once via per-batch
    commit markers + crash-safe state swap (see
    streaming/sinks.FingerprintMergeSink). min/sum associativity makes
    the final table equal the one-shot batch dedup over the union, which
    is what the oracle computes."""
    from ..streaming.sinks import run_neardup_dedup_stream

    return run_neardup_dedup_stream(spark, sf_dir)


def _neardup_sql() -> str:
    from .llm_data import _SQL_FP

    return f"""
WITH fp AS (SELECT doc_id, {_SQL_FP} AS fp FROM documents)
SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM fp GROUP BY fp
"""


def streaming_tfidf_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TF-IDF corpus statistics over a streaming corpus
    ingest: documents replayed as FOUR micro-batches through a
    foreachBatch MERGE that maintains the (term, document-frequency,
    corpus-size) table, exactly-once via in-state commit markers +
    crash-safe swap (streaming/sinks.DocFreqMergeSink). Per-batch DF
    counts and doc counts are sums — associative — so the final state
    equals the one-shot batch DF count over the union, which is what
    the oracle computes; idf uses the same smoothing + round(6)
    convention as the batch text_tfidf_top_terms entry."""
    from ..streaming.sinks import run_tfidf_state_stream

    return run_tfidf_state_stream(spark, sf_dir)


def _tfidf_state_sql() -> str:
    from .llm_data import _TOKS

    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t AS term
  FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
), dfx AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
)
SELECT term, df, n_docs,
       round(ln((n_docs + 1)::DOUBLE / (df + 1)) + 1.0, 6) AS idf
FROM dfx, n
"""


def streaming_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation over a streaming corpus ingest: documents
    replayed as FOUR micro-batches through a foreachBatch MERGE that
    decontaminates each batch against a STATIC benchmark shingle set and
    sums per-source counters (docs, contaminated, urls, emails,
    blocklist hits) into state — exactly-once via in-state commit
    markers + crash-safe swap (streaming/sinks.CurationStatsMergeSink).
    Every verdict depends only on (doc, static set) and every counter is
    a sum, so cold replay equals the one-shot batch curation pass the
    oracle computes."""
    from ..streaming.sinks import run_curation_stats_stream

    return run_curation_stats_stream(spark, sf_dir)


def _curation_stats_sql() -> str:
    from ..operators import curation as C
    from .curation import DECON_MOD, DECON_N, DECON_THRESHOLD
    from .llm_data import _TOKS

    return rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+{DECON_N - 1}], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(tk) - {DECON_N - 1})) AS g(i)
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh
  WHERE doc_id % {DECON_MOD} <> 0 GROUP BY doc_id
), hits AS (
  SELECT s.doc_id, COUNT(*) AS n_hits
  FROM sh s JOIN bench USING (shingle)
  WHERE s.doc_id % {DECON_MOD} <> 0
  GROUP BY s.doc_id
), decon AS (
  SELECT d.doc_id, d.source,
         CASE WHEN COALESCE(sz.n_sh, 0) > 0
                   AND round(COALESCE(h.n_hits, 0)::DOUBLE / sz.n_sh, 6)
                       >= {DECON_THRESHOLD}
              THEN 1 ELSE 0 END AS contaminated
  FROM documents d
  LEFT JOIN sizes sz ON d.doc_id = sz.doc_id
  LEFT JOIN hits h ON d.doc_id = h.doc_id
  WHERE d.doc_id % {DECON_MOD} <> 0
), scrub AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{C.URL_RE}')) AS n_urls,
         len(regexp_extract_all(text, '{C.EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{C.BLOCKLIST_RE}')) AS n_blocked
  FROM documents WHERE doc_id % {DECON_MOD} <> 0
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.contaminated) AS BIGINT) AS n_contaminated,
       CAST(SUM(s.n_urls) AS BIGINT) AS n_urls,
       CAST(SUM(s.n_emails) AS BIGINT) AS n_emails,
       CAST(SUM(s.n_blocked) AS BIGINT) AS n_blocked
FROM decon d JOIN scrub s USING (doc_id)
GROUP BY d.source
"""


def streaming_ivf_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance over a streaming embedding
    ingest: vectors replayed as FOUR micro-batches through a
    foreachBatch MERGE that assigns each to its nearest centroid under a
    STATIC deterministic quantizer (Lloyd k-means k=8, iters=2 — refit
    offline, never per batch) and sums per-inverted-list stats into
    state (streaming/sinks.IvfListMergeSink). Assignments depend only on
    (vector, static centroids) and every stat is associative (count /
    min / decimal distance sum), so cold replay equals the one-shot
    batch assignment the oracle computes by replaying the same Lloyd
    unrolling as CTEs — the similarity family's streaming-parity entry,
    completing the set (dedup: neardup, text: tfidf, curation: stats)."""
    from ..streaming.sinks import run_ivf_state_stream

    return run_ivf_state_stream(spark, sf_dir)


def _ivf_state_sql() -> str:
    from .llm_data import _KMEANS_DIST, _kmeans_ctes

    ctes, cfinal = _kmeans_ctes(8, 2)
    return ctes + f""", assigned AS (
  SELECT vec_id, cluster, d FROM (
    SELECT v.vec_id, c.cluster, {_KMEANS_DIST} AS d,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM v, {cfinal} c
  ) WHERE rn = 1
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs, MIN(vec_id) AS min_vec_id,
       CAST(CAST(SUM(CAST(d AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_dist
FROM assigned GROUP BY cluster
"""


def streaming_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-source BPE token totals over a streaming corpus
    ingest: documents replayed as FOUR micro-batches through a
    foreachBatch MERGE that segments each batch under the STATIC merge
    table (text_bpe_apply's zero-shuffle scalar chain) and sums the
    per-source counters (docs, alpha chars, BPE tokens, merges) into
    state — the "tokens ingested per source" ledger that feeds mixture
    weighting (streaming/sinks.TokenAccountingMergeSink). Exactly-once
    via in-state commit markers + crash-safe swap; every count depends
    only on (doc, static table) and state is one row per source with
    associative sums, so cold replay equals the one-shot batch
    bpe_apply_stats the oracle computes."""
    from ..streaming.sinks import run_token_accounting_stream

    return run_token_accounting_stream(spark, sf_dir)


def _token_accounting_sql() -> str:
    from .llm_data import _bpe_seg_sql_expr

    return f"""
WITH seg AS (
  SELECT doc_id, source,
         {_bpe_seg_sql_expr()} AS s,
         length(regexp_replace(lower(text), '[^a-z]+', '', 'g')) AS n_alpha
  FROM documents
), per_doc AS (
  SELECT source, n_alpha,
         length(s) - length(replace(s, '(', '')) AS n_bpe
  FROM seg
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_alpha) AS BIGINT) AS n_alpha_chars,
       CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(n_alpha - n_bpe) AS BIGINT) AS n_merges_applied
FROM per_doc GROUP BY source
"""


def streaming_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile summaries over an event ingest: events
    replayed as FOUR micro-batches through a foreachBatch MERGE that
    maintains per-(event_type, bucket) fixed-width histogram counts
    under STATIC calibrated bounds, then serves per-type and '__all__'
    quantiles as a pure read-off of the state
    (streaming/sinks.HistogramMergeSink) — the streaming twin of
    agg_quantile_partial_merge, completing the mergeable-summary family
    (HLL: agg_hll_partial_merge / tfidf: streaming_tfidf_state).
    Exactly-once via in-state commit markers + crash-safe swap; bucket
    assignment depends only on (value, static bounds) and counts are
    sums, so cold replay equals the one-shot batch histogram the oracle
    computes, with the same one-bucket-width error bound."""
    from ..streaming.sinks import run_quantile_state_stream

    return run_quantile_state_stream(spark, sf_dir)


def _quantile_state_sql() -> str:
    from .relational import _QPM_BUCKETS, _quantile_pick_sql

    return f"""
WITH bounds AS (
  SELECT min(value) AS mn, max(value) AS mx FROM events
),
assigned AS (
  SELECT event_type,
         CAST(CASE WHEN mx = mn THEN 0
              ELSE least(floor((value - mn) * {_QPM_BUCKETS}
                               / (mx - mn)), {_QPM_BUCKETS - 1})
              END + 1 AS BIGINT) AS bucket
  FROM events CROSS JOIN bounds
),
partials AS (
  SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM assigned GROUP BY 1, 2
),
{_quantile_pick_sql("SELECT event_type AS scope, bucket, cnt FROM partials")}"""


def streaming_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATCH_RECOGNIZE: the view->click->purchase sequence
    detected across FOUR time-ordered micro-batches with BOUNDED carry
    state (each user's last 2 events), so boundary-straddling runs are
    found and every match is emitted exactly once with no dedup
    bookkeeping — a match always ENDS in the batch that completes it
    (streaming/sinks.PatternMatchSink). Cold replay equals the one-shot
    batch pattern scan, so the oracle is pattern_match_sequence's own
    SQL."""
    from ..streaming.sinks import run_pattern_match_stream

    return run_pattern_match_stream(spark, sf_dir)


def _pattern_match_sql() -> str:
    from .analytics import PATTERN_MATCH_SQL

    return PATTERN_MATCH_SQL


def streaming_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous hourly aggregate maintained across FOUR replayed
    micro-batches by a foreachBatch MERGE into a parquet state table
    (read + union + re-aggregate + atomic swap — the engine-only
    Delta/Iceberg `MERGE INTO` rollup). Associative count/decimal-sum
    partials make the final state independent of batch boundaries, so it
    equals the one-shot batch aggregate the oracle computes (see
    streaming/sinks.run_rollup_upsert_stream)."""
    from ..streaming.sinks import run_rollup_upsert_stream

    return run_rollup_upsert_stream(spark, sf_dir)


STREAMING_ROLLUP_UPSERT_SQL = f"""
SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_s,
       event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


def streaming_url_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming URL-canonicalization dedup over a crawl ingest: the
    documents table (with the deterministic raw-URL fixture column)
    replayed as FOUR micro-batches through a foreachBatch MERGE that
    canonicalizes each batch's URLs and maintains state at
    (canonical_url, raw_url) grain — min keeper, summed counts — so
    the per-canonical report (keeper_id, n_docs, n_raw_variants) is a
    pure read-off (streaming/sinks.UrlDedupMergeSink); the streaming
    twin of dedup_url_canonicalize.
    Exactly-once via in-state commit markers + crash-safe swap;
    canonicalization depends only on the row and all state columns are
    associative, so cold replay equals the one-shot batch dedup the
    oracle computes."""
    from ..streaming.sinks import run_url_dedup_stream

    return run_url_dedup_stream(spark, sf_dir)


def _url_dedup_sql() -> str:
    from .llm_data import DEDUP_URL_CANONICALIZE_SQL

    return DEDUP_URL_CANONICALIZE_SQL


def streaming_cdc_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC changelog compaction: the orders-derived change
    stream replayed as FOUR micro-batches through a foreachBatch MERGE
    that keeps per-key (max seq, op/payload at max seq, summed change
    count) — arg-max-by-seq composes associatively, so cold replay over
    any batch slicing equals the one-shot batch compaction
    (streaming/sinks.CdcApplyMergeSink); the streaming twin of
    cdc_apply_changelog. Tombstones stay in state and filter at
    read-off, mirroring the batch HAVING. Exactly-once via in-state
    commit markers + crash-safe swap."""
    from ..streaming.sinks import run_cdc_apply_stream

    return run_cdc_apply_stream(spark, sf_dir)


def _cdc_apply_sql() -> str:
    from .pipeline_ops import CDC_APPLY_SQL

    return CDC_APPLY_SQL


def streaming_scd2_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance: the orders-derived
    per-customer change stream (scd2_build_from_changes' exact fixture)
    replayed as FOUR micro-batches through a foreachBatch MERGE that
    rewrites ONLY the affected keys' version chains per batch
    (anti/semi split against state + keyed lead() re-window over the
    affected keys' change sets — streaming/sinks.Scd2MergeSink); the
    write-side streaming twin of scd2_build_from_changes and the
    lakehouse family's missing write-path sibling of
    streaming_cdc_apply_state. Per key the chain is a deterministic
    function of the SET of its changes and (key, seq) dedup absorbs
    replays, so cold replay over any batch slicing equals the one-shot
    batch build — the oracle is SCD2_BUILD_SQL itself. Exactly-once via
    in-state commit markers + crash-safe swap."""
    from ..streaming.sinks import run_scd2_stream

    return run_scd2_stream(spark, sf_dir)


def _scd2_build_sql() -> str:
    from .pipeline_ops import SCD2_BUILD_SQL

    return SCD2_BUILD_SQL


def streaming_freshness_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event-time freshness monitor: events replayed as FOUR
    micro-batches through a foreachBatch MERGE keeping a per-(type,
    hour-bucket) grid of (count, min ts, max ts) — all sum/min/max, so
    cold replay equals the one-shot batch audit — with the freshness
    report (counts, epoch bounds, per-type lag vs the high-water mark,
    and the trailing 24 COMPLETE hour buckets) served as a pure
    read-off of the grid (streaming/sinks.FreshnessMergeSink); the
    streaming twin of dq_event_freshness, at the bucket grain a
    streaming monitor can answer exactly (the sub-hour-exact window is
    the batch entry's job). Exactly-once via in-state commit markers +
    crash-safe swap."""
    from ..streaming.sinks import run_freshness_stream

    return run_freshness_stream(spark, sf_dir)


STREAMING_FRESHNESS_SQL = """
WITH hwm AS (
  SELECT MAX(ts) AS hwm, date_trunc('hour', MAX(ts)) AS hwm_hour
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS min_epoch_s,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS max_epoch_s,
       CAST((CAST(floor(epoch(MAX(hwm))) AS BIGINT)
             - CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 60 AS BIGINT)
         AS lag_minutes,
       CAST(SUM(CASE WHEN date_trunc('hour', ts)
                          >= hwm_hour - INTERVAL 23 HOURS
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24_buckets
FROM events CROSS JOIN hwm
GROUP BY event_type
"""


def streaming_markov_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-order Markov transition matrix: the events table
    replayed as FOUR time-ordered micro-batches through a foreachBatch
    MERGE keeping (from,to) cell counts (summed — associative) plus a
    per-user LAST-event carry so the batch-boundary transition is
    counted exactly once (streaming/sinks.MarkovMergeSink); the
    streaming twin of analytics_markov_transitions. Cold replay equals
    the one-shot batch fit, so the oracle is the batch entry's own SQL.
    Exactly-once via in-state commit markers + crash-safe swap."""
    from ..streaming.sinks import run_markov_stream

    return run_markov_stream(spark, sf_dir)


def _markov_sql() -> str:
    from .analytics import ANALYTICS_MARKOV_SQL

    return ANALYTICS_MARKOV_SQL


QUERIES: dict[str, QuerySpec] = {
    "streaming_markov_state": QuerySpec(
        streaming_markov_state, _markov_sql(), "streaming"
    ),
    "streaming_scd2_state": QuerySpec(
        streaming_scd2_state, _scd2_build_sql(), "streaming"
    ),
    "streaming_freshness_state": QuerySpec(
        streaming_freshness_state, STREAMING_FRESHNESS_SQL, "streaming"
    ),
    "streaming_cdc_apply_state": QuerySpec(
        streaming_cdc_apply_state, _cdc_apply_sql(), "streaming"
    ),
    "streaming_url_dedup_state": QuerySpec(
        streaming_url_dedup_state, _url_dedup_sql(), "streaming"
    ),
    "streaming_stream_join": QuerySpec(
        streaming_stream_join, STREAMING_STREAM_JOIN_SQL, "streaming"
    ),
    "streaming_stream_left_join": QuerySpec(
        streaming_stream_left_join, STREAMING_STREAM_LEFT_JOIN_SQL, "streaming"
    ),
    "streaming_foreach_batch_sink": QuerySpec(
        streaming_foreach_batch_sink, STREAMING_FOREACH_BATCH_SQL, "streaming"
    ),
    "streaming_file_source_incremental": QuerySpec(
        streaming_file_source_incremental, STREAMING_FILE_SOURCE_SQL,
        "streaming"
    ),
    "streaming_cusum_state": QuerySpec(
        streaming_cusum_state, _CUSUM_ORACLE_SQL, "streaming"
    ),
    "streaming_rollup_upsert": QuerySpec(
        streaming_rollup_upsert, STREAMING_ROLLUP_UPSERT_SQL, "streaming"
    ),
    "streaming_neardup_dedup": QuerySpec(
        streaming_neardup_dedup, _neardup_sql(), "streaming"
    ),
    "streaming_curation_stats": QuerySpec(
        streaming_curation_stats, _curation_stats_sql(), "streaming"
    ),
    "streaming_ivf_state": QuerySpec(
        streaming_ivf_state, _ivf_state_sql(), "streaming"
    ),
    "streaming_tfidf_state": QuerySpec(
        streaming_tfidf_state, _tfidf_state_sql(), "streaming"
    ),
    "streaming_token_accounting": QuerySpec(
        streaming_token_accounting, _token_accounting_sql(), "streaming"
    ),
    "streaming_quantile_state": QuerySpec(
        streaming_quantile_state, _quantile_state_sql(), "streaming"
    ),
    "streaming_pattern_match": QuerySpec(
        streaming_pattern_match, _pattern_match_sql(), "streaming"
    ),
    "window_tumbling": QuerySpec(window_tumbling, WINDOW_TUMBLING_SQL, "time_window"),
    "window_sliding": QuerySpec(window_sliding, WINDOW_SLIDING_SQL, "time_window"),
    "window_session": QuerySpec(window_session, WINDOW_SESSION_SQL, "time_window"),
    "dedup_keyed_first": QuerySpec(dedup_keyed_first, DEDUP_KEYED_FIRST_SQL, "time_window"),
    "streaming_tumbling": QuerySpec(streaming_tumbling, WINDOW_TUMBLING_SQL, "streaming"),
    "streaming_sliding": QuerySpec(streaming_sliding, WINDOW_SLIDING_SQL, "streaming"),
    "streaming_session": QuerySpec(streaming_session, WINDOW_SESSION_SQL, "streaming"),
    "streaming_stateful_counter": QuerySpec(
        streaming_stateful_counter, STREAMING_STATEFUL_SQL, "streaming"
    ),
    "streaming_dedup_watermark": QuerySpec(
        streaming_dedup_watermark, STREAMING_DEDUP_SQL, "streaming"
    ),
}
