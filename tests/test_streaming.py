"""Structured Streaming semantics tests (SURVEY.md §2B streaming row):
batch==streaming equivalence for the windowed aggregation, watermarked
dedup, and the applyInPandasWithState custom stateful operator."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F


def rows_multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_streaming_equals_batch_tumbling(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import window_tumbling
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import run_tumbling_stream

    batch = rows_multiset(window_tumbling(spark, sf_dir))
    stream = rows_multiset(run_tumbling_stream(spark, sf_dir))
    assert batch == stream


def test_dedup_within_watermark(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import (
        run_dedup_within_watermark,
    )

    out = run_dedup_within_watermark(spark, sf_dir)
    got = out.count()
    # One batch replay => every (user_id, event_type) key appears exactly
    # once (all duplicates fall inside the watermark window).
    expected = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got == expected
    assert out.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count() == 0


def test_stateful_counter(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.stateful import run_stateful_counter

    out = run_stateful_counter(spark, sf_dir).toPandas().set_index("user_id")
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("tv"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(out) == len(expected)
    for uid, row in expected.iterrows():
        assert out.loc[uid, "n_events"] == row["n_events"], uid
        assert abs(out.loc[uid, "total_value"] - row["tv"]) < 1e-6, uid


def test_streaming_left_outer_equals_batch(spark, sf_dir):
    """Left-outer stream-stream join: unmatched purchases emit with NULL
    signup columns after watermark expiry; bounded result == batch left
    join under the same bound."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.joins import (
        purchases_left_signup_stream,
    )

    out = purchases_left_signup_stream(spark, sf_dir)
    got = rows_multiset(out)

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("s_ts"),
    )
    max_us = ev.agg(F.unix_micros(F.max("ts"))).collect()[0][0]
    batch = (
        p.join(
            s,
            (F.col("user_id") == F.col("s_user_id"))
            & (F.col("s_ts") <= F.col("p_ts"))
            & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
            "leftOuter",
        )
        .select(
            "purchase_id",
            "user_id",
            "signup_id",
            F.unix_micros("p_ts").alias("p_ts_us"),
            F.unix_micros("s_ts").alias("s_ts_us"),
        )
        .filter(F.col("p_ts_us") <= max_us - 2 * 3600 * 1_000_000)
    )
    assert got == rows_multiset(batch)
    # the outer path actually exercised: some purchases have no signup
    assert out.filter(F.col("signup_id").isNull()).count() > 0


def test_foreach_batch_idempotent_sink(spark, sf_dir, tmp_path):
    """Exactly-once by batch-id dedup: a replayed (batch_id, data)
    delivery must not duplicate rows, and a half-written batch replay
    must self-heal via the overwrite."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        IdempotentParquetSink,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _stream_events

    out_dir = str(tmp_path / "sink")
    sink = IdempotentParquetSink(out_dir)
    ev = _stream_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    q = ev.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    n_source = load_table(spark, sf_dir, "events").count()
    committed = sorted(
        int(f.split("_committed_")[1])
        for f in __import__("os").listdir(out_dir)
        if f.startswith("_committed_")
    )
    assert committed, "no batch committed"

    def sink_rows():
        return spark.read.parquet(
            *[f"{out_dir}/batch_id={b}" for b in committed]
        ).count()

    assert sink_rows() == n_source

    # Replay every committed batch with DIFFERENT data: must be a no-op.
    replay_df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    ).limit(5)
    for b in committed:
        sink(replay_df, b)
    assert sink_rows() == n_source

    # A batch whose marker is missing (simulated half-write) self-heals:
    # the rerun overwrites the partial directory, then commits.
    victim = committed[0]
    __import__("os").remove(f"{out_dir}/_committed_{victim}")
    sink(replay_df, victim)
    assert sink.is_committed(victim)
    # the rerun overwrote the victim directory with the 5 replay rows
    assert spark.read.parquet(f"{out_dir}/batch_id={victim}").count() == 5


def test_streaming_neardup_dedup_replay(spark, sf_dir, tmp_path):
    """Streaming near-dup dedup: (1) the end-to-end entry equals the
    one-shot batch fingerprint dedup with no duplicate survivors;
    (2) replaying a committed batch id (at-least-once delivery) is a
    no-op; (3) a stranded rename-aside state (simulated crash between
    the two swap renames) is recovered, not dropped."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import fingerprint_col
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_neardup_dedup,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        FingerprintMergeSink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_expected = rows_multiset(
        docs.select("doc_id", fingerprint_col(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("fp", "keep_doc_id", "n_copies")
    )

    # (1) end-to-end entry: cold replay == batch dedup, survivors unique
    out = streaming_neardup_dedup(spark, sf_dir)
    assert rows_multiset(out.select("fp", "keep_doc_id", "n_copies")) == batch_expected
    assert out.groupBy("fp").count().filter(F.col("count") > 1).count() == 0

    # (2)+(3) drive the sink directly with 3 manual slices
    state = str(tmp_path / "nd" / "state")
    sink = FingerprintMergeSink(state)
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    # the commit marker lives INSIDE the state dir (installed by the
    # same rename as the data — no merged-but-unmarked crash window)
    assert os.path.exists(os.path.join(state, "_merged_0"))
    sink(slices[1], 1)
    # markers carry forward across swaps
    assert os.path.exists(os.path.join(state, "_merged_0"))
    assert os.path.exists(os.path.join(state, "_merged_1"))

    # simulated crash between the swap renames: state renamed aside,
    # new state not yet installed -> recovery must pick up state_old*
    os.rename(state, f"{state}_old99")
    sink(slices[2], 2)
    merged = spark.read.parquet(state)
    assert rows_multiset(merged.select("fp", "keep_doc_id", "n_copies")) == batch_expected

    # replay of every committed batch with DIFFERENT data: no-op
    replay = docs.limit(7)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    after = spark.read.parquet(state)
    assert rows_multiset(after.select("fp", "keep_doc_id", "n_copies")) == batch_expected


def test_streaming_tfidf_state_replay(spark, sf_dir, tmp_path):
    """Incremental TF-IDF DF state: (1) the end-to-end entry equals the
    one-shot batch DF count (associative merge); (2) replaying a
    committed batch id is a no-op even with different data; (3) a
    stranded rename-aside state is recovered with its corpus total."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import tokens
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_tfidf_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import DocFreqMergeSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    batch_expected = rows_multiset(
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
    )

    # (1) end-to-end entry: cold replay == batch DF count over the union
    out = streaming_tfidf_state(spark, sf_dir)
    assert rows_multiset(out.select("term", "df", "n_docs")) == batch_expected

    # (2)+(3) drive the sink directly with 3 manual slices
    state = str(tmp_path / "tf" / "state")
    sink = DocFreqMergeSink(state)
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)

    # simulated crash between the swap renames
    os.rename(state, f"{state}_old7")
    sink(slices[2], 2)
    merged = spark.read.parquet(state)
    assert rows_multiset(merged.select("term", "df", "n_docs")) == batch_expected

    # replay of every committed batch with DIFFERENT data: no-op
    replay = docs.limit(9)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    after = spark.read.parquet(state)
    assert rows_multiset(after.select("term", "df", "n_docs")) == batch_expected


def test_current_state_numeric_old_suffix(tmp_path):
    """Stranded-state recovery picks the numerically largest batch-id
    suffix: lexicographic sort would pick state_old9 over state_old10."""
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import _current_state

    state = str(tmp_path / "state")
    __import__("os").makedirs(f"{state}_old9")
    __import__("os").makedirs(f"{state}_old10")
    assert _current_state(state) == f"{state}_old10"


def test_streaming_curation_stats_replay(spark, sf_dir, tmp_path):
    """Incremental curation counters: (1) the end-to-end entry equals
    the one-shot batch curation pass (static benchmark set + associative
    sums); (2) replaying a committed batch id with different data is a
    no-op; (3) a stranded rename-aside state is recovered."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.operators import curation as C
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        _explode_shingles,
        _shingle_arrays,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.curation import (
        DECON_MOD,
        DECON_N,
        DECON_THRESHOLD,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_curation_stats,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        CurationStatsMergeSink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bench = (
        _explode_shingles(
            _shingle_arrays(docs.filter(F.col("doc_id") % DECON_MOD == 0), DECON_N)
        )
        .select("shingle")
        .distinct()
    )

    def one_shot(d):
        flags = C.decontaminate(
            d.select("doc_id", "text"),
            n=DECON_N,
            mod=DECON_MOD,
            threshold=DECON_THRESHOLD,
            bench_shingles=bench,
            exclude_bench_ids=True,
        )
        scrub = C.scrub_blocklist(d.filter(F.col("doc_id") % DECON_MOD != 0))
        return (
            flags.select("doc_id", F.col("contaminated").cast("int").alias("c"))
            .join(scrub.select("doc_id", "n_urls", "n_emails", "n_blocked"), "doc_id")
            .join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("c").cast("long").alias("n_contaminated"),
                F.sum("n_urls").cast("long").alias("n_urls"),
                F.sum("n_emails").cast("long").alias("n_emails"),
                F.sum("n_blocked").cast("long").alias("n_blocked"),
            )
        )

    cols = ["source", "n_docs", "n_contaminated", "n_urls", "n_emails", "n_blocked"]
    batch_expected = rows_multiset(one_shot(docs).select(*cols))

    # (1) end-to-end entry: cold replay == one-shot batch pass
    out = streaming_curation_stats(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # (2)+(3) drive the sink directly with 3 manual slices
    state = str(tmp_path / "cs" / "state")
    sink = CurationStatsMergeSink(
        state, bench, n=DECON_N, mod=DECON_MOD, threshold=DECON_THRESHOLD
    )
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)

    # simulated crash between the swap renames: recovery picks state_old*
    os.rename(state, f"{state}_old42")
    sink(slices[2], 2)
    assert rows_multiset(spark.read.parquet(state).select(*cols)) == batch_expected

    # replay of every committed batch with DIFFERENT data: no-op
    replay = docs.limit(7)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert rows_multiset(spark.read.parquet(state).select(*cols)) == batch_expected


def test_streaming_ivf_state_replay(spark, sf_dir, tmp_path):
    """Incremental IVF list stats: (1) the end-to-end entry equals the
    one-shot batch assignment under the static quantizer; (2) replaying
    a committed batch id with different data is a no-op; (3) a stranded
    rename-aside state is recovered."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.functions.numeric import _dec_to_double
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        _pq_fit,
        _sq_dist,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_ivf_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import IvfListMergeSink

    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vecs = raw.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    _, cents, _ = _pq_fit(raw, m=1, k=8, iters=2)

    d = F.round(_sq_dist(F.col("v"), F.col("c")), 6)
    batch_expected = rows_multiset(
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "cluster", d.alias("d"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "cluster")).alias("m"))
        .select("vec_id", F.col("m.cluster").alias("cluster"), F.col("m.d").alias("d"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            _dec_to_double(F.sum(F.col("d").cast("decimal(18,6)"))).alias("sum_dist"),
        )
    )
    cols = ["cluster", "n_vecs", "min_vec_id", "sum_dist"]

    # (1) end-to-end entry: cold replay == one-shot batch assignment
    out = streaming_ivf_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # (2)+(3) drive the sink directly with 3 manual slices
    state = str(tmp_path / "ivf" / "state")
    sink = IvfListMergeSink(state, cents)

    # a batch shuffles per-list partial rows, never one row per vector
    probe = sink.merge(raw, None)
    probe.collect()
    executed = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in executed
    assert not re.search(r"Exchange hashpartitioning\(vec_id#", executed), executed

    slices = [raw.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)

    # simulated crash between the swap renames: recovery picks state_old*
    os.rename(state, f"{state}_old11")
    sink(slices[2], 2)

    def state_rows():
        return rows_multiset(
            spark.read.parquet(state)
            .select("cluster", "n_vecs", "min_vec_id",
                    _dec_to_double(F.col("sum_d")).alias("sum_dist"))
        )

    assert state_rows() == batch_expected

    # replay of every committed batch with DIFFERENT data: no-op
    replay = raw.limit(5)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert state_rows() == batch_expected


def test_streaming_token_accounting_replay(spark, sf_dir, tmp_path):
    """Running per-source token ledger: (1) the end-to-end entry equals
    the one-shot batch bpe_apply_stats rollup (static merge table +
    associative sums); (2) replaying a committed batch id with different
    data is a no-op; (3) a stranded rename-aside state is recovered."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.operators import textops as T
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_token_accounting,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        TokenAccountingMergeSink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")

    def one_shot(d):
        return (
            T.bpe_apply_stats(d.select("doc_id", "text"))
            .join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_alpha_chars").cast("long").alias("n_alpha_chars"),
                F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
                F.sum("n_merges_applied").cast("long").alias("n_merges_applied"),
            )
        )

    cols = ["source", "n_docs", "n_alpha_chars", "n_bpe_tokens", "n_merges_applied"]
    batch_expected = rows_multiset(one_shot(docs).select(*cols))

    # (1) end-to-end entry: cold replay == one-shot batch pass
    out = streaming_token_accounting(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # (2)+(3) drive the sink directly with 3 manual slices
    state = str(tmp_path / "ta" / "state")
    sink = TokenAccountingMergeSink(state)
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)

    # simulated crash between the swap renames: recovery picks state_old*
    os.rename(state, f"{state}_old42")
    sink(slices[2], 2)
    assert rows_multiset(spark.read.parquet(state).select(*cols)) == batch_expected

    # replay of every committed batch with DIFFERENT data: no-op
    replay = docs.limit(7)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert rows_multiset(spark.read.parquet(state).select(*cols)) == batch_expected


def test_streaming_quantile_state_replay(spark, sf_dir, tmp_path):
    """Streaming histogram quantile state: (1) the end-to-end entry's
    estimates carry the one-bucket-width error bound vs exact per-scope
    quantiles AND equal the one-shot batch histogram read-off; (2)
    replaying a committed batch id with different data is a no-op; (3) a
    stranded rename-aside state is recovered."""
    import math
    import os

    from pipeline_apache_beam_entrega1_cs_spark.plans.relational import (
        _QPM_BUCKETS,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_quantile_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        HistogramMergeSink,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    rows = ev.select("event_type", "value").collect()
    by_scope: dict[str, list[float]] = {"__all__": []}
    for r in rows:
        by_scope.setdefault(r["event_type"], []).append(r["value"])
        by_scope["__all__"].append(r["value"])
    for v in by_scope.values():
        v.sort()
    allv = by_scope["__all__"]
    width = (allv[-1] - allv[0]) / _QPM_BUCKETS

    # (1) end-to-end entry: error bound vs exact lower quantiles
    out = streaming_quantile_state(spark, sf_dir).collect()
    assert {r["scope"] for r in out} == set(by_scope)
    for r in out:
        vals = by_scope[r["scope"]]
        assert r["n_rows"] == len(vals)
        t = vals[math.ceil(r["q"] * len(vals)) - 1]
        assert t - 1e-6 <= r["est_quantile"] <= t + width + 1e-6, (r, t, width)

    # (2)+(3) drive the sink directly with 3 manual slices
    mn, mx = allv[0], allv[-1]
    state = str(tmp_path / "qs" / "state")
    sink = HistogramMergeSink(state, float(mn), float(mx), _QPM_BUCKETS)
    slices = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)

    # simulated crash between the swap renames: recovery picks state_old*
    os.rename(state, f"{state}_old42")
    sink(slices[2], 2)
    merged = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    assert sum(merged.values()) == len(allv)

    # replay of every committed batch with DIFFERENT data: no-op
    replay = ev.limit(7)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    after = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    assert after == merged


def test_streaming_pattern_match_replay(spark, sf_dir, tmp_path):
    """Streaming CEP: (1) the end-to-end entry equals the one-shot batch
    pattern scan (time-ordered slices + bounded carry); (2) a planted
    boundary-straddling run is detected when fed as manual slices; (3)
    replaying a committed batch id with different data is a no-op."""
    import datetime

    from pipeline_apache_beam_entrega1_cs_spark.plans.analytics import (
        pattern_match_sequence,
    )
    import pipeline_apache_beam_entrega1_cs_spark.plans.analytics as A
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_pattern_match,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        PatternMatchSink,
    )

    cols = ["user_id", "start_event_id", "end_event_id", "start_ts_us",
            "duration_us"]
    batch_expected = rows_multiset(
        pattern_match_sequence(spark, sf_dir).select(*cols)
    )

    # (1) end-to-end: cold replay over time-ordered slices == batch scan
    out = streaming_pattern_match(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # (2) planted straddle: view|click in batch 0, purchase in batch 1 —
    # only the carry can see it
    t = lambda s: datetime.datetime(2025, 1, 1, 0, 0, s)
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    state = str(tmp_path / "pm" / "state")
    sink = PatternMatchSink(state, ("view", "click", "purchase"))
    sink(mk([(1, t(1), 1, "view"), (1, t(2), 2, "click")]), 0)
    sink(mk([(1, t(3), 3, "purchase")]), 1)
    got = spark.read.parquet(state).filter(F.col("kind") == "match").collect()
    assert len(got) == 1
    assert got[0]["start_event_id"] == 1 and got[0]["end_event_id"] == 3

    # (3) replay of a committed batch with different data: no-op
    assert sink.is_committed(1)
    sink(mk([(9, t(7), 7, "view"), (9, t(8), 8, "click"),
             (9, t(9), 9, "purchase")]), 1)
    again = spark.read.parquet(state).filter(F.col("kind") == "match").collect()
    assert len(again) == 1


def test_cusum_sink_carry_across_batches(spark, tmp_path):
    """A drift run straddling the batch boundary must accumulate through
    the carried per-user S — feed two batches manually and compare every
    event against the plain recurrence."""
    import datetime as dt
    from decimal import Decimal

    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        CusumStateSink,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # user 1: persistent +1.5 drift; user 2: stays at k
        (i, t0 + dt.timedelta(minutes=i), uid, v)
        for i, (uid, v) in enumerate(
            [(1, 2.0), (1, 2.0), (2, 0.5), (1, 2.0), (1, 2.0), (2, 0.5)]
        )
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    sink = CusumStateSink(str(tmp_path / "state"))
    sink(df.filter(F.col("event_id") < 3), 0)   # batch 0
    sink(df.filter(F.col("event_id") >= 3), 1)  # batch 1
    out = {
        r.event_id: Decimal(r.payload)
        for r in spark.read.parquet(sink.state)
        .filter(F.col("kind") == "out")
        .collect()
    }
    # plain recurrence, k = 0.5
    s = {1: Decimal(0), 2: Decimal(0)}
    expect = {}
    for eid, ts, uid, v in rows:
        s[uid] = max(Decimal(0), s[uid] + Decimal(str(v)) - Decimal("0.5"))
        expect[eid] = s[uid]
    assert {k: v for k, v in out.items()} == expect
    # the straddling run really accumulated: event 4 reached 4x1.5
    assert expect[4] == Decimal("6.0") and out[4] == Decimal("6.0")


def test_streaming_url_dedup_replay(spark, sf_dir, tmp_path):
    """Streaming URL-canonicalization dedup: (1) the end-to-end entry
    equals the one-shot batch dedup (canonicalization is row-local and
    all state columns are associative at (canonical, raw) grain); (2)
    replaying a committed batch id with different data is a no-op; (3)
    a stranded rename-aside state is recovered."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        url_canonical_dedup,
        with_url_column,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_url_dedup_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        UrlDedupMergeSink,
    )

    docs = with_url_column(
        load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ).select("doc_id", "url")
    cols = ["canonical_url", "keeper_id", "n_docs", "n_raw_variants"]
    batch_expected = rows_multiset(url_canonical_dedup(docs).select(*cols))

    # (1) end-to-end entry: cold replay == one-shot batch dedup
    out = streaming_url_dedup_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # (2)+(3) drive the sink directly with 3 manual slices
    state = str(tmp_path / "ud" / "state")
    sink = UrlDedupMergeSink(state)
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)

    # simulated crash between the swap renames: recovery picks state_old*
    os.rename(state, f"{state}_old42")
    sink(slices[2], 2)

    def report(path):
        return rows_multiset(
            spark.read.parquet(path)
            .groupBy("canonical_url")
            .agg(
                F.min("keeper_id").alias("keeper_id"),
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_raw_variants"),
            )
            .select(*cols)
        )

    assert report(state) == batch_expected

    # replay of every committed batch with DIFFERENT data: no-op
    replay = docs.limit(7)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert report(state) == batch_expected


def test_streaming_cdc_apply_replay(spark, sf_dir, tmp_path):
    """Streaming CDC compaction: (1) end-to-end equals the one-shot
    batch compaction (arg-max-by-seq merges associatively); (2)
    replaying a committed batch id is a no-op; (3) a stranded
    rename-aside state is recovered."""
    import os

    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_cdc_apply_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        CdcApplyMergeSink,
    )

    cols = ["key", "last_seq", "price", "n_changes"]
    batch_expected = rows_multiset(
        P.cdc_apply_changelog(spark, sf_dir).select(*cols)
    )

    out = streaming_cdc_apply_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # drive the sink directly with 3 manual slices
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    raw = o.select(
        (F.col("o_orderkey") % 20000).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    state = str(tmp_path / "cdc" / "state")
    sink = CdcApplyMergeSink(state)
    slices = [raw.filter(F.col("seq") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[2], 2)

    def snapshot(path):
        return rows_multiset(
            spark.read.parquet(path)
            .filter(F.col("last_op") != "D")
            .select(*cols)
        )

    assert snapshot(state) == batch_expected

    replay = raw.limit(9)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert snapshot(state) == batch_expected


def test_streaming_scd2_replay(spark, sf_dir, tmp_path):
    """Streaming SCD2 maintenance: (1) end-to-end equals the one-shot
    batch build (per-key chains are set-functions of their changes);
    (2) replaying a committed batch id is a no-op; (3) a stranded
    rename-aside state is recovered; (4) per-batch incrementality —
    a batch touching one key leaves other keys' version rows
    byte-identical."""
    import os

    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_scd2_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        Scd2MergeSink,
    )

    cols = ["key", "seq", "attr_price", "valid_from", "valid_to", "is_current"]
    batch_expected = rows_multiset(
        P.scd2_build_from_changes(spark, sf_dir).select(*cols)
    )

    out = streaming_scd2_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # drive the sink directly with 3 manual slices
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    raw = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("attr_price"),
        F.col("o_orderdate").alias("valid_from"),
    )
    state = str(tmp_path / "scd2" / "state")
    sink = Scd2MergeSink(state)
    slices = [raw.filter(F.col("seq") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[2], 2)

    def snapshot(path):
        return rows_multiset(spark.read.parquet(path).select(*cols))

    assert snapshot(state) == batch_expected

    replay = raw.limit(9)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert snapshot(state) == batch_expected

    # (4) incrementality: one more change for ONE existing key must not
    # alter any other key's rows (their chains pass through the anti
    # branch untouched)
    k0 = raw.select("key").first().key
    before_others = rows_multiset(
        spark.read.parquet(state).filter(F.col("key") != k0).select(*cols)
    )
    extra = spark.createDataFrame(
        [(k0,)], "key long"
    ).select(
        "key",
        F.lit(99_999_999).cast("long").alias("seq"),
        F.lit(None).cast(raw.schema["attr_price"].dataType).alias(
            "attr_price"
        ),
        F.lit("2099-01-01").cast("date").alias("valid_from"),
    )
    sink(extra, 3)
    after = spark.read.parquet(state)
    assert (
        rows_multiset(after.filter(F.col("key") != k0).select(*cols))
        == before_others
    )
    # the touched key gained exactly one version, still exactly one
    # open (is_current) row
    k0_rows = after.filter(F.col("key") == k0).collect()
    assert sum(1 for r in k0_rows if r.is_current) == 1
    assert any(r.seq == 99_999_999 and r.is_current for r in k0_rows)


def test_streaming_freshness_replay(spark, sf_dir, tmp_path):
    """Streaming freshness monitor: (1) end-to-end equals the one-shot
    batch audit at bucket grain; (2) replaying a committed batch id is
    a no-op; (3) a stranded rename-aside state is recovered."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_freshness_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        FreshnessMergeSink,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    hwm = ev.agg(
        F.max("ts").alias("hwm"),
        F.date_trunc("hour", F.max("ts")).alias("hwm_hour"),
    )
    expected = rows_multiset(
        ev.crossJoin(F.broadcast(hwm))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("min_epoch_s"),
            F.unix_timestamp(F.max("ts")).alias("max_epoch_s"),
            ((F.unix_timestamp(F.max("hwm")) - F.unix_timestamp(F.max("ts")))
             / 60).cast("bigint").alias("lag_minutes"),
            F.sum(
                F.when(
                    F.date_trunc("hour", F.col("ts"))
                    >= F.col("hwm_hour") - F.expr("INTERVAL 23 HOURS"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_last_24_buckets"),
        )
    )
    cols = ["event_type", "n_events", "min_epoch_s", "max_epoch_s",
            "lag_minutes", "n_last_24_buckets"]
    out = streaming_freshness_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == expected

    # (2)+(3): drive the sink directly
    state = str(tmp_path / "fr" / "state")
    sink = FreshnessMergeSink(state)
    slices = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")
    sink(slices[2], 2)
    grid = spark.read.parquet(state)
    assert grid.agg(F.sum("n_events")).first()[0] == ev.count()
    replay = ev.limit(5)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert spark.read.parquet(state).agg(F.sum("n_events")).first()[0] == ev.count()


def test_streaming_bottom_k_replay(spark, sf_dir, tmp_path):
    """Streaming bottom-k sample: (1) end-to-end equals the one-shot
    batch sketch; (2) replaying a committed batch id is a no-op; (3) a
    stranded rename-aside state is recovered; (4) state never exceeds
    k rows."""
    import os

    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        _BOTTOM_K,
        streaming_bottom_k_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        BottomKMergeSink,
    )

    cols = ["doc_id", "source", "sample_key"]
    batch_expected = rows_multiset(
        P.sample_bottom_k_sketch(spark, sf_dir).select(*cols)
    )

    out = streaming_bottom_k_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = docs.select(
        "doc_id", "source",
        F.md5(F.concat(F.lit("bks:"), F.col("doc_id").cast("string"))).alias(
            "sample_key"
        ),
    )
    state = str(tmp_path / "bk" / "state")
    sink = BottomKMergeSink(state, _BOTTOM_K)
    slices = [raw.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[2], 2)

    def snapshot(path):
        return rows_multiset(spark.read.parquet(path).select(*cols))

    assert snapshot(state) == batch_expected
    assert spark.read.parquet(state).count() <= _BOTTOM_K

    replay = raw.limit(17)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    assert snapshot(state) == batch_expected


def test_streaming_markov_replay(spark, sf_dir, tmp_path):
    """Streaming Markov fit: (1) end-to-end over four time-ordered
    micro-batches equals the one-shot batch transition matrix
    (boundary transitions counted exactly once via the per-user
    last-event carry); (2) replaying a committed batch id is a no-op;
    (3) a stranded rename-aside state is recovered."""
    import os

    import pipeline_apache_beam_entrega1_cs_spark.plans.analytics as A
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_markov_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        MarkovMergeSink,
    )

    cols = ["from_type", "to_type", "n_trans", "p"]
    batch_expected = rows_multiset(
        A.analytics_markov_transitions(spark, sf_dir).select(*cols)
    )
    out = streaming_markov_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    # drive the sink directly with 3 manual TIME slices
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    import datetime
    span = (hi - lo) or datetime.timedelta(seconds=1)
    cut1, cut2 = lo + span / 3, lo + 2 * span / 3
    slices = [
        ev.filter(F.col("ts") <= F.lit(cut1)),
        ev.filter((F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))),
        ev.filter(F.col("ts") > F.lit(cut2)),
    ]
    state = str(tmp_path / "markov" / "state")
    sink = MarkovMergeSink(state)
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[2], 2)
    cells = {
        (r.from_type, r.to_type): r.n_trans
        for r in spark.read.parquet(state)
        .filter(F.col("kind") == "cell")
        .collect()
    }
    expect_cells = {
        (r.from_type, r.to_type): r.n_trans
        for r in A.analytics_markov_transitions(spark, sf_dir).collect()
    }
    assert cells == expect_cells
    # replayed committed batch: state unchanged
    before = sorted(cells.items())
    sink(slices[1], 1)
    after = sorted(
        ((r.from_type, r.to_type), r.n_trans)
        for r in spark.read.parquet(state)
        .filter(F.col("kind") == "cell")
        .collect()
    )
    assert after == before


def test_streaming_countmin_replay(spark, sf_dir, tmp_path):
    """Streaming count-min sketch: (1) end-to-end over four
    micro-batches equals the one-shot batch sketch report (cell-wise
    additivity); (2) replaying a committed batch id is a no-op; (3) a
    stranded rename-aside state is recovered; (4) grid state stays
    bounded at d*w rows."""
    import os

    import pipeline_apache_beam_entrega1_cs_spark.plans.relational2 as R2
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        streaming_countmin_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        CountMinMergeSink,
    )

    cols = ["o_custkey", "true_cnt", "est_cnt"]
    batch_expected = rows_multiset(
        R2.agg_countmin_heavy_hitters(spark, sf_dir).select(*cols)
    )
    out = streaming_countmin_state(spark, sf_dir)
    assert rows_multiset(out.select(*cols)) == batch_expected

    raw = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    state = str(tmp_path / "cms" / "state")
    sink = CountMinMergeSink(state)
    slices = [raw.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[2], 2)
    st = spark.read.parquet(state)
    grid = st.filter(F.col("kind") == "grid")
    assert grid.count() <= R2._CMS_D * R2._CMS_W
    # total grid mass = d * rows ingested (every row lands in d cells)
    assert grid.agg(F.sum("cnt")).first()[0] == R2._CMS_D * raw.count()
    key_total = st.filter(F.col("kind") == "key").agg(F.sum("cnt")).first()[0]
    assert key_total == raw.count()

    replay = raw.limit(23)
    for b in (0, 1, 2):
        assert sink.is_committed(b)
        sink(replay, b)
    st2 = spark.read.parquet(state)
    assert st2.filter(F.col("kind") == "grid").agg(F.sum("cnt")).first()[0] \
        == R2._CMS_D * raw.count()


def test_streaming_topk_replay(spark, sf_dir, tmp_path):
    """Streaming exact top-k: (1) end-to-end equals the one-shot batch
    GROUP BY + TakeOrdered; (2) replaying a committed batch id is a
    no-op (counts would double otherwise); (3) a stranded rename-aside
    state is recovered; (4) state totals conserve the row count."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        _TOPK_STATE_K,
        streaming_topk_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        TopKCountMergeSink,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    batch = rows_multiset(
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(_TOPK_STATE_K)
    )
    out = streaming_topk_state(spark, sf_dir)
    assert rows_multiset(out) == batch

    raw = orders.select("o_orderkey", "o_custkey")
    state = str(tmp_path / "tk" / "state")
    sink = TopKCountMergeSink(state)
    slices = [raw.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[1], 1)  # committed marker inside state dir: replayed no-op
    assert os.path.exists(f"{state}_old42")
    os.rename(f"{state}_old42", state)
    sink(slices[1], 1)  # still a no-op after recovery
    sink(slices[2], 2)
    st = spark.read.parquet(state)
    assert st.agg(F.sum("cnt")).first()[0] == raw.count()  # conservation
    assert st.select("o_custkey").distinct().count() == st.count()


def test_streaming_token_freq_replay(spark, sf_dir, tmp_path):
    """Streaming token-frequency state: (1) the read-off coverage
    curve equals the one-shot batch entry; (2) replaying a committed
    batch is a no-op (counts would double); (3) stranded rename-aside
    state recovers; (4) state totals conserve the corpus token count."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import (
        explode_tokens,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        text_token_coverage_curve,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        streaming_token_freq_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        TokenFreqMergeSink,
    )

    batch = rows_multiset(text_token_coverage_curve(spark, sf_dir))
    out = streaming_token_freq_state(spark, sf_dir)
    assert rows_multiset(out) == batch

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    state = str(tmp_path / "tf" / "state")
    sink = TokenFreqMergeSink(state)
    slices = [raw.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(slices[0], 0)
    sink(slices[1], 1)
    os.rename(state, f"{state}_old42")  # crash between swap renames
    sink(slices[1], 1)  # committed marker inside state: replayed no-op
    assert os.path.exists(f"{state}_old42")
    os.rename(f"{state}_old42", state)
    sink(slices[1], 1)  # still a no-op after recovery
    sink(slices[2], 2)
    st = spark.read.parquet(state)
    total = explode_tokens(raw).count()
    assert st.agg(F.sum("freq")).first()[0] == total  # conservation
    assert st.select("tok").distinct().count() == st.count()


def test_streaming_error_burst_splices_across_batches(spark, sf_dir, tmp_path):
    """ErrorBurstSink: (1) end-to-end equals the one-shot batch islands
    detector; (2) a planted 5-run CUT MID-RUN by the batch boundary is
    spliced from the carry and emitted once with exact bounds; (3) a
    planted 2+1 split run stays excluded (len 3 only via splice, 2+1=3
    IS emitted — boundary arithmetic, not per-batch counting); (4)
    replaying a committed batch id is a no-op."""
    import os
    from datetime import datetime, timedelta

    from pipeline_apache_beam_entrega1_cs_spark.plans.analytics import (
        dq_error_burst_detector,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        streaming_error_burst_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        ErrorBurstSink,
    )

    batch_expected = rows_multiset(dq_error_burst_detector(spark, sf_dir))
    out = streaming_error_burst_state(spark, sf_dir)
    assert rows_multiset(out) == batch_expected

    base = datetime(2024, 7, 1)

    def ev(eid, minute, typ, uid=1):
        return (eid, base + timedelta(minutes=minute), uid, typ, 1.0, "{}")

    # user 1: 5-run at events 2..6, cut after event 3 (2 in batch A,
    # 3 in batch B), then a view breaks it in batch B.
    # user 2: errors at 0,1 (batch A) + 2 (batch B) then view:
    # spliced len 3 — emitted ONLY because the splice sees 2+1.
    rows_a = [ev(1, 0, "view"), ev(2, 1, "error"), ev(3, 2, "error"),
              ev(20, 0, "error", uid=2), ev(21, 1, "error", uid=2)]
    rows_b = [ev(4, 3, "error"), ev(5, 4, "error"), ev(6, 5, "error"),
              ev(7, 6, "view"),
              ev(22, 2, "error", uid=2), ev(23, 3, "view", uid=2)]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    dfa = spark.createDataFrame(rows_a, schema)
    dfb = spark.createDataFrame(rows_b, schema)

    state = str(tmp_path / "eb" / "state")
    sink = ErrorBurstSink(state, 3)
    sink(dfa.select("user_id", "event_id", "ts", "event_type"), 0)
    sink(dfb.select("user_id", "event_id", "ts", "event_type"), 1)
    sink(dfb.select("user_id", "event_id", "ts", "event_type"), 1)  # replay
    st = spark.read.parquet(state)
    runs = {r.user_id: r for r in st.filter(F.col("kind") == "run").collect()}
    es = {r.event_id: r.es
          for r in dfa.unionByName(dfb)
          .selectExpr("event_id", "unix_timestamp(ts) AS es").collect()}
    assert set(runs) == {1, 2}
    r1 = runs[1]
    assert (r1.run_len, r1.first_event_id) == (5, 2)
    assert (r1.start_epoch_s, r1.end_epoch_s) == (es[2], es[6])
    r2 = runs[2]
    assert (r2.run_len, r2.first_event_id) == (3, 20)
    assert (r2.start_epoch_s, r2.end_epoch_s) == (es[20], es[22])
    # replay added nothing twice
    assert st.filter(F.col("kind") == "run").count() == 2


def test_streaming_out_of_order_splices_and_replays(spark, sf_dir, tmp_path):
    """OutOfOrderAuditSink: (1) end-to-end equals the one-shot batch
    audit; (2) a planted backwards pair SPLIT by the batch boundary
    (last event of batch A has a later event time than the first event
    of batch B) is counted exactly once via the carry splice, with the
    exact gap surviving as max_backwards_seconds; (3) replaying a
    committed batch id is a no-op."""
    from datetime import datetime, timedelta

    from pipeline_apache_beam_entrega1_cs_spark.plans.analytics import (
        dq_out_of_order_audit,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        streaming_out_of_order_state,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        OutOfOrderAuditSink,
    )

    assert rows_multiset(streaming_out_of_order_state(spark, sf_dir)) == \
        rows_multiset(dq_out_of_order_audit(spark, sf_dir))

    base = datetime(2024, 7, 1)

    def ev(eid, minute, typ, uid=1):
        return (eid, base + timedelta(minutes=minute), uid, typ, 1.0, "{}")

    # user 1: ingest order 1,2 | 3,4 — event 3's time is 10 min BEFORE
    # event 2's (the boundary backwards pair), event 4 goes forward.
    # user 2: entirely in batch A, one in-batch backwards pair of 120 s.
    rows_a = [ev(1, 0, "view"), ev(2, 20, "view"),
              ev(20, 5, "click", uid=2), ev(21, 3, "click", uid=2)]
    rows_b = [ev(3, 10, "purchase"), ev(4, 30, "view")]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    dfa = spark.createDataFrame(rows_a, schema)
    dfb = spark.createDataFrame(rows_b, schema)

    state = str(tmp_path / "ooo" / "state")
    sink = OutOfOrderAuditSink(state)
    sink(dfa.select("user_id", "event_id", "ts", "event_type"), 0)
    sink(dfb.select("user_id", "event_id", "ts", "event_type"), 1)
    sink(dfb.select("user_id", "event_id", "ts", "event_type"), 1)  # replay
    st = spark.read.parquet(state)
    got = {r.event_type: r for r in st.filter(F.col("kind") == "type").collect()}
    # pairs: view->view (fwd), view->PURCHASE (backwards 600 s, spliced
    # across the boundary), purchase->view (fwd), click->click (back 120 s)
    assert (got["purchase"].n_pairs, got["purchase"].n_backwards,
            got["purchase"].max_backwards_seconds) == (1, 1, 600)
    assert (got["view"].n_pairs, got["view"].n_backwards) == (2, 0)
    assert (got["click"].n_pairs, got["click"].n_backwards,
            got["click"].max_backwards_seconds) == (1, 1, 120)
    # replay added nothing: total pairs == 4
    assert sum(r.n_pairs for r in got.values()) == 4
    # carry holds both users' LAST-SEEN times (by ingest order)
    carry = {r.user_id: r.last_epo
             for r in st.filter(F.col("kind") == "carry").collect()}
    assert set(carry) == {1, 2}


def test_streaming_out_of_order_late_batch_degrades_safely(spark, tmp_path):
    """ADVICE r12: under OUT-OF-ORDER batch delivery the sink must not
    fabricate pairs — the splice fires only when the carried event_id
    precedes the batch row's, and the carry keeps the max-by-event_id
    frontier (a late batch never regresses it)."""
    from datetime import datetime, timedelta

    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        OutOfOrderAuditSink,
    )

    base = datetime(2024, 7, 1)

    def ev(eid, minute):
        return (eid, base + timedelta(minutes=minute), 1, "view")

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    # Delivered LATE: ids 10,11 arrive first, then ids 1,2.
    first = spark.createDataFrame([ev(10, 50), ev(11, 60)], schema)
    late = spark.createDataFrame([ev(1, 0), ev(2, 10)], schema)

    state = str(tmp_path / "ooo_late" / "state")
    sink = OutOfOrderAuditSink(state)
    sink(first, 0)
    sink(late, 1)
    st = spark.read.parquet(state)
    got = {r.event_type: r for r in st.filter(F.col("kind") == "type").collect()}
    # In-batch pairs only: (10,11) and (1,2), both forward. The carry
    # (id 11, minute 60) must NOT splice onto late id 1 (which would
    # invent a 3600 s backwards pair).
    assert (got["view"].n_pairs, got["view"].n_backwards) == (2, 0)
    carry = st.filter(F.col("kind") == "carry").collect()
    assert len(carry) == 1
    # frontier did not regress to the late batch
    assert (carry[0].last_eid, carry[0].last_epo) == (
        11, int(datetime(2024, 7, 1, 1, 0).timestamp()))


def test_streaming_out_of_order_resumes_over_legacy_state(spark, tmp_path):
    """ADVICE r13: a state directory written BEFORE the carry tracked
    last_eid must still be resumable — the missing column is tolerated
    as NULL (so the splice guard skips the boundary splice, the
    documented degrade-safely path) instead of the resume dying on an
    AnalysisException selecting a column legacy state never wrote."""
    import os
    import shutil
    from datetime import datetime, timedelta

    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        OutOfOrderAuditSink,
    )

    base = datetime(2024, 7, 1)

    def ev(eid, minute):
        return (eid, base + timedelta(minutes=minute), 1, "view")

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    b0 = spark.createDataFrame([ev(1, 0), ev(2, 10)], schema)
    b1 = spark.createDataFrame([ev(3, 20), ev(4, 30)], schema)

    state = str(tmp_path / "ooo_legacy" / "state")
    sink = OutOfOrderAuditSink(state)
    sink(b0, 0)

    # Rewrite the committed state in the LEGACY (pre-last_eid) layout,
    # preserving the _merged_<id> commit markers.
    legacy = spark.read.parquet(state).drop("last_eid")
    rewrite = str(tmp_path / "legacy_rewrite")
    legacy.coalesce(1).write.parquet(rewrite)
    markers = [f for f in os.listdir(state) if f.startswith("_merged_")]
    shutil.rmtree(state)
    shutil.copytree(rewrite, state)
    for m in markers:
        open(os.path.join(state, m), "w").close()

    sink(b1, 1)  # must not raise on the missing column
    st = spark.read.parquet(state)
    got = {r.event_type: r
           for r in st.filter(F.col("kind") == "type").collect()}
    # The legacy-boundary splice is skipped (unknown carried event_id),
    # so pairs are in-batch only: (1,2) from b0 and (3,4) from b1.
    assert (got["view"].n_pairs, got["view"].n_backwards) == (2, 0)
    carry = st.filter(F.col("kind") == "carry").collect()
    # The carry re-establishes the tracked frontier going forward.
    assert len(carry) == 1 and carry[0].last_eid == 4
