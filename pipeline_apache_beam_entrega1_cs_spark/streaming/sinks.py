"""foreachBatch sinks with exactly-once semantics.

Structured Streaming guarantees at-least-once delivery to foreachBatch:
after a failure the same (batch_id, data) pair is replayed. End-to-end
exactly-once therefore rests on the SINK being idempotent per batch_id —
the pattern every transactional Spark sink (Delta, Iceberg, JDBC-with-
txn-table) implements internally. This is the engine-only file version:

- each micro-batch writes to its own ``batch_id=N`` partition directory
  with mode("overwrite") — a half-written replay self-heals because the
  rerun overwrites the same directory;
- a zero-byte ``_committed_N`` marker is created only after the write
  succeeds — a replay of an already-committed batch_id returns without
  touching data, so duplicated delivery never duplicates rows.

On a real cluster the marker lives next to the data on the object store
(visibility piggybacks on the store's list-after-put consistency) and
the overwrite is a directory rename — both already how FileStreamSink's
_spark_metadata log works; this class just makes the contract explicit
and testable.

MERGE sinks (a state table re-aggregated per batch) share one commit
wrapper, :class:`MergeSink`, and every ``run_*_stream`` entry drives its
sink through one :func:`replay`, which stages, streams and reads off in
one temp directory that is gone when it returns. Where a sink is the
twin of a batch entry, the fixture, the per-batch core and the report
are that batch module's functions; the sink adds only its fold or
carry.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import ensure_session_confs, footer_schema, load_table


class IdempotentParquetSink:
    """``foreachBatch`` callable: exactly-once parquet append by batch id.

    Usage::

        sink = IdempotentParquetSink("/path/out")
        q = df.writeStream.foreachBatch(sink).start()
    """

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.path, f"_committed_{batch_id}")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replayed delivery of a committed batch: no-op
        (
            df.write.mode("overwrite").parquet(
                os.path.join(self.path, f"batch_id={batch_id}")
            )
        )
        with open(self._marker(batch_id), "w"):
            pass

    def read_state(self, spark, path: str) -> DataFrame:
        """Every batch written under ``path``, ``batch_id`` as a column."""
        return spark.read.parquet(path)


def _current_state(state: str) -> str | None:
    """Resolve the live state directory. Crash recovery: a failure
    between the two renames in a state swap leaves the previous state
    under ``state_old<batch_id>``; the replayed batch must merge against
    it, not start empty. Picks the NUMERICALLY largest batch-id suffix —
    lexicographic order would put ``state_old10`` before ``state_old2``."""
    if os.path.exists(state):
        return state
    olds = glob.glob(f"{state}_old*")
    if not olds:
        return None
    return max(olds, key=lambda p: int(p.rsplit("_old", 1)[1]))


def _swap_state(state: str, tmp: str, batch_id: int) -> None:
    """Install ``tmp`` as the new state via rename-aside: the old state
    directory stays intact (renamed, never deleted) until the new one is
    in place, so no single crash point loses prior batches' state."""
    old = None
    if os.path.exists(state):
        old = f"{state}_old{batch_id}"
        os.rename(state, old)
    os.rename(tmp, state)
    if old is not None:
        shutil.rmtree(old)
    for stale in glob.glob(f"{state}_old*"):  # recovered-from leftovers
        shutil.rmtree(stale, ignore_errors=True)


def _install_state(state: str, tmp: str, batch_id: int) -> None:
    """Commit ``tmp`` as the new state with this batch marked merged.

    The zero-byte ``_merged_<id>`` markers live inside the state
    directory (underscore-prefixed, so parquet readers ignore them):
    prior batches' markers are carried forward into ``tmp``, this
    batch's marker is stamped, and only then does the rename-aside swap
    run. The marker therefore becomes visible at the exact instant the
    merged data does — a crash anywhere leaves either the old state
    (batch uncommitted, replay re-merges from it) or the new state
    (batch committed, replay is a no-op), never merged-but-unmarked
    data that a replay would double-count."""
    prev = _current_state(state)
    if prev is not None:
        for m in glob.glob(os.path.join(prev, "_merged_*")):
            shutil.copy(m, tmp)
    with open(os.path.join(tmp, f"_merged_{batch_id}"), "w"):
        pass
    _swap_state(state, tmp, batch_id)


class MergeSink:
    """``foreachBatch`` MERGE of each micro-batch into a parquet state
    table, exactly once. Subclasses define only :meth:`merge`.

    Exactly-once contract (every subclass): the ``_merged_N`` commit
    markers live INSIDE the state directory and are installed by the
    same rename that installs the merged data (_install_state), so
    marker and state are never out of sync. Unlike
    IdempotentParquetSink's per-batch overwrite, a MERGE is not
    idempotent, so a marker visible before or after the data would
    double-count a replayed batch. A replayed delivery of a committed
    batch id is a no-op; _current_state recovers a stranded
    ``state_old*`` (the numerically newest, markers riding along) if a
    crash hit between the swap renames. The new state is written to
    ``{state}_tmp{batch_id}`` — materialized before the swap — so a
    crash mid-write leaves the live state untouched.

    Every merge in this module is associative over batches (or, for the
    carry-based state machines, over time-ordered batches), so a cold
    replay over any slicing equals the one-shot batch computation —
    which is what each entry's SQL oracle checks."""

    def __init__(self, state_dir: str) -> None:
        self.state = state_dir
        os.makedirs(os.path.dirname(state_dir), exist_ok=True)

    def is_committed(self, batch_id: int) -> bool:
        """A batch is committed iff its ``_merged_<id>`` marker exists
        inside the live state directory (see _install_state)."""
        cur = _current_state(self.state)
        return cur is not None and os.path.exists(
            os.path.join(cur, f"_merged_{batch_id}")
        )

    def merge(self, batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        """The new state frame from this batch and the previous state
        (``None`` before the first commit)."""
        raise NotImplementedError

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replayed delivery of a committed batch: no-op
        cur = _current_state(self.state)
        prev = None if cur is None else self.read_state(batch_df.sparkSession, cur)
        tmp = f"{self.state}_tmp{batch_id}"
        self.merge(batch_df, prev).write.mode("overwrite").parquet(tmp)
        _install_state(self.state, tmp, batch_id)  # marker atomic w/ state

    def read_state(self, spark, path: str) -> DataFrame:
        """The state parquet at ``path``, read with the schema its part
        files' footers carry (:func:`footer_schema`), so the read runs
        no schema-inference job, also in a sink restarted over an
        existing state."""
        return spark.read.schema(footer_schema(path)).parquet(path)


def _fold(prev: DataFrame | None, inc: DataFrame, keys, *aggs) -> DataFrame:
    """Merge a batch's partial aggregate ``inc`` into the previous state:
    union and re-aggregate by ``keys`` (the identity before the first
    commit)."""
    if prev is None:
        return inc
    return prev.unionByName(inc).groupBy(*keys).agg(*aggs)


def _range_bucket(raw: DataFrame, x, n: int = 4):
    """Slice index of ``x`` over ``n`` equal-width ranges of
    [min x, max x] — the replay order of an ordered ingest (``x`` = event
    time, or an ingest sequence such as event_id). Equal ``x`` values
    always land in the same slice, so per-key (ts, id) ordering is never
    split across batches."""
    mn, mx = raw.agg(F.min(x), F.max(x)).first()
    span = max(int(mx) - int(mn), 1)
    return F.least(
        F.floor((x - F.lit(int(mn))) * n / F.lit(span + 1)), F.lit(n - 1)
    )


def _stage(raw: DataFrame, work: str, bucket, n: int) -> str:
    """Write ``raw`` as single-file parquet slices (``bucket`` ==
    0..n-1) under ``work/src`` in ONE Spark job — one task writes the
    frame partitioned by the slice index — then give the files strictly
    increasing mtimes so a maxFilesPerTrigger=1 file stream replays them
    in slice order: one deterministic micro-batch per non-empty slice
    (an empty slice writes no file, so it is no batch; an empty ``raw``
    is one empty batch). Order-sensitive state (carries) needs that
    order; for the associative merges it is merely deterministic."""
    staged = os.path.join(work, "staged")
    raw.withColumn("_slice", bucket).coalesce(1).write.partitionBy(
        "_slice"
    ).parquet(staged)
    parts = [
        glob.glob(os.path.join(staged, f"_slice={i}", "*.parquet"))
        for i in range(n)
    ]
    if not any(parts):  # no rows: one empty batch, so the sink still commits
        raw.limit(0).write.parquet(os.path.join(work, "empty"))
        parts = [glob.glob(os.path.join(work, "empty", "*.parquet"))]
    src = os.path.join(work, "src")
    os.makedirs(src)
    now = time.time()
    for i, part in enumerate(parts):
        if part:
            dst = os.path.join(src, f"{i:02d}.parquet")
            os.rename(part[0], dst)
            os.utime(dst, (now + i, now + i))  # force pickup order
    return src


def replay(raw: DataFrame, bucket, sink_for, read_off, n: int = 4) -> DataFrame:
    """Replay the static frame ``raw`` as ``n`` micro-batches through a
    foreachBatch sink and return ``read_off`` of what the sink wrote.

    ``raw`` is staged as ``n`` slices by ``bucket`` (a column valued
    0..n-1: ``key % n`` or :func:`_range_bucket`), read back by a file
    stream with maxFilesPerTrigger=1 and delivered to
    ``sink_for(state_dir)`` under a checkpoint; the query is stopped
    even when a batch fails, and the failure propagates.
    ``read_off`` receives the sink's ``read_state`` of ``state_dir``.

    Scratch lifecycle: slices, checkpoint and state live in one fresh
    temp directory, deleted on return whether or not a batch failed.
    The read-off is pinned before that with an eager DISK_ONLY
    ``localCheckpoint``: its rows stay in the block manager's local
    files (not the heap, where retained pins slowed later queries of
    the same session), the returned frame reads no scratch file, and
    a corpus-sized read-off never passes through the driver."""
    spark = raw.sparkSession
    ensure_session_confs(spark)
    work = tempfile.mkdtemp(prefix="graft_replay_")
    try:
        src = _stage(raw, work, bucket, n)
        state = os.path.join(work, "state")
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = sink_for(state)
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return read_off(sink.read_state(spark, state)).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


class RollupMergeSink(MergeSink):
    """``foreachBatch`` MERGE for a continuous hourly rollup: each
    batch's (hour, event_type) partial count and DECIMAL(38,4) sum are
    merged into the state by re-aggregation — the engine-only form of a
    Delta/Iceberg ``MERGE INTO`` continuous rollup. Decimal state keeps
    the cross-batch accumulation exact."""

    def merge(self, batch_df, prev):
        inc = batch_df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .alias("sum_dec"),
        )
        return _fold(
            prev, inc, ["hour", "event_type"],
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("decimal(38,4)").alias("sum_dec"),
        )


def run_rollup_upsert_stream(spark, sf_dir: str):
    """Continuous aggregate via foreachBatch MERGE: the events table is
    replayed as FOUR micro-batches (event_id % 4 slices, one file per
    trigger) and each batch's hourly partial aggregate is merged into a
    parquet state table (read current + union + re-aggregate +
    crash-safe rename-aside swap: the old state directory is renamed
    aside, never deleted, until the new one is in place, and recovery
    picks up a stranded state_old* if a crash hit between the renames)
    — the engine-only form of a Delta/Iceberg `MERGE INTO` continuous
    rollup.

    Because count/decimal-sum partials are associative, the final state
    is independent of batch boundaries and equals the one-shot batch
    aggregate — which is exactly what the SQL oracle checks. Decimal
    state (DECIMAL(38,4)) keeps the cross-batch accumulation exact; the
    double conversion happens once at the end via the string-cast
    convention (plans/spec.py)."""
    raw = load_table(spark, sf_dir, "events")
    return replay(
        raw, F.col("event_id") % 4, RollupMergeSink,
        lambda st: st.select(
            F.unix_timestamp("hour").cast("long").alias("hour_s"),
            "event_type",
            "n_events",
            F.col("sum_dec").cast("string").cast("double").alias("sum_value"),
        ),
    )


class FingerprintMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming near-duplicate dedup: the
    incremental-corpus-ingest case. Each micro-batch's documents are
    fingerprinted (md5 of the sorted distinct token set —
    operators/textops.fingerprint_col, the word-order-insensitive
    near-dup key the batch dedup path uses) and merged into a parquet
    fingerprint table keyed by fp with (keep_doc_id = min over all
    batches, n_copies = total over all batches).

    min/sum are associative, so the final table is independent of batch
    boundaries: a cold replay over any slicing equals the one-shot batch
    dedup over the whole corpus — which is what the SQL oracle checks.
    At 100 TB each merge shuffles fingerprints (32-hex keys), never
    document bodies, and state size is bounded by |distinct fp|."""

    def merge(self, batch_df, prev):
        from ..operators.textops import fingerprint_col

        inc = (
            batch_df.select(
                "doc_id", fingerprint_col(F.col("text")).alias("fp")
            )
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count(F.lit(1)).alias("n_copies"),
            )
        )
        return _fold(
            prev, inc, ["fp"],
            F.min("keep_doc_id").alias("keep_doc_id"),
            F.sum("n_copies").cast("long").alias("n_copies"),
        )


class DocFreqMergeSink(MergeSink):
    """``foreachBatch`` MERGE for incremental corpus statistics: the
    TF-IDF document-frequency table maintained across micro-batches —
    the index a continuously-ingesting training pipeline needs so new
    documents can be TF-IDF-scored without rescanning the corpus.

    Each batch contributes (term, per-batch doc frequency) plus its
    document count; both are sums, so the merge is associative and the
    final state over any batch slicing equals the one-shot batch DF
    count over the union — which is what the SQL oracle checks. State
    schema: (term, df, n_docs) with n_docs (the corpus total) repeated
    per row so the state stays one self-contained table. At 100 TB each
    merge shuffles terms (bounded by vocabulary, not corpus size), never
    document bodies."""

    def merge(self, batch_df, prev):
        from ..operators.textops import tokens

        # n_docs counts ALL batch docs (incl. empty text) to mirror the
        # TF-IDF convention's corpus total (plans/llm_data.TEXT_TFIDF_SQL).
        n_docs = batch_df.count()
        inc = (
            batch_df.filter(F.trim(F.col("text")) != "")
            .select(
                "doc_id",
                F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
        )
        if prev is not None:
            # 1-row scalar: the corpus total carried in the state
            n_docs += prev.agg(F.max("n_docs")).collect()[0][0] or 0
            inc = _fold(
                prev.select("term", "df"), inc, ["term"],
                F.sum("df").cast("long").alias("df"),
            )
        return inc.withColumn("n_docs", F.lit(int(n_docs)).cast("long"))


def run_tfidf_state_stream(spark, sf_dir: str, n_batches: int = 4):
    """Incremental TF-IDF corpus statistics end-to-end: the documents
    table replayed as FOUR micro-batches (doc_id % 4 slices) through a
    DocFreqMergeSink; returns the final (term, df, n_docs, idf) table
    with idf = round(ln((n_docs+1)/(df+1)) + 1, 6) — the smoothing and
    rounding convention the batch text_tfidf_top_terms entry uses, so
    the two stay drop-in consistent.

    ``n_batches``: the per-batch merge is
    associative, so the FINAL state is identical for any slicing — the
    declared streaming_tfidf_state entry stays at the default 4; the
    amortization harness (streaming_amortization.py) replays at 1 and 8
    to demonstrate the fixed per-batch Structured Streaming floor
    amortizing instead of adjudicating it in prose."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return replay(
        raw, F.col("doc_id") % n_batches, DocFreqMergeSink,
        lambda st: st.select(
            "term",
            "df",
            "n_docs",
            F.round(
                F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                + 1.0,
                6,
            ).alias("idf"),
        ),
        n=n_batches,
    )


def run_neardup_dedup_stream(spark, sf_dir: str):
    """Streaming near-dup dedup end-to-end: the documents table replayed
    as FOUR micro-batches (doc_id % 4 slices) through a
    FingerprintMergeSink; returns the final fingerprint table
    (fp, keep_doc_id, n_copies). Cold replay == batch fingerprint dedup
    over the whole corpus (associative merge — see the sink docstring),
    so the oracle is the plain GROUP BY over per-document fingerprints."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return replay(
        raw, F.col("doc_id") % 4, FingerprintMergeSink,
        lambda st: st.select("fp", "keep_doc_id", "n_copies"),
    )


class CurationStatsMergeSink(MergeSink):
    """``foreachBatch`` MERGE for incremental curation reporting: each
    arriving micro-batch of documents is decontaminated against a STATIC
    benchmark shingle set (eval suites are fixed up-front — the side
    input the GPT-3/Pile decontamination rule assumes) and span-scrub
    counted, then the per-source counters (docs, contaminated, urls,
    emails, blocklist hits) are summed into a parquet state table.

    Every verdict depends only on (document, static benchmark set) and
    every state column is a sum, so the merge is associative: a cold
    replay over any batch slicing equals the one-shot batch run over the
    union — which is what the SQL oracle computes. At 100 TB each batch
    broadcasts the benchmark set (MBs against TBs), shuffles only
    per-source partial counters, and state stays |sources| rows."""

    COUNTERS = ("n_docs", "n_contaminated", "n_urls", "n_emails", "n_blocked")

    def __init__(
        self,
        state_dir: str,
        bench_shingles,
        n: int = 5,
        mod: int = 97,
        threshold: float = 0.2,
    ) -> None:
        super().__init__(state_dir)
        self.bench = bench_shingles
        self.n, self.mod, self.threshold = n, mod, threshold

    def merge(self, batch_df, prev):
        from ..operators import curation as C

        flags = C.decontaminate(
            batch_df.select("doc_id", "text"),
            n=self.n,
            mod=self.mod,
            threshold=self.threshold,
            bench_shingles=self.bench,
            # our static side input IS the % mod slice of this corpus,
            # so those docs must still be excluded from the output
            exclude_bench_ids=True,
        )
        scrub = C.scrub_blocklist(
            batch_df.filter(F.col("doc_id") % self.mod != 0)
        )
        inc = (
            flags.select(
                "doc_id", F.col("contaminated").cast("int").alias("contaminated")
            )
            .join(scrub.select("doc_id", "n_urls", "n_emails", "n_blocked"), "doc_id")
            .join(batch_df.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("contaminated").cast("long").alias("n_contaminated"),
                F.sum("n_urls").cast("long").alias("n_urls"),
                F.sum("n_emails").cast("long").alias("n_emails"),
                F.sum("n_blocked").cast("long").alias("n_blocked"),
            )
        )
        return _fold(
            prev, inc, ["source"],
            *(F.sum(c).cast("long").alias(c) for c in self.COUNTERS),
        )


def run_curation_stats_stream(spark, sf_dir: str):
    """Incremental curation report end-to-end: the documents table
    replayed as FOUR micro-batches (doc_id % 4 slices) through a
    CurationStatsMergeSink whose benchmark shingle set is built ONCE
    from the static corpus slice (doc_id % DECON_MOD == 0 — in
    production a materialized eval-suite table); returns the final
    per-source counter table."""
    from ..operators.dedup import _explode_shingles, _shingle_arrays
    from ..plans.curation import DECON_MOD, DECON_N, DECON_THRESHOLD

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bench = (
        _explode_shingles(
            _shingle_arrays(
                raw.filter(F.col("doc_id") % DECON_MOD == 0), DECON_N
            )
        )
        .select("shingle")
        .distinct()
    )
    return replay(
        raw, F.col("doc_id") % 4,
        lambda st: CurationStatsMergeSink(
            st, bench, n=DECON_N, mod=DECON_MOD, threshold=DECON_THRESHOLD
        ),
        lambda st: st.select("source", *CurationStatsMergeSink.COUNTERS),
    )


class IvfListMergeSink(MergeSink):
    """``foreachBatch`` MERGE for incremental ANN index maintenance: new
    embedding vectors arrive batch by batch and are assigned to the
    inverted list of their nearest centroid under a STATIC coarse
    quantizer (the deterministic unrolled-Lloyd fit over the initial
    corpus — in production the quantizer is refit offline, not per
    batch, exactly this shape). Per-list stats (vector count, min
    vec_id, decimal sum of assignment distances) are summed into a
    parquet state table of |centroids| rows.

    Each vector's assignment depends only on (vector, static centroids)
    and every state column is an associative aggregate (sum / min /
    DECIMAL sum — decimal so merge order can't perturb float addition),
    so a cold replay over any batch slicing equals the one-shot batch
    assignment — what the SQL oracle computes by replaying the same
    unrolled-Lloyd fit as CTEs. At 100 TB each batch broadcasts the
    k-row centroid table and shuffles |centroids| partial rows — never
    embeddings."""

    def __init__(self, state_dir: str, centroids) -> None:
        super().__init__(state_dir)
        self.cents = centroids  # (cluster INT, c ARRAY<DOUBLE>), k rows

    def merge(self, batch_df, prev):
        from ..operators.similarity import _sq_dist

        vecs = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        d = F.round(_sq_dist(F.col("v"), F.col("c")), 6)
        assigned = (
            vecs.crossJoin(F.broadcast(self.cents))
            .select("vec_id", "cluster", d.alias("d"))
            .groupBy("vec_id")
            .agg(F.min(F.struct("d", "cluster")).alias("m"))
            .select(
                "vec_id",
                F.col("m.cluster").alias("cluster"),
                F.col("m.d").alias("d"),
            )
        )
        inc = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.sum(F.col("d").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .alias("sum_d"),
        )
        return _fold(
            prev, inc, ["cluster"],
            F.sum("n_vecs").cast("long").alias("n_vecs"),
            F.min("min_vec_id").alias("min_vec_id"),
            F.sum("sum_d").cast("decimal(28,6)").alias("sum_d"),
        )


def run_ivf_state_stream(spark, sf_dir: str):
    """Incremental IVF list maintenance end-to-end: the embeddings table
    replayed as FOUR micro-batches (vec_id % 4 slices) through an
    IvfListMergeSink whose coarse quantizer is fit ONCE on the static
    table (deterministic unrolled-Lloyd, k=8, 2 iterations) and
    materialized to a k-row literal; returns the final per-list stats
    with the decimal distance sum converted via the string-cast
    convention."""
    from ..functions.numeric import _dec_to_double
    from ..operators.similarity import _kmeans_fit

    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vecs = raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents_df, _ = _kmeans_fit(vecs, k=8, iters=2)
    # k rows: materialize once so the per-batch broadcast doesn't
    # refit the quantizer (and the fit plan dies with the stream)
    cents = spark.createDataFrame(cents_df.collect(), cents_df.schema)
    return replay(
        raw, F.col("vec_id") % 4, lambda st: IvfListMergeSink(st, cents),
        lambda st: st.select(
            "cluster",
            "n_vecs",
            "min_vec_id",
            _dec_to_double(F.col("sum_d")).alias("sum_dist"),
        ),
    )


class TokenAccountingMergeSink(MergeSink):
    """``foreachBatch`` MERGE for running per-source token accounting:
    each arriving micro-batch of documents is BPE-segmented under the
    STATIC merge table (operators/textops.bpe_apply_stats — the fixed
    broadcast vocabulary every serving tokenizer is) and the per-source
    counters (docs, alphabetic chars, BPE tokens, merges applied) are
    summed into a parquet state table — the "tokens ingested per
    source" ledger that feeds mixture weighting and billing.

    Every per-doc count depends only on (document, static merge table)
    and every state column is a sum, so the merge is associative: a cold
    replay over any batch slicing equals the one-shot batch
    bpe_apply_stats over the union — which is what the SQL oracle
    computes. At 100 TB the segmentation is narrow per-row string work
    (zero shuffle), each batch shuffles only |sources| partial counter
    rows, and state stays |sources| rows."""

    COUNTERS = ("n_docs", "n_alpha_chars", "n_bpe_tokens", "n_merges_applied")

    def merge(self, batch_df, prev):
        from ..operators import textops as T

        inc = (
            T.bpe_apply_stats(batch_df.select("doc_id", "text"))
            .join(batch_df.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_alpha_chars").cast("long").alias("n_alpha_chars"),
                F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
                F.sum("n_merges_applied").cast("long").alias("n_merges_applied"),
            )
        )
        return _fold(
            prev, inc, ["source"],
            *(F.sum(c).cast("long").alias(c) for c in self.COUNTERS),
        )


def run_token_accounting_stream(spark, sf_dir: str):
    """Running token accounting end-to-end: the documents table replayed
    as FOUR micro-batches (doc_id % 4 slices) through a
    TokenAccountingMergeSink; returns the final per-source token
    ledger."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return replay(
        raw, F.col("doc_id") % 4, TokenAccountingMergeSink,
        lambda st: st.select("source", *TokenAccountingMergeSink.COUNTERS),
    )


class HistogramMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming quantile summaries: each
    arriving micro-batch of events is bucketed into a fixed-width
    histogram under STATIC bounds (min/max calibrated once on the static
    table — in production, on an offline sample; re-binning would break
    mergeability, exactly like refitting the IVF quantizer per batch
    would) and the per-(event_type, bucket) counts are summed into a
    parquet state table. Quantiles for ANY rollup of the state are then
    a pure read-off (plans/relational.agg_quantile_partial_merge's
    cumulative-count pick) with the same one-bucket-width error bound.

    Bucket assignment depends only on (value, static bounds) and counts
    are sums, so cold replay over any batch slicing equals the one-shot
    batch histogram — what the SQL oracle computes. At 100 TB each batch
    shuffles at most |event_types| x n_buckets partial rows and state
    stays that size — quantile serving never re-touches raw events."""

    def __init__(self, state_dir: str, mn: float, mx: float, n_buckets: int) -> None:
        super().__init__(state_dir)
        self.mn, self.mx, self.n_buckets = mn, mx, n_buckets

    def merge(self, batch_df, prev):
        B = self.n_buckets
        x = F.col("value")
        if self.mx == self.mn:
            bucket = F.lit(1).cast("long")
        else:
            bucket = (
                F.least(
                    F.floor((x - F.lit(self.mn)) * B / F.lit(self.mx - self.mn)),
                    F.lit(B - 1),
                )
                + 1
            ).cast("long")
        inc = (
            batch_df.select("event_type", bucket.alias("bucket"))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        return _fold(
            prev, inc, ["event_type", "bucket"],
            F.sum("cnt").cast("long").alias("cnt"),
        )


def run_quantile_state_stream(spark, sf_dir: str):
    """Streaming quantile summaries end-to-end: the events table
    replayed as FOUR micro-batches (event_id % 4 slices) through a
    HistogramMergeSink whose bounds are calibrated ONCE on the static
    table (1-row min/max collect — the static side input, like the IVF
    stream's offline quantizer); returns the per-event-type and
    '__all__' quantile report read off the merged state."""
    from ..plans.relational import _QPM_BUCKETS, _quantile_pick
    raw = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    mn, mx = raw.agg(F.min("value"), F.max("value")).first()
    B = _QPM_BUCKETS

    def read_off(partials):
        # Serving read-off from state (|types| x 64 rows): the per-type
        # histograms through relational._quantile_pick, the batch
        # entry's read-off, with the static bounds as literals.
        per_type = partials.select(
            F.col("event_type").alias("scope"), "bucket", "cnt"
        )
        return _quantile_pick(per_type, partials).select(
            "scope",
            "q",
            F.round(
                F.lit(float(mn))
                + F.col("est_bucket") * F.lit((float(mx) - float(mn)) / B),
                6,
            ).alias("est_quantile"),
            "n_rows",
        )

    return replay(
        raw, F.col("event_id") % 4,
        lambda st: HistogramMergeSink(st, float(mn), float(mx), B),
        read_off,
    )


class PatternMatchSink(MergeSink):
    """``foreachBatch`` state machine for CROSS-BATCH event-pattern
    detection (streaming MATCH_RECOGNIZE): batches arrive in event-time
    order and each user's last ``plen - 1`` events are carried forward
    as BOUNDED state, so a view->click->purchase run that straddles a
    batch boundary is still detected. Per batch: detect the pattern
    over (carry UNION batch); every such match necessarily ENDS in the
    current batch (the carry holds at most plen-1 = 2 events, a match
    needs 3), so each match is emitted exactly once with NO dedup
    bookkeeping — the exactly-once property falls out of the bounded
    carry, not a grows-forever emitted-set. Matches accumulate in the
    same state table as the carry (one atomic swap covers both; kind
    column discriminates). Cold replay over any time-ordered slicing
    equals the one-shot batch pattern scan — the SQL oracle.

    100 TB shape: state is <= (plen-1) rows per active user plus the
    emitted matches; per batch one window pass over carry+batch."""

    def __init__(self, state_dir: str, pattern: tuple[str, ...]) -> None:
        super().__init__(state_dir)
        self.pattern = pattern

    def merge(self, batch_df, prev):
        from ..plans.analytics import pattern_matches

        plen = len(self.pattern)
        ev_cols = ["user_id", "ts", "event_id", "event_type"]
        if prev is not None:
            carry = prev.filter(F.col("kind") == "carry").select(*ev_cols)
            matches_prev = prev.filter(F.col("kind") == "match")
        else:
            carry = batch_df.select(*ev_cols).limit(0)
            matches_prev = None

        events_now = carry.unionByName(batch_df.select(*ev_cols))
        matches_new = pattern_matches(events_now, self.pattern).select(
            F.lit("match").alias("kind"), "*"
        )
        wtail = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        carry_new = (
            events_now.withColumn("rk", F.row_number().over(wtail))
            .filter(F.col("rk") <= plen - 1)
            .select(F.lit("carry").alias("kind"), *ev_cols)
        )
        null = lambda t: F.lit(None).cast(t)
        carry_full = carry_new.select(
            "kind",
            "user_id",
            null("bigint").alias("start_event_id"),
            null("bigint").alias("end_event_id"),
            null("bigint").alias("start_ts_us"),
            null("bigint").alias("duration_us"),
            "ts",
            "event_id",
            "event_type",
        )
        match_full = matches_new.select(
            "kind",
            "user_id",
            "start_event_id",
            "end_event_id",
            "start_ts_us",
            "duration_us",
            null("timestamp").alias("ts"),
            null("bigint").alias("event_id"),
            null("string").alias("event_type"),
        )
        new_state = carry_full.unionByName(match_full)
        if matches_prev is not None:
            new_state = new_state.unionByName(matches_prev)
        return new_state


class ErrorBurstSink(MergeSink):
    """``foreachBatch`` state machine for CROSS-BATCH consecutive-run
    detection — the streaming twin of the gaps-and-islands burst
    detector (plans/analytics.dq_error_burst_detector): batches arrive
    in event-time order and each user's TRAILING error run is carried
    forward as a bounded SUMMARY (length, start, first id — never raw
    events, so a month-long outage costs one state row), spliced onto
    the next batch's leading run when the first event continues it.
    A run is emitted exactly once, when something BREAKS it: an
    interior run ends inside its batch; a leading run completes when a
    non-error follows the splice; a carried run completes when its
    user's next batch starts with a non-error. Unbroken trailing runs
    finalize at read-off (a batch scan over a finite table counts its
    trailing runs too, so cold replay over any time slicing equals the
    one-shot batch detector — the SQL oracle verbatim).

    100 TB shape: per batch, two per-user windows over batch rows only
    plus O(#active users) joins against the carry frame; state is one
    row per user currently inside a run plus the emitted reports."""

    _CARRY_COLS = ["user_id", "run_len", "start_epoch_s", "end_epoch_s",
                   "first_event_id"]

    def __init__(self, state_dir: str, min_len: int = 3) -> None:
        super().__init__(state_dir)
        self.min_len = min_len

    def merge(self, batch_df, prev):
        if prev is not None:
            carry = prev.filter(F.col("kind") == "carry").select(
                *self._CARRY_COLS
            )
            runs_prev = prev.filter(F.col("kind") == "run")
        else:
            carry = None
            runs_prev = None

        w = Window.partitionBy("user_id").orderBy("es", "event_id")
        seq = batch_df.select(
            "user_id", "event_id",
            F.unix_timestamp("ts").alias("es"),
            (F.col("event_type") == "error").alias("is_err"),
        ).withColumn("rn", F.row_number().over(w))
        islands = (
            seq.filter(F.col("is_err"))
            .withColumn("ern", F.row_number().over(w))
            .withColumn("isl", F.col("rn") - F.col("ern"))
            .groupBy("user_id", "isl")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("len"),
                F.min("es").alias("start_es"),
                F.max("es").alias("end_es"),
                F.min("event_id").alias("first_id"),
                F.min("rn").alias("min_rn"),
                F.max("rn").alias("max_rn"),
            )
        )
        uinfo = seq.groupBy("user_id").agg(
            F.max("rn").alias("n_events")
        )
        runs = islands.join(uinfo, "user_id").select(
            "*",
            (F.col("min_rn") == 1).alias("leading"),
            (F.col("max_rn") == F.col("n_events")).alias("trailing"),
        )
        lead = runs.filter(F.col("leading"))
        if carry is not None:
            lead = lead.join(carry.alias("c"), "user_id", "left").select(
                "user_id", "trailing", "end_es",
                (F.col("len") + F.coalesce(F.col("c.run_len"), F.lit(0)))
                .alias("len"),
                F.coalesce(
                    F.col("c.start_epoch_s"), F.col("start_es")
                ).alias("start_es"),
                F.coalesce(
                    F.col("c.first_event_id"), F.col("first_id")
                ).alias("first_id"),
            )
        else:
            lead = lead.select(
                "user_id", "trailing", "end_es", "len", "start_es",
                "first_id",
            )

        def as_report(df):
            return df.select(
                "user_id",
                F.col("len").cast("bigint").alias("run_len"),
                F.col("start_es").alias("start_epoch_s"),
                F.col("end_es").alias("end_epoch_s"),
                F.col("first_id").alias("first_event_id"),
            )

        emit = as_report(
            runs.filter(~F.col("leading") & ~F.col("trailing"))
        ).unionByName(
            as_report(lead.filter(~F.col("trailing")))
        ).filter(F.col("run_len") >= self.min_len)
        new_carry = as_report(lead.filter(F.col("trailing"))).unionByName(
            as_report(
                runs.filter(F.col("trailing") & ~F.col("leading"))
            )
        )
        if carry is not None:
            in_batch = uinfo.select("user_id")
            lead_users = runs.filter(F.col("leading")).select("user_id")
            broken = (
                carry.join(in_batch, "user_id")
                .join(lead_users, "user_id", "left_anti")
            )
            emit = emit.unionByName(
                broken.filter(F.col("run_len") >= self.min_len)
            )
            new_carry = new_carry.unionByName(
                carry.join(in_batch, "user_id", "left_anti")
            )

        rows = emit.select(F.lit("run").alias("kind"), *self._CARRY_COLS)
        rows = rows.unionByName(
            new_carry.select(F.lit("carry").alias("kind"), *self._CARRY_COLS)
        )
        if runs_prev is not None:
            rows = rows.unionByName(runs_prev)
        return rows


class OutOfOrderAuditSink(MergeSink):
    """``foreachBatch`` state machine for the CROSS-BATCH out-of-order
    arrival audit — the streaming twin of plans/analytics.
    dq_out_of_order_audit: batches arrive in INGEST order (event_id
    slices), each user's LAST-SEEN event time is carried forward (one
    row per user, keyed max-by-event_id), and the pair between a user's
    carry and their first event of the next batch is spliced so no
    adjacent pair is ever lost to a batch boundary.

    Replay-order contract: the per-type counters (pairs,
    backwards, max backwards gap) are ADDITIVE / max-mergeable and thus
    batch-order independent, but the carry SPLICE pairs a user's
    carried last event with their next batch's first event — adjacency
    that only means "consecutive by event_id" when micro-batches are
    delivered in ascending event_id order (which the event_id range
    slicing of run_out_of_order_stream guarantees). Equality with the
    one-shot batch audit therefore holds for ingest-ordered delivery;
    under out-of-order delivery the sink DEGRADES SAFELY rather than
    fabricating pairs: the carry keeps the max-by-event_id row across
    batches (a late batch can never regress it) and the splice is
    guarded to fire only when the carried event_id precedes the batch
    row's event_id (a non-adjacent pair is skipped, never invented).

    100 TB shape: per batch, one per-user lag window over batch rows
    only + an O(#active users) join against the carry; state is one
    (user, last_epoch) row per user ever seen plus O(#types) counter
    rows."""

    _COLS = ["kind", "event_type", "n_pairs", "n_backwards",
             "max_backwards_seconds", "user_id", "last_epo", "last_eid"]

    def merge(self, batch_df, prev):
        from ..plans.analytics import out_of_order_counters

        if prev is not None:
            st = prev
            if "last_eid" not in st.columns:
                # Legacy state written before the carry tracked
                # last_eid: treat the carried event_id as unknown
                # (NULL), which makes the splice guard below skip the
                # splice — the documented degrade-safely path — instead
                # of failing the resume with an AnalysisException.
                st = st.withColumn("last_eid", F.lit(None).cast("bigint"))
            carry = st.filter(F.col("kind") == "carry").select(
                "user_id", "last_epo", "last_eid"
            )
            counters = st.filter(F.col("kind") == "type").select(
                "event_type", "n_pairs", "n_backwards",
                "max_backwards_seconds",
            )
        else:
            carry = counters = None

        w = Window.partitionBy("user_id").orderBy("event_id")
        seq = batch_df.select(
            "user_id", "event_id", "event_type",
            F.unix_timestamp("ts").cast("long").alias("epo"),
        ).withColumn("prev_epo", F.lag("epo").over(w))
        if carry is not None:
            # Splice guard: the carry is a true PREDECESSOR only when
            # its event_id precedes this batch's first row for the user
            # — a late-delivered batch must skip the splice, not invent
            # a non-adjacent pair (see class docstring).
            seq = seq.withColumn("rn", F.row_number().over(w)).join(
                carry, "user_id", "left"
            ).withColumn(
                "prev_epo",
                F.when(
                    (F.col("rn") == 1)
                    & (F.col("last_eid") < F.col("event_id")),
                    F.col("last_epo"),
                ).otherwise(F.col("prev_epo")),
            )
        pairs = seq.filter(F.col("prev_epo").isNotNull()).select(
            "event_type", (F.col("prev_epo") - F.col("epo")).alias("back_s")
        )
        batch_counts = out_of_order_counters(pairs)
        if counters is not None:
            merged = (
                counters.select(
                    "event_type",
                    F.col("n_pairs").alias("p0"),
                    F.col("n_backwards").alias("b0"),
                    F.col("max_backwards_seconds").alias("m0"),
                )
                .join(batch_counts, "event_type", "full_outer")
                .select(
                    "event_type",
                    (F.coalesce(F.col("p0"), F.lit(0))
                     + F.coalesce(F.col("n_pairs"), F.lit(0)))
                    .cast("bigint").alias("n_pairs"),
                    (F.coalesce(F.col("b0"), F.lit(0))
                     + F.coalesce(F.col("n_backwards"), F.lit(0)))
                    .cast("bigint").alias("n_backwards"),
                    F.greatest(
                        F.coalesce(F.col("m0"), F.lit(0)),
                        F.coalesce(
                            F.col("max_backwards_seconds"), F.lit(0)
                        ),
                    ).cast("bigint").alias("max_backwards_seconds"),
                )
            )
        else:
            merged = batch_counts
        last_in_batch = seq.groupBy("user_id").agg(
            F.expr("max_by(epo, event_id)").cast("long").alias("last_epo"),
            F.max("event_id").cast("long").alias("last_eid"),
        )
        if carry is not None:
            # Max-by-event_id merge: a late batch never regresses the
            # carried frontier (batch-order robustness).
            new_carry = (
                last_in_batch.unionByName(carry)
                .groupBy("user_id")
                .agg(
                    F.expr("max_by(last_epo, last_eid)")
                    .cast("long")
                    .alias("last_epo"),
                    F.max("last_eid").cast("long").alias("last_eid"),
                )
            )
        else:
            new_carry = last_in_batch

        return merged.select(
            F.lit("type").alias("kind"), "event_type", "n_pairs",
            "n_backwards", "max_backwards_seconds",
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("long").alias("last_epo"),
            F.lit(None).cast("long").alias("last_eid"),
        ).unionByName(
            new_carry.select(
                F.lit("carry").alias("kind"),
                F.lit(None).cast("string").alias("event_type"),
                F.lit(None).cast("long").alias("n_pairs"),
                F.lit(None).cast("long").alias("n_backwards"),
                F.lit(None).cast("long").alias("max_backwards_seconds"),
                "user_id", "last_epo", "last_eid",
            )
        )


def run_out_of_order_stream(spark, sf_dir: str):
    """Streaming out-of-order audit end-to-end: the events table
    replayed as FOUR ingest-ordered (event_id-sliced) micro-batches
    through an OutOfOrderAuditSink; returns the per-type report with
    backwards_ppm derived at read-off — exactly the one-shot batch
    audit's frame."""
    from ..plans.analytics import backwards_ppm, event_sequence

    raw = event_sequence(spark, sf_dir)
    return replay(
        raw, _range_bucket(raw, F.col("event_id")), OutOfOrderAuditSink,
        lambda st: st.filter(F.col("kind") == "type").select(
            "event_type", "n_pairs", "n_backwards", "max_backwards_seconds",
            backwards_ppm(F.col("n_backwards"), F.col("n_pairs")),
        ),
    )


def run_error_burst_stream(spark, sf_dir: str, min_len: int = 3):
    """Streaming burst detection end-to-end: the events table replayed
    as FOUR time-ordered micro-batches through an ErrorBurstSink;
    returns emitted runs plus finalized trailing carries (>= min_len)
    — exactly the one-shot batch detector's frame."""
    from ..plans.analytics import event_sequence

    raw = event_sequence(spark, sf_dir)
    return replay(
        raw, _range_bucket(raw, F.unix_micros("ts")),
        lambda st: ErrorBurstSink(st, min_len),
        lambda st: st.filter(
            (F.col("kind") == "run")
            | ((F.col("kind") == "carry") & (F.col("run_len") >= min_len))
        ).select(*ErrorBurstSink._CARRY_COLS),
    )


def run_pattern_match_stream(spark, sf_dir: str):
    """Streaming pattern detection end-to-end: the events table replayed
    as FOUR time-ordered micro-batches through a PatternMatchSink for
    the view->click->purchase sequence; returns the accumulated match
    table (same shape as the batch pattern_match_sequence entry)."""
    from ..plans.analytics import _PATTERN, event_sequence

    raw = event_sequence(spark, sf_dir)
    return replay(
        raw, _range_bucket(raw, F.unix_micros("ts")),
        lambda st: PatternMatchSink(st, _PATTERN),
        lambda st: st.filter(F.col("kind") == "match").select(
            "user_id",
            "start_event_id",
            "end_event_id",
            "start_ts_us",
            "duration_us",
        ),
    )


class CusumStateSink(MergeSink):
    """``foreachBatch`` state machine for CROSS-BATCH CUSUM drift
    detection: per user the ONLY carried state is the current cusum
    value S (one decimal per active user — O(1) state, the smallest
    possible recurrence carry). Batches arrive in event-time order;
    within a batch the recurrence S_t = max(0, S_{t-1} + x_t − k)
    is served by its windowed closed form WITH carry:

        S_t = greatest(S0 + P_t, P_t − min_{j<=t} P_j)

    (P = running sum of x−k over the batch; the second arm is every
    in-batch restart point incl. "restart now" = 0; the first arm is
    "never restarted since the carry"). Each event is scored exactly
    once, in its own batch, so the accumulated output of a cold replay
    over ANY time-ordered slicing equals the one-shot batch closed form
    — which is the entry's SQL oracle (TIMESERIES_CUSUM_SQL verbatim).

    All arithmetic stays DECIMAL(38,6): exact, partition-order
    independent, and the carry round-trips parquet losslessly as a
    string. 100 TB shape: per batch one user-keyed window shuffle +
    a broadcast-size carry join; state is one row per active user."""

    def merge(self, batch_df, prev):
        from ..plans.analytics import cusum_prefix

        dec = "decimal(38,6)"
        if prev is not None:
            carry = prev.filter(F.col("kind") == "carry").select(
                "user_id", F.col("payload").cast(dec).alias("s0")
            )
            out_prev = prev.filter(F.col("kind") == "out")
        else:
            carry = None
            out_prev = None

        base = cusum_prefix(batch_df)
        if carry is not None:
            base = base.join(carry, "user_id", "left")
        else:
            base = base.withColumn("s0", F.lit(None).cast(dec))
        s0 = F.coalesce(F.col("s0"), F.lit("0").cast(dec))
        s = F.greatest(
            (s0 + F.col("pt")).cast(dec),
            (F.col("pt") - F.col("mn")).cast(dec),
        )
        scored = base.select(
            "event_id", "user_id", "ts", s.alias("s")
        )
        out_new = scored.select(
            F.lit("out").alias("kind"),
            "event_id",
            "user_id",
            F.col("s").cast("string").alias("payload"),
        )
        wlast = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        carry_new = (
            scored.withColumn("rn", F.row_number().over(wlast))
            .filter(F.col("rn") == 1)
            .select(
                F.lit("carry").alias("kind"),
                F.lit(None).cast("long").alias("event_id"),
                "user_id",
                F.col("s").cast("string").alias("payload"),
            )
        )
        # users with carried state but no event this batch keep their S
        if carry is not None:
            idle = (
                carry.join(
                    scored.select("user_id").distinct(), "user_id", "left_anti"
                ).select(
                    F.lit("carry").alias("kind"),
                    F.lit(None).cast("long").alias("event_id"),
                    "user_id",
                    F.col("s0").cast("string").alias("payload"),
                )
            )
            carry_new = carry_new.unionByName(idle)
        parts = out_new.unionByName(carry_new)
        if out_prev is not None:
            parts = parts.unionByName(
                out_prev.select("kind", "event_id", "user_id", "payload")
            )
        return parts


def run_cusum_stream(spark, sf_dir: str):
    """Streaming CUSUM end-to-end: events replayed as four time-ordered
    micro-batches through CusumStateSink; returns the accumulated
    per-event cusum table (same shape/values as the batch
    timeseries_cusum_drift entry — its SQL oracle)."""
    from ..plans.analytics import cusum_report
    raw = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return replay(
        raw, _range_bucket(raw, F.unix_micros("ts")), CusumStateSink,
        lambda st: cusum_report(
            st.filter(F.col("kind") == "out"),
            F.col("payload").cast("decimal(38,6)"),
        ),
    )


class UrlDedupMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming URL-canonicalization dedup —
    the streaming twin of plans/llm_data.dedup_url_canonicalize, giving
    the web-crawl ingest the same batch<->streaming parity the dedup/
    TF-IDF/curation/token-ledger families already have: each arriving
    micro-batch of crawled docs canonicalizes its URLs (pure string/
    array expressions, operators/dedup.canonical_url_col) and MERGEs
    into a state table kept at (canonical_url, raw_url) grain with
    keeper_id = MIN(doc_id) and n_docs = SUM counts.

    The grain is the mergeability trick: the batch query's
    n_raw_variants is a COUNT DISTINCT, which cannot be merged from
    per-batch counts — but at (canonical, raw) grain every state column
    is min/sum (associative), and the final per-canonical report is a
    pure read-off (n_raw_variants = state rows per canonical). Cold
    replay over any batch slicing therefore equals the one-shot batch
    dedup — what the SQL oracle computes. At 100 TB: canonicalization
    is a narrow codegen'd per-row pass, each batch shuffles one
    mergeable hash-agg of its own distinct (canonical, raw) pairs, and
    state is bounded by the corpus's distinct raw URLs (the
    exact-distinct cost; the HLL family is the sketch alternative when
    cardinality must stay O(1))."""

    def merge(self, batch_df, prev):
        from ..operators.dedup import canonical_url_col

        inc = (
            batch_df.select(
                "doc_id",
                canonical_url_col(F.col("url")).alias("canonical_url"),
                F.col("url").alias("raw_url"),
            )
            .groupBy("canonical_url", "raw_url")
            .agg(
                F.min("doc_id").alias("keeper_id"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            )
        )
        return _fold(
            prev, inc, ["canonical_url", "raw_url"],
            F.min("keeper_id").alias("keeper_id"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )


def run_url_dedup_stream(spark, sf_dir: str):
    """Streaming URL-canonicalization dedup end-to-end: the documents
    table (with the deterministic crawl-URL fixture column) replayed as
    FOUR micro-batches through a UrlDedupMergeSink; returns the final
    per-canonical-URL dedup report (keeper, n_docs, n_raw_variants)."""
    from ..operators.dedup import with_url_column

    raw = with_url_column(
        load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ).select("doc_id", "url")
    return replay(
        raw, F.col("doc_id") % 4, UrlDedupMergeSink,
        lambda st: st.groupBy("canonical_url").agg(
            F.min("keeper_id").alias("keeper_id"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_raw_variants"),
        ),
    )


class CdcApplyMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming CDC changelog compaction —
    the streaming twin of plans/pipeline_ops.cdc_apply_changelog: each
    arriving micro-batch of sequenced changes collapses to per-key
    partials (max seq, the op/payload AT that max seq, change count)
    and MERGEs into the state table by last-writer-wins.

    The merge is associative because arg-max-by-seq composes: merging
    two partials keeps the one with the larger last_seq (seq =
    o_orderkey is unique, so there are no ties to break) and SUMS the
    change counts — so cold replay over any batch slicing equals the
    one-shot batch compaction the SQL oracle computes. Delete
    tombstones are kept IN STATE (a later batch may carry an older
    seq for the key after a crash-replay; dropping early would lose
    the max-seq evidence) and filtered at read-off, exactly like the
    batch plan's HAVING. At 100 TB each batch shuffles one mergeable
    hash-agg of its own keys and state is one row per live-or-tombstoned
    key — the Delta/Hudi MERGE INTO economics without a table format."""

    def merge(self, batch_df, prev):
        from ..plans.pipeline_ops import cdc_collapse

        inc = cdc_collapse(batch_df, F.count(F.lit(1)))
        if prev is None:
            return inc
        cols = ["key", "last_seq AS seq", "last_op AS op", "price", "n_changes"]
        return cdc_collapse(
            prev.selectExpr(*cols).unionByName(inc.selectExpr(*cols)),
            F.sum("n_changes"),
        )


def run_cdc_apply_stream(spark, sf_dir: str):
    """Streaming CDC compaction end-to-end: the orders-derived changelog
    replayed as FOUR micro-batches through a CdcApplyMergeSink; returns
    the live snapshot (tombstoned keys filtered at read-off)."""
    from ..plans.pipeline_ops import cdc_changelog, cdc_live

    return replay(
        cdc_changelog(spark, sf_dir), F.col("seq") % 4, CdcApplyMergeSink,
        cdc_live,
    )


class Scd2MergeSink(MergeSink):
    """``foreachBatch`` MERGE that maintains an SCD2 dimension
    incrementally — the write-side streaming twin of
    plans/pipeline_ops.scd2_build_from_changes (the natural sibling of
    CdcApplyMergeSink): each
    arriving micro-batch of (key, seq, attr, valid_from) changes
    rewrites ONLY the affected keys' version chains.

    Merge shape per batch: state splits by an anti/semi join on the
    batch's distinct keys — untouched keys' versions pass through
    byte-identical; affected keys' RAW change rows (state rows carry
    their raw fields) union the batch, dedup on (key, seq), and re-run
    the keyed lead() window that defines SCD2 versioning. Per key the
    chain is a deterministic function of the SET of its changes, and
    (key, seq) dedup makes replayed rows no-ops, so cold replay over
    any batch slicing equals the one-shot batch build the SQL oracle
    computes.

    100 TB shape: per batch, one mergeable distinct on the batch's
    keys, one semi + one anti join against state (both equi, broadcast
    when the batch key set is small), and the lead() window only over
    the AFFECTED keys' versions — dimension history for quiet keys is
    never read, shuffled, or rewritten; this is Delta/Hudi MERGE INTO
    economics for the classic warehouse SCD2 maintenance job."""

    _RAW = ["key", "seq", "attr_price", "valid_from"]

    def merge(self, batch_df, prev):
        from ..plans.pipeline_ops import scd2_version

        inc = batch_df.select(*self._RAW).dropDuplicates(["key", "seq"])
        if prev is None:
            return scd2_version(inc)
        keys = inc.select("key").distinct()
        untouched = prev.join(keys, "key", "left_anti")
        affected = (
            prev.join(keys, "key", "left_semi")
            .select(*self._RAW)
            .unionByName(inc)
            .dropDuplicates(["key", "seq"])
        )
        return untouched.unionByName(scd2_version(affected))


def run_scd2_stream(spark, sf_dir: str):
    """Streaming SCD2 dimension maintenance end-to-end: the
    orders-derived per-customer change stream (the exact
    scd2_build_from_changes fixture) replayed as FOUR micro-batches
    through an Scd2MergeSink; returns the maintained dimension."""
    from ..plans.pipeline_ops import scd2_changes

    return replay(
        scd2_changes(spark, sf_dir), F.col("seq") % 4, Scd2MergeSink,
        lambda st: st.select(
            "key", "seq", "attr_price", "valid_from", "valid_to",
            "is_current",
        ),
    )


class BottomKMergeSink(MergeSink):
    """``foreachBatch`` MERGE for the streaming bottom-k sample — the
    minimal mergeable-sketch state: the state table IS the k-row
    sample. Per batch: take the batch's own bottom-k by sample key,
    union with state, dedup by doc_id (a replayed row can never
    displace a distinct one), re-take bottom-k, swap. Associativity is
    the KMV identity bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    bottom-k(B)); idempotence comes from the dedup. State is k rows
    forever — O(1) in stream length."""

    def __init__(self, state_dir: str, k: int) -> None:
        super().__init__(state_dir)
        self.k = k

    def merge(self, batch_df, prev):
        from ..plans.pipeline_ops import bottom_k

        inc = bottom_k(batch_df, self.k)
        if prev is None:
            return inc
        return bottom_k(prev.unionByName(inc).dropDuplicates(["doc_id"]), self.k)


def run_bottom_k_stream(spark, sf_dir: str, k: int):
    """Streaming bottom-k sample end-to-end: documents (with the md5
    sample key precomputed) replayed as FOUR micro-batches through a
    BottomKMergeSink; returns the maintained k-row sample."""
    from ..plans.pipeline_ops import bottom_k_keyed

    return replay(
        bottom_k_keyed(spark, sf_dir), F.col("doc_id") % 4,
        lambda st: BottomKMergeSink(st, k),
        lambda st: st.select("doc_id", "source", "sample_key"),
    )


class TopKCountMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming exact heavy-hitters: state
    is the per-key count table (cell-wise ADDITIVE, the simplest
    mergeable summary there is), and the top-k report is a read-off —
    kept out of state on purpose, because "current top 10" is not
    mergeable but per-key counts are. Cold replay over any batch
    slicing equals the one-shot batch GROUP BY.

    State is O(#distinct keys) — the EXACT path, right when the key
    space is customer-sized. When it isn't (URLs, ngrams at 100 TB),
    the bounded-state twin is streaming_countmin_state: a constant
    2048-cell grid in exchange for an overestimate-only error bar."""

    def merge(self, batch_df, prev):
        inc = batch_df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        return _fold(
            prev, inc, ["o_custkey"], F.sum("cnt").cast("long").alias("cnt")
        )


def run_topk_stream(spark, sf_dir: str, k: int = 10):
    """Streaming exact top-k heavy hitters end-to-end: orders replayed
    as FOUR micro-batches through a TopKCountMergeSink, then the top-k
    report (count DESC, key ASC) derived FROM THE STATE."""
    raw = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return replay(
        raw, F.col("o_orderkey") % 4, TopKCountMergeSink,
        lambda st: st.select(
            "o_custkey", F.col("cnt").cast("long").alias("n_orders")
        )
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(k),
    )


class TokenFreqMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming corpus token-frequency
    maintenance: state is the (token, freq) table — additive, hence
    mergeable, hence replay-order-independent — the live corpus
    statistic behind the Zipf-fit and vocabulary-coverage reports
    (text_zipf_tail_fit / text_token_coverage_curve): maintain counts
    on the stream, derive any spectrum report at read-off. Cold
    replay over any batch slicing equals the one-shot batch count.
    State is O(vocabulary) — sublinear in the corpus (Heaps' law); the
    bounded-state fallback for adversarial key spaces is
    streaming_countmin_state."""

    def merge(self, batch_df, prev):
        from ..plans.llm_data import token_freq

        inc = token_freq(batch_df)
        return _fold(
            prev, inc, ["tok"], F.sum("freq").cast("long").alias("freq")
        )


def run_token_freq_stream(spark, sf_dir: str):
    """Streaming token-frequency state end-to-end: documents replayed
    as FOUR micro-batches through a TokenFreqMergeSink, then the
    vocabulary-coverage curve derived FROM THE STATE (the exact
    text_token_coverage_curve report, so the batch entry's oracle
    checks the streaming path)."""
    from ..plans.llm_data import coverage_curve

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return replay(raw, F.col("doc_id") % 4, TokenFreqMergeSink, coverage_curve)


class FreshnessMergeSink(MergeSink):
    """``foreachBatch`` MERGE for the streaming event-time freshness
    monitor — the twin of plans/analytics.dq_event_freshness and the
    form that audit actually RUNS as (freshness is a property of an
    ingest, so the monitor belongs on the stream): per batch, each
    event_type's (count, min ts, max ts) partials merge into state by
    sum/min/max — all associative, so cold replay over any batch
    slicing equals the one-shot batch audit. The trailing-24 h count
    and per-type lag are NOT state (they depend on the high-water
    mark, which moves): they are computed at read-off from a
    per-(type, hour-bucket) count grid kept in state — bucket counts
    are sums (mergeable), and any window anchored at the final HWM is
    a read-off over O(#types x #hours) rows."""

    def merge(self, batch_df, prev):
        inc = batch_df.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        return _fold(
            prev, inc, ["event_type", "hour_bucket"],
            F.sum("n_events").cast("long").alias("n_events"),
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
        )


def run_freshness_stream(spark, sf_dir: str):
    """Streaming freshness monitor end-to-end: events replayed as FOUR
    micro-batches through a FreshnessMergeSink; the final per-type
    freshness report (counts, epoch bounds, lag vs HWM, trailing-24 h
    count) is a pure read-off of the (type, hour-bucket) state grid."""
    def read_off(state):
        hwm = state.agg(
            F.max("max_ts").alias("hwm"),
            F.date_trunc("hour", F.max("max_ts")).alias("hwm_hour"),
        )
        return (
            state.crossJoin(F.broadcast(hwm))
            .withColumn(
                "in_window",
                F.col("hour_bucket")
                >= F.col("hwm_hour") - F.expr("INTERVAL 23 HOURS"),
            )
            .groupBy("event_type")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.unix_timestamp(F.min("min_ts")).alias("min_epoch_s"),
                F.unix_timestamp(F.max("max_ts")).alias("max_epoch_s"),
                (
                    (
                        F.unix_timestamp(F.max("hwm"))
                        - F.unix_timestamp(F.max("max_ts"))
                    )
                    / 60
                ).cast("bigint").alias("lag_minutes"),
                # bucket-aligned trailing day: the last 24 COMPLETE hour
                # buckets up to the HWM hour — the window a bucket-grain
                # monitor can answer exactly (the sub-hour-exact variant
                # is the batch entry dq_event_freshness); mirrored by
                # this entry's own oracle
                F.sum(
                    F.when(F.col("in_window"), F.col("n_events")).otherwise(0)
                ).cast("bigint").alias("n_last_24_buckets"),
            )
        )

    raw = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    return replay(raw, F.col("event_id") % 4, FreshnessMergeSink, read_off)


class MarkovMergeSink(MergeSink):
    """``foreachBatch`` MERGE for streaming first-order Markov
    transition counting — the streaming twin of
    plans/analytics.analytics_markov_transitions. State is ONE parquet
    table holding two row kinds (the PatternMatchSink layout):

    - ``cell`` rows: (from_type, to_type) -> n_trans, merged by SUM
      (associative);
    - ``carry`` rows: each user's LAST event (ts, event_id,
      event_type) so the batch-boundary transition (previous batch's
      tail -> this batch's head) is counted exactly once. The carry is
      an arg-max by (ts, event_id) — associative, and correct because
      the time-sliced replay (``_range_bucket`` over ts) never splits a
      same-timestamp group across batches.

    Cold replay over any time slicing therefore equals the one-shot
    batch transition count — what ANALYTICS_MARKOV_SQL computes. At
    100 TB: each batch does one user-local window over (carry ∪ batch)
    and one hash-agg to the #types² cell frame; state is #types² + one
    row per active user."""

    def merge(self, batch_df, prev):
        from ..plans.analytics import markov_cells

        ev_cols = ["user_id", "ts", "event_id", "event_type"]
        if prev is not None:
            carry = prev.filter(F.col("kind") == "carry").select(*ev_cols)
            cells_prev = prev.filter(F.col("kind") == "cell").select(
                "from_type", "to_type", "n_trans"
            )
        else:
            carry = batch_df.select(*ev_cols).limit(0)
            cells_prev = None

        events_now = carry.unionByName(batch_df.select(*ev_cols))
        cells_new = _fold(
            cells_prev, markov_cells(events_now), ["from_type", "to_type"],
            F.sum("n_trans").cast("long").alias("n_trans"),
        )
        wtail = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        carry_new = (
            events_now.withColumn("rk", F.row_number().over(wtail))
            .filter(F.col("rk") == 1)
            .select(*ev_cols)
        )
        null = lambda t: F.lit(None).cast(t)
        return cells_new.select(
            F.lit("cell").alias("kind"),
            "from_type", "to_type", "n_trans",
            null("bigint").alias("user_id"),
            null("timestamp").alias("ts"),
            null("bigint").alias("event_id"),
            null("string").alias("event_type"),
        ).unionByName(
            carry_new.select(
                F.lit("carry").alias("kind"),
                null("string").alias("from_type"),
                null("string").alias("to_type"),
                null("bigint").alias("n_trans"),
                "user_id", "ts", "event_id", "event_type",
            )
        )


def run_markov_stream(spark, sf_dir: str):
    """Streaming Markov transition matrix end-to-end: the events table
    replayed as FOUR time-ordered micro-batches through a
    MarkovMergeSink; returns the final row-normalized transition
    report (from_type, to_type, n_trans, p)."""
    from ..plans.analytics import event_sequence, markov_report

    raw = event_sequence(spark, sf_dir)
    return replay(
        raw, _range_bucket(raw, F.unix_micros("ts")), MarkovMergeSink,
        lambda st: markov_report(st.filter(F.col("kind") == "cell")),
    )


class CountMinMergeSink(MergeSink):
    """``foreachBatch`` MERGE for the streaming count-min sketch — the
    twin of plans/relational2.agg_countmin_heavy_hitters and the form
    frequency monitoring actually runs as: the sketch grid is cell-wise
    ADDITIVE (Cormode & Muthukrishnan's mergeability), so each batch's
    d×w partial grid sums into state and cold replay over any batch
    slicing equals the one-shot batch sketch. State is ONE parquet
    holding two mergeable frames tagged by ``kind``: 'grid' rows are
    (r, bucket) -> cnt sketch cells (2048 rows forever, the production
    state), 'key' rows are per-key exact counts that exist ONLY so the
    final report can carry the same true-vs-estimate audit as the
    batch entry (a production monitor would keep just the grid and
    probe ad hoc)."""

    def merge(self, batch_df, prev):
        from ..plans.relational2 import cms_grid

        grid = cms_grid(batch_df).select(
            F.lit("grid").alias("kind"),
            F.col("r").cast("long").alias("r"),
            "bucket",
            F.lit(None).cast("long").alias("key"),
            F.col("cell").cast("long").alias("cnt"),
        )
        keys = batch_df.groupBy(
            F.lit("key").alias("kind"),
            F.lit(None).cast("long").alias("r"),
            F.lit(None).cast("long").alias("bucket"),
            F.col("o_custkey").cast("long").alias("key"),
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        return _fold(
            prev, grid.unionByName(keys), ["kind", "r", "bucket", "key"],
            F.sum("cnt").cast("long").alias("cnt"),
        )


def run_countmin_stream(spark, sf_dir: str):
    """Streaming count-min sketch end-to-end: orders replayed as FOUR
    micro-batches through a CountMinMergeSink, then the batch entry's
    true-vs-estimate top-10 report is derived FROM THE STATE (top keys
    from the 'key' frame, estimates probed from the 'grid' frame)."""
    from ..plans.relational2 import cms_report

    def read_off(state):
        return cms_report(
            state.filter(F.col("kind") == "key").select(
                F.col("key").alias("o_custkey"), F.col("cnt").alias("true_cnt")
            ),
            state.filter(F.col("kind") == "grid").select(
                "r", "bucket", F.col("cnt").alias("cell")
            ),
        )

    raw = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return replay(raw, F.col("o_orderkey") % 4, CountMinMergeSink, read_off)
