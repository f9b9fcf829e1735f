"""Dataset-mechanics registry: the operations that turn a curated corpus
into training-ready shards and keep warehouse tables current — hash
splitting, token-budget packing, mixture weighting, changeset upsert
(MERGE semantics), and multi-granularity time rollup.

All deterministic (hash-derived or integer arithmetic), all full DuckDB
oracle parity. The md5-prefix idiom gives an engine-portable uniform
hash: both engines md5 the UTF-8 bytes of the same decimal string, and
an 8-hex-char prefix compares lexicographically exactly like the 32-bit
value it encodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_u32
from ..functions.numeric import dsum, sql_dsum
from ..schemas import driver_frame, load_table
from .analytics import DQ_ERROR_BURST_SQL, DQ_OUT_OF_ORDER_SQL
from .llm_data import _coverage_sql
from .relational2 import AGG_COUNTMIN_SQL
from .spec import QuerySpec

# 80/10/10 split: 0.8*2^32 = 0xCCCCCCCC, 0.9*2^32 = 0xE6666666.
_TRAIN_MAX = "cccccccc"
_VAL_MAX = "e6666666"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _split_col():
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return (
        F.when(h < _TRAIN_MAX, "train").when(h < _VAL_MAX, "val").otherwise("test")
    )


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5(doc_id) prefix —
    the assignment is a pure function of the key, so it is stable across
    runs, engines, and re-partitioning (the property a training pipeline
    needs so no document ever migrates between splits). Map-only + one
    3-group aggregate; at 100 TB the split column is computed inside the
    scan and the report is a partial-agg collapse."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(_split_col().alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


SPLIT_SQL = f"""
WITH assigned AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_TRAIN_MAX}'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_VAL_MAX}'
              THEN 'val' ELSE 'test' END AS split,
         n_chars
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY split
"""


_BOTTOM_K = 200


def sample_bottom_k_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sampling sketch — the MERGEABLE uniform sample (the
    KMV/bottom-k construction): keep the k documents with the smallest
    md5 hash of their id. Unlike seeded Bernoulli (random size) or
    systematic sampling (needs global positions), bottom-k composes:
    bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) — so
    partitions, shards, and micro-batches each keep k rows and merge
    losslessly (the streaming twin maintains exactly this state).

    100 TB shape: Spark plans ORDER BY hash LIMIT k as
    TakeOrderedAndProject — per-partition bottom-k then a k-row driver
    merge, never a global sort shuffle; the sample is a pure function
    of ids (stable across runs/engines/partitionings)."""
    return bottom_k(bottom_k_keyed(spark, sf_dir), _BOTTOM_K)


def bottom_k_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-k fixture: (doc_id, source, sample_key = md5 of the
    salted id) — the input of both sample_bottom_k_sketch and the
    streaming twin's replay."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit("bks:"), F.col("doc_id").cast("string"))).alias(
            "sample_key"
        ),
    )


def bottom_k(keyed: DataFrame, k: int) -> DataFrame:
    """The k rows with the smallest sample_key: the batch sketch, and
    the streaming sink's per-batch take and re-take."""
    return keyed.orderBy("sample_key").limit(k)


SAMPLE_BOTTOM_K_SQL = f"""
SELECT doc_id, source,
       md5('bks:' || CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key
LIMIT {_BOTTOM_K}
"""


def streaming_bottom_k_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-k sample maintenance: the documents table
    replayed as FOUR micro-batches through a foreachBatch MERGE whose
    state is just the current k-row sample — per batch, union the
    batch's own bottom-k with state, dedup by doc_id (replay-proof),
    re-take bottom-k, swap (streaming/sinks.BottomKMergeSink). The
    bottom-k construction is associative and idempotent, so cold
    replay over any batch slicing equals the one-shot batch sketch —
    the oracle is SAMPLE_BOTTOM_K_SQL itself. Exactly-once via
    in-state commit markers + crash-safe swap; state is k rows
    regardless of stream length — the cheapest stateful operator in
    the registry."""
    from ..streaming.sinks import run_bottom_k_stream

    return run_bottom_k_stream(spark, sf_dir, _BOTTOM_K)


def dataset_split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE train/val/test split — the REPAIR whose need
    dq_split_leakage detects: instead of hashing the doc_id (which
    scatters exact/near duplicates across splits and leaks train
    content into test), hash the content GROUP key (sha256 of
    normalized text, hash_dedup's normalization), so every duplicate
    of a document lands in the same split BY CONSTRUCTION — the split
    is a pure function of content. Report per split: docs, distinct
    content groups, and chars; a group spanning two splits is
    structurally impossible (tested with planted duplicates).

    100 TB shape: map-only split assignment inside the scan + one
    3-group aggregate with a distinct on group keys (mergeable
    partials); no joins, no windows."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    gkey = F.sha2(norm, 256)
    split = (
        F.when(F.substring(F.md5(gkey), 1, 8) < _TRAIN_MAX, "train")
        .when(F.substring(F.md5(gkey), 1, 8) < _VAL_MAX, "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), gkey.alias("gkey"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("gkey").alias("n_groups"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


SPLIT_GROUP_AWARE_SQL = rf"""
WITH assigned AS (
  SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS gkey,
         n_chars
  FROM documents
), labeled AS (
  SELECT CASE WHEN substr(md5(gkey), 1, 8) < '{_TRAIN_MAX}' THEN 'train'
              WHEN substr(md5(gkey), 1, 8) < '{_VAL_MAX}' THEN 'val'
              ELSE 'test' END AS split,
         gkey, n_chars
  FROM assigned
)
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT gkey) AS n_groups,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM labeled GROUP BY split
"""


def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents (in deterministic doc_id
    order) to fixed token-budget batches — the shard/batch preparation
    step before tokenization. A document starts a new batch when the
    tokens BEFORE it fill the current 2048-token budget.

    Scale shape: a single global running sum would serialize on one
    partition, so packing runs inside deterministic key-range buckets
    (doc_id // 1024 — 100 TB gives ~100k independent buckets, each a
    bounded in-memory window). One shuffle on the bucket key; batches
    never span buckets, which is exactly how shard-local packing works
    in practice (shards are packed independently)."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    n_tok = F.when(F.trim(F.col("text")) == "", 0).otherwise(n_tok)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            F.floor(F.col("doc_id") / 1024).alias("bucket"),
            n_tok.alias("n_tok"),
        )
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn("batch_id", F.floor((F.col("cum") - F.col("n_tok")) / 2048))
        .groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


PACK_SQL = r"""
WITH sized AS (
  SELECT doc_id, doc_id // 1024 AS bucket,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS n_tok
  FROM documents
),
packed AS (
  SELECT bucket, n_tok,
         -- DuckDB's windowed SUM(BIGINT) returns HUGEINT and // preserves
         -- it; Spark emits BIGINT, so cast for hash parity.
         CAST((SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok) // 2048
              AS BIGINT) AS batch_id
  FROM sized
)
SELECT bucket, batch_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY bucket, batch_id
"""


def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality governance for pack_token_budget — "how much of
    the context budget does the greedy packer actually fill?": batch
    count vs the information-theoretic lower bound
    ceil(total_tokens / budget), exact fill distribution summary
    (mean/min/max, fraction >= 90%), and the overflow count (the
    greedy rule lets the crossing doc overshoot the budget). The
    pre-flight read before a tokenize-and-pack run: efficiency far
    below 1.0 means the shard/bucket granularity, not the budget, is
    deciding batch count.

    100 TB shape: ONE rollup over pack_token_budget's (bucket, batch)
    frame — strictly cheaper than the packing it audits; exact
    integers until three final divisions."""
    batches = pack_token_budget(spark, sf_dir)
    budget = 2048
    fill = F.col("n_tokens").cast("double") / budget
    rep = batches.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.countDistinct("bucket").cast("bigint").alias("n_buckets"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.min(fill), 6).alias("min_fill"),
        F.round(F.max(fill), 6).alias("max_fill"),
        F.sum((F.col("n_tokens") > budget).cast("long")).cast("bigint")
        .alias("n_overfull"),
        F.sum((fill >= 0.9).cast("long")).cast("bigint")
        .alias("n_above_90pct"),
    )
    lower_bound = F.ceil(F.col("total_tokens") / budget).cast("bigint")
    return rep.select(
        "n_batches", "n_buckets", "n_docs", "total_tokens",
        lower_bound.alias("lower_bound_batches"),
        F.round(lower_bound.cast("double") / F.col("n_batches"), 6)
        .alias("efficiency"),
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_batches") * budget), 6,
        ).alias("mean_fill"),
        "min_fill", "max_fill", "n_overfull", "n_above_90pct",
    )


PACK_EFFICIENCY_SQL = rf"""
WITH sized AS (
  SELECT doc_id, doc_id // 1024 AS bucket,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
           AS n_tok
  FROM documents
), packed AS (
  SELECT bucket, n_tok,
         CAST((SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok) // 2048
              AS BIGINT) AS batch_id
  FROM sized
), batches AS (
  SELECT bucket, batch_id, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM packed GROUP BY bucket, batch_id
), rep AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
         CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         round(MIN(n_tokens::DOUBLE / 2048), 6) AS min_fill,
         round(MAX(n_tokens::DOUBLE / 2048), 6) AS max_fill,
         CAST(SUM(CASE WHEN n_tokens > 2048 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overfull,
         CAST(SUM(CASE WHEN n_tokens::DOUBLE / 2048 >= 0.9
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_above_90pct
  FROM batches
)
SELECT n_batches, n_buckets, n_docs, total_tokens,
       CAST(ceil(total_tokens / 2048.0) AS BIGINT) AS lower_bound_batches,
       round(CAST(ceil(total_tokens / 2048.0) AS BIGINT)::DOUBLE
             / n_batches, 6) AS efficiency,
       round(total_tokens::DOUBLE / (n_batches * 2048), 6) AS mean_fill,
       min_fill, max_fill, n_overfull, n_above_90pct
FROM rep
"""


def mixture_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: per-source document share and the repeat
    factor that would equalize sources to the largest one — the
    source-weighting table a multi-corpus training run samples from.
    One aggregate shuffle to ~#sources rows, then window math on the
    tiny grouped result.

    The empty-partition window here is allowlisted in the plan-shape
    gate (tests/test_scale_idioms.py): its input cardinality is the
    number of DISTINCT SOURCES — a categorical constant (a handful of
    corpus names), not something that grows with data volume — so the
    single-partition step is O(1) at any scale factor. Contrast
    ntile_decile_stats, whose window input is the full orders table."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    wall = Window.partitionBy()
    share = F.round(F.col("n_docs") / F.sum("n_docs").over(wall), 6)
    repeat = F.round(F.max("n_docs").over(wall) / F.col("n_docs"), 6)
    return agg.select(
        "source", "n_docs", "total_chars",
        share.alias("share"), repeat.alias("repeat_factor"),
    )


MIXTURE_SQL = """
WITH agg AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY source
)
SELECT source, n_docs, total_chars,
       round(n_docs::DOUBLE / SUM(n_docs) OVER (), 6) AS share,
       round(MAX(n_docs) OVER ()::DOUBLE / n_docs, 6) AS repeat_factor
FROM agg
"""


# Target global keep fraction: realized exactly when every adjusted
# per-source rate (weight * rate * #sources) stays below 1; with heavy
# source skew small sources cap at rate 1.0 and the realized global
# fraction lands above the target.
_TEMP_GLOBAL_RATE = "0.5"


def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixture sampling (the XLM-R / multilingual-
    LM re-weighting, alpha = 0.5): source sampling weights follow
    p_i^alpha / sum_j p_j^alpha — up-weighting small sources relative to
    raw proportions — and each document is kept by a DETERMINISTIC
    md5-hash draw against its source's adjusted rate. This is
    mixture_by_source made executable: the report says what to sample,
    this entry actually draws the sample, reproducibly on any engine
    and under any repartitioning.

    Determinism: alpha=0.5 means sqrt(), which IEEE requires correctly
    rounded (identical in every engine — the reason alpha is 0.5 and
    not an arbitrary pow()); weights round to 6 dp and normalize in
    DECIMAL; per-doc draws compare a 32-bit md5 prefix against
    rate * 2^32 in exact integer-vs-double form. Scale shape: one
    #sources-row aggregate broadcast back onto the corpus — the draw
    itself is map-side, no second shuffle of document rows."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wall = Window.partitionBy()
    w6 = F.round(
        F.sqrt(F.col("n_docs") / F.sum("n_docs").over(wall)), 6
    ).cast("decimal(12,6)")
    weights = agg.select(
        "source",
        "n_docs",
        (w6 / F.sum(w6).over(wall))
        .cast("decimal(18,12)")
        .cast("string")
        .cast("double")
        .alias("weight"),
        F.count(F.lit(1)).over(wall).cast("double").alias("n_sources"),
    ).withColumn(
        "keep_rate",
        F.col("weight") * F.lit(float(_TEMP_GLOBAL_RATE)) * F.col("n_sources"),
    )
    # x #sources (derived, not a constant): a weight of 1/#sources maps
    # to the global rate, so the adjusted per-source rates straddle it
    # (capped at 1 below). n_sources is exact-integer-valued, so the
    # double product is the same in every engine.
    drawn = (
        docs.select("doc_id", "source")
        .join(F.broadcast(weights), "source")
        .withColumn(
            "u32", md5_u32(F.col("doc_id").cast("string"))
        )
        .withColumn(
            "kept", F.col("u32") < F.least(F.col("keep_rate"), F.lit(1.0)) * F.lit(float(2**32))
        )
    )
    return drawn.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.round("weight", 6)).alias("weight"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_sampled"),
    )


SAMPLE_TEMPERATURE_SQL = f"""
WITH agg AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs,
         CAST(round(sqrt(n_docs::DOUBLE / SUM(n_docs) OVER ()), 6)
              AS DECIMAL(12,6)) AS w6
  FROM agg
), weights AS (
  SELECT source, n_docs,
         CAST(CAST(CAST(w6 / SUM(w6) OVER () AS DECIMAL(18,12)) AS VARCHAR)
              AS DOUBLE) AS weight,
         CAST(COUNT(*) OVER () AS DOUBLE) AS n_sources
  FROM w
), drawn AS (
  SELECT d.source, w.weight,
         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           < least(w.weight * {_TEMP_GLOBAL_RATE} * n_sources, 1.0) * 4294967296.0
           AS kept
  FROM documents d JOIN weights w USING (source)
)
SELECT source, COUNT(*) AS n_docs,
       round(MAX(weight), 6) AS weight,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM drawn
GROUP BY source
"""


def upsert_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert without MERGE: apply a deterministic changeset
    (updates for custkey%10=3, deletes for %10=7, inserts at -key for
    %10=1) to the customer snapshot via one full outer join — the
    portable expression of Delta/Iceberg MERGE INTO on an engine without
    a table format. Insert keys use the negative mirror of the source
    key: custkeys are positive at every scale factor, so -key can never
    collide with a live row (a fixed +1e6 offset broke at sf>=7).

    Scale shape: one sort-merge shuffle join on the merge key (full
    outer precludes broadcast — both sides must see unmatched rows); AQE
    handles skewed keys. With a table format (Delta/Iceberg) the same
    changeset drives MERGE INTO and only touched files rewrite; this is
    the engine-only equivalent that rewrites the snapshot."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    updates = cust.filter(k % 10 == 3).select(
        k.alias("key"), F.lit("U").alias("op"), F.lit("UPDATED").alias("new_segment")
    )
    deletes = cust.filter(k % 10 == 7).select(
        k.alias("key"), F.lit("D").alias("op"), F.lit(None).cast("string").alias("new_segment")
    )
    inserts = cust.filter(k % 10 == 1).select(
        (-k).alias("key"), F.lit("I").alias("op"),
        F.lit("INSERTED").alias("new_segment"),
    )
    chg = updates.unionByName(deletes).unionByName(inserts)
    merged = cust.join(chg, cust.c_custkey == chg.key, "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            F.coalesce("c_custkey", "key").alias("c_custkey"),
            F.coalesce("new_segment", "c_mktsegment").alias("c_mktsegment"),
            F.coalesce(
                F.when(F.col("op") == "U", F.lit("updated"))
                .when(F.col("op") == "I", F.lit("inserted")),
                F.lit("unchanged"),
            ).alias("row_origin"),
        )
    )


UPSERT_SQL = """
WITH chg AS (
  SELECT c_custkey AS key, 'U' AS op, 'UPDATED' AS new_segment
  FROM customer WHERE c_custkey % 10 = 3
  UNION ALL
  SELECT c_custkey, 'D', NULL FROM customer WHERE c_custkey % 10 = 7
  UNION ALL
  SELECT -c_custkey, 'I', 'INSERTED'
  FROM customer WHERE c_custkey % 10 = 1
)
SELECT COALESCE(c_custkey, key) AS c_custkey,
       COALESCE(new_segment, c_mktsegment) AS c_mktsegment,
       CASE op WHEN 'U' THEN 'updated' WHEN 'I' THEN 'inserted'
               ELSE 'unchanged' END AS row_origin
FROM customer FULL JOIN chg ON c_custkey = key
WHERE op IS NULL OR op <> 'D'
"""


def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction — the Debezium-style op every lakehouse
    ingest runs: a keyed changelog of sequenced upserts and delete
    tombstones collapses to the live snapshot by LAST-WRITER-WINS per
    key, dropping keys whose final change is a delete. Differs from
    upsert_changeset (single-batch MERGE against a snapshot): here the
    input is the raw multi-version change stream itself — several
    sequenced changes per key — and the snapshot is derived, not
    joined.

    Changelog fixture: orders replayed as changes with key =
    o_orderkey % 20000 (so keys average multiple versions at sf0.1),
    seq = o_orderkey (unique, so every max_by tiebreak is
    deterministic), op = 'D' tombstone for orderkey % 11 = 0 else 'U',
    payload = o_totalprice (read straight from parquet — no arithmetic,
    so both engines compare identical doubles).

    100 TB shape: ONE mergeable hash aggregate (max/max_by/count) on
    the change key — no window, no join, no sort; this is exactly why
    compaction services prefer arg-max-by-seq over per-key ordering."""
    return cdc_live(cdc_collapse(cdc_changelog(spark, sf_dir), F.count(F.lit(1))))


def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changelog fixture (key, seq, op, price) of cdc_apply_changelog
    and its streaming twin."""
    return _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 20000).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("price"),
    )


def cdc_collapse(changes: DataFrame, n_changes) -> DataFrame:
    """Last-writer-wins per key: max seq, and the op and price at that
    seq. ``n_changes`` is the change-count aggregate — ``count(1)`` over
    raw changes, ``sum("n_changes")`` over collapsed partials, which is
    how the streaming sink merges a batch into its state."""
    return changes.groupBy("key").agg(
        F.max("seq").alias("last_seq"),
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("price", "seq").alias("price"),
        n_changes.cast("bigint").alias("n_changes"),
    )


def cdc_live(collapsed: DataFrame) -> DataFrame:
    """The live snapshot: keys whose last change is a delete tombstone
    drop out (the oracle's HAVING)."""
    return collapsed.filter(F.col("last_op") != "D").select(
        "key", "last_seq", "price", "n_changes"
    )


CDC_APPLY_SQL = """
WITH ch AS (
  SELECT o_orderkey % 20000 AS key, o_orderkey AS seq,
         CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS price
  FROM orders
)
SELECT key, MAX(seq) AS last_seq, arg_max(price, seq) AS price,
       CAST(COUNT(*) AS BIGINT) AS n_changes
FROM ch GROUP BY key
HAVING arg_max(op, seq) <> 'D'
"""


def maintenance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the data-versioning audit (Delta time-travel
    DESCRIBE HISTORY's row-level sibling): compare table versions A and
    B by key and report added / removed / changed / unchanged row
    counts with key ranges, so a pipeline re-run can prove WHAT its new
    snapshot touched before publishing.

    Version fixture (deterministic residue classes of orders): A drops
    orderkey % 10 = 0 (those become 'added' in B), B drops
    orderkey % 13 = 0 ('removed') and doubles o_totalprice for
    orderkey % 7 = 0 ('changed'; double*2 is exact in both engines).

    100 TB shape: ONE full-outer sort-merge join on the key (both
    sides must surface unmatched rows, so broadcast is structurally
    out) followed by a 4-row mergeable aggregate; attribute comparison
    is row-local. With a table format the same diff reads two manifests
    instead of two scans — this is the engine-only equivalent."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    snap_a = o.filter(k % 10 != 0).select(
        k.alias("key"), F.col("o_totalprice").alias("price_a")
    )
    snap_b = o.filter(k % 13 != 0).select(
        k.alias("key"),
        F.when(k % 7 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("price_b"),
    )
    joined = snap_a.join(snap_b, "key", "full_outer")
    status = (
        F.when(F.col("price_a").isNull(), F.lit("added"))
        .when(F.col("price_b").isNull(), F.lit("removed"))
        .when(F.col("price_a") != F.col("price_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select("key", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
        )
    )


SNAPSHOT_DIFF_SQL = """
WITH a AS (
  SELECT o_orderkey AS key, o_totalprice AS price_a
  FROM orders WHERE o_orderkey % 10 <> 0
), b AS (
  SELECT o_orderkey AS key,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS price_b
  FROM orders WHERE o_orderkey % 13 <> 0
), j AS (
  SELECT COALESCE(a.key, b.key) AS key,
         CASE WHEN price_a IS NULL THEN 'added'
              WHEN price_b IS NULL THEN 'removed'
              WHEN price_a <> price_b THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b ON a.key = b.key
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(key) AS min_key, MAX(key) AS max_key
FROM j GROUP BY status
"""


def scd2_build_from_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension BUILD from a change stream — the write-side
    complement of join_pointintime_scd2 (which queries an existing SCD2
    table): per key, each change opens a version valid from its own
    timestamp until the NEXT change's timestamp (lead), with the last
    version open-ended and flagged current. Change fixture: orders as a
    per-customer attribute stream (key = o_custkey, ts = o_orderdate,
    attribute = o_totalprice) with o_orderkey as the unique tiebreaker,
    so versions are totally ordered even on same-day changes.

    100 TB shape: ONE keyed window (partitionBy customer — millions of
    small partitions, never global) with a single lead(); no join, no
    aggregate. valid_to as the NEXT ts (not ts-1 day) follows the
    half-open [from, to) convention every PIT join here uses."""
    return scd2_version(scd2_changes(spark, sf_dir))


def scd2_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change fixture (key, valid_from, seq, attr_price) of
    scd2_build_from_changes and its streaming twin."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("attr_price"),
    )


def scd2_version(changes: DataFrame) -> DataFrame:
    """SCD2 versioning of a change set: per key, each change is valid
    until the next one (lead over (valid_from, seq)); the last is
    open-ended and current."""
    w = Window.partitionBy("key").orderBy("valid_from", "seq")
    return changes.select(
        "key",
        "seq",
        "attr_price",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


SCD2_BUILD_SQL = """
SELECT o_custkey AS key, o_orderkey AS seq, o_totalprice AS attr_price,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       (lead(o_orderdate) OVER w IS NULL) AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def sample_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling — the survey-methodology member
    the sampling family still lacked (seeded Bernoulli, stratified
    fixed-k, Neyman, weighted-priority, Poisson bootstrap, temperature
    mixture all exist): order the frame by a deterministic md5 shuffle
    key and keep every 20th row. Versus Bernoulli, systematic sampling
    guarantees the EXACT sample size and even coverage of the shuffle
    order — the property batch-eval pipelines want when a fixed-budget
    slice must be reproducible.

    Scale shape: the rank comes from the 256-bucket two-phase ranking
    (dataset_shuffle_shards' recipe) — md5-prefix bucket, bucket-local
    row_number, O(1) cross-bucket offsets — so there is NO global sort;
    the modulus filter is row-local. Output is the sample with its
    positions, deterministically identical on every run."""
    docs = _t(spark, sf_dir, "documents")
    k = 20
    keyed = docs.select(
        "doc_id", "source",
        F.md5(F.concat(F.lit("sys:"), F.col("doc_id").cast("string"))).alias(
            "shuf"
        ),
    ).withColumn(
        "bucket",
        F.conv(F.substring("shuf", 1, 2), 16, 10).cast("int"),
    )
    per_bucket = keyed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("bn")
    )
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).alias("base"),
    )
    w_in = Window.partitionBy("bucket").orderBy("shuf", "doc_id")
    ranked = keyed.join(F.broadcast(offsets), "bucket").withColumn(
        "pos", F.col("base") + F.row_number().over(w_in) - 1
    )
    return (
        ranked.filter(F.col("pos") % k == 0)
        .select(
            "doc_id", "source", F.col("pos").cast("bigint").alias("pos")
        )
    )


SAMPLE_SYSTEMATIC_SQL = """
WITH keyed AS (
  SELECT doc_id, source,
         md5('sys:' || CAST(doc_id AS VARCHAR)) AS shuf,
         ('0x' || substr(md5('sys:' || CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER
           AS bucket
  FROM documents
), per_bucket AS (
  SELECT bucket, COUNT(*) AS bn FROM keyed GROUP BY bucket
), offsets AS (
  SELECT bucket,
         COALESCE(SUM(bn) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM per_bucket
), ranked AS (
  SELECT k.doc_id, k.source,
         o.base + ROW_NUMBER() OVER (PARTITION BY k.bucket
                                     ORDER BY k.shuf, k.doc_id) - 1 AS pos
  FROM keyed k JOIN offsets o USING (bucket)
)
SELECT doc_id, source, CAST(pos AS BIGINT) AS pos
FROM ranked WHERE pos % 20 = 0
"""


def dataset_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling with source interleaving — the training
    data-loader order for curriculum learning: docs ascend through
    difficulty TIERS (row-local token-count buckets: shorter = earlier,
    the classic length curriculum), and WITHIN a tier the sources are
    round-robin interleaved (so no tier opens with a monoculture run)
    in a deterministic md5 shuffle order.

    pos_in_tier = (md5-rank within (tier, source) − 1) · n_sources +
    source_index — collision-free by construction, and reproducible
    because every input is derived from data (n_sources is COUNTED,
    never hardcoded — the sample_temperature_mixture lesson). 100 TB
    shape: tiering is row-local; ranking windows are
    partitioned by (tier, source) — never global over docs; the source
    index + count run on the #sources frame (O(1), waived)."""
    docs = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    tiered = docs.select(
        "doc_id",
        "source",
        F.when(ntok < 50, 0)
        .when(ntok < 150, 1)
        .when(ntok < 400, 2)
        .otherwise(3)
        .cast("int")
        .alias("tier"),
        F.md5(F.col("doc_id").cast("string")).alias("shuf"),
    )
    src_idx = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (
                F.row_number().over(Window.orderBy("source")) - 1
            ).cast("long").alias("source_index"),
        )
    )
    n_sources = docs.agg(
        F.count_distinct("source").cast("long").alias("n_sources")
    )
    w = Window.partitionBy("tier", "source").orderBy("shuf", "doc_id")
    return (
        tiered.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(src_idx), "source")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "doc_id",
            "tier",
            "source",
            (
                (F.col("rk") - 1) * F.col("n_sources") + F.col("source_index")
            ).cast("long").alias("pos_in_tier"),
        )
    )


CURRICULUM_SQL = r"""
WITH tiered AS (
  SELECT doc_id, source,
         CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 50 THEN 0
              WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 150 THEN 1
              WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 400 THEN 2
              ELSE 3 END AS tier,
         md5(CAST(doc_id AS VARCHAR)) AS shuf
  FROM documents
), si AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS source_index
  FROM (SELECT DISTINCT source FROM documents)
), ns AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
SELECT t.doc_id, CAST(t.tier AS INTEGER) AS tier, t.source,
       CAST((ROW_NUMBER() OVER (PARTITION BY t.tier, t.source
                                ORDER BY t.shuf, t.doc_id) - 1)
            * ns.n_sources + si.source_index AS BIGINT) AS pos_in_tier
FROM tiered t JOIN si USING (source) CROSS JOIN ns
"""


def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: year -> month -> day
    subtotals over the events stream in ONE pass (ROLLUP on prefix-coded
    time buckets), the continuous-aggregate maintenance query of a
    time-series store. Single shuffle; partial aggregation collapses
    map-side because day strings repeat heavily."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format("ts", "yyyy").alias("year"),
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "value",
        )
        .rollup("year", "month", "day")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
    )


ROLLUP_TIME_SQL = f"""
SELECT strftime(ts, '%Y') AS year,
       strftime(ts, '%Y-%m') AS month,
       strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY ROLLUP (strftime(ts, '%Y'), strftime(ts, '%Y-%m'), strftime(ts, '%Y-%m-%d'))
"""


def dataset_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole dataset-construction job as ONE declarative plan:
    content-hash dedup (keep min doc_id) → quality filter (score ≥ 0.7,
    same heuristic as the curation stage) → deterministic 80/10/10 hash
    split → token-budget packing inside (split, key-range bucket) →
    per-split yield report (docs, packed batches, tokens). A user of the
    reference engine runs these as separate steps; composed here Catalyst
    fuses dedup+quality+split into two stages around one hash shuffle.

    Shuffle budget: dedup window (1, on the content hash), packing window
    (1, on split+bucket — bounded buckets, no global order), final 3-row
    aggregate. The quality and split expressions are row-local and fuse
    into the surrounding stages."""
    from ..operators.textops import quality_score_col

    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w_dedup = Window.partitionBy("_h").orderBy("doc_id")
    kept = (
        docs.withColumn("_h", F.sha2(norm, 256))
        .withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .filter(quality_score_col(F.col("text")) >= 0.7)
    )
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    n_tok = F.when(F.trim(F.col("text")) == "", 0).otherwise(n_tok)
    staged = kept.select(
        "doc_id",
        _split_col().alias("split"),
        F.floor(F.col("doc_id") / 1024).alias("bucket"),
        n_tok.alias("n_tok"),
    )
    w_pack = (
        Window.partitionBy("split", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = staged.withColumn("cum", F.sum("n_tok").over(w_pack)).withColumn(
        "batch_id", F.floor((F.col("cum") - F.col("n_tok")) / 2048)
    )
    # batch key flattened to one BIGINT (batch_id < 1024 per bucket by
    # construction) so COUNT(DISTINCT ...) is a plain scalar both engines
    # agree on.
    return packed.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(
            F.col("bucket") * 1_000_000 + F.col("batch_id")
        ).alias("n_batches"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


# Quality-score SQL fragment single-sourced from the curation oracle
# (llm_data._SQL_QSCORE mirrors operators.textops.quality_score_col).
from .llm_data import _SQL_QSCORE as _QSCORE  # noqa: E402


DATASET_BUILD_SQL = rf"""
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
), kept AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
  WHERE {_QSCORE} >= 0.7
), staged AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_TRAIN_MAX}'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_VAL_MAX}'
              THEN 'val' ELSE 'test' END AS split,
         doc_id // 1024 AS bucket,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS n_tok
  FROM kept
), packed AS (
  SELECT split, bucket, n_tok,
         CAST((SUM(n_tok) OVER (PARTITION BY split, bucket ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok) // 2048
              AS BIGINT) AS batch_id
  FROM staged
)
SELECT split, COUNT(*) AS n_docs,
       COUNT(DISTINCT bucket * 1000000 + batch_id) AS n_batches,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY split
"""


def dq_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE detection: near-duplicate documents (same
    content fingerprint — the word-order-insensitive key the dedup path
    uses) landing on BOTH sides of a split boundary silently inflate
    eval scores; this is the hygiene check a training pipeline runs
    AFTER splitting and BEFORE shipping an eval set. Reports, per
    crossed split-set, how many fingerprints leak and how many
    documents they cover. Shape: the split column is a pure function of
    doc_id (split_train_val_test's md5 rule), so the whole check is one
    fingerprint-keyed aggregate + one tiny rollup — shuffles 32-hex
    keys, never text."""
    from ..operators.textops import fingerprint_col

    docs = _t(spark, sf_dir, "documents")
    per_fp = (
        docs.select(
            _split_col().alias("split"),
            fingerprint_col(F.col("text")).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.array_sort(F.collect_set("split")).alias("splits"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.size("splits") >= 2)
    )
    return per_fp.groupBy(
        F.array_join("splits", "|").alias("split_set")
    ).agg(
        F.count(F.lit(1)).alias("n_leaked_fps"),
        F.sum("n_docs").cast("long").alias("n_docs_affected"),
    )


DQ_SPLIT_LEAKAGE_SQL = f"""
WITH a AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_TRAIN_MAX}'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_VAL_MAX}'
              THEN 'val' ELSE 'test' END AS split,
         md5(array_to_string(list_sort(list_distinct(
           CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END)),
           ' ')) AS fp
  FROM documents
), g AS (
  SELECT fp, list_sort(list_distinct(list(split))) AS splits,
         COUNT(*) AS n_docs
  FROM a GROUP BY fp
)
SELECT array_to_string(splits, '|') AS split_set,
       COUNT(*) AS n_leaked_fps,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs_affected
FROM g WHERE len(splits) >= 2
GROUP BY 1
"""


_SHUFFLE_EPOCH = 1
_SHUFFLE_N_SHARDS = 8


def dataset_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + data-loader sharding — the step
    between a curated corpus and a training run: every document gets a
    pseudo-random rank from md5(epoch || doc_id) (a NEW permutation per
    epoch, reproducible on any engine/partitioning — no
    rand()/shuffle() nondeterminism), is dealt to one of N loader
    shards round-robin BY RANK (so shard sizes are balanced to ±1
    regardless of key skew, unlike hash-mod sharding), and receives its
    within-shard read position. A data loader reading shard k in
    position order replays exactly this global permutation interleaved
    N ways.

    Scale shape — a global permutation WITHOUT a global sort: a naive
    row_number() over the whole corpus is an Exchange-SinglePartition
    scale killer (the ntile_decile_stats trap), so the global rank is
    built with TWO-PHASE bucket ranking: the first md5 byte splits the
    corpus into 256 ordered buckets (the bucket is a PREFIX of the sort
    key, so bucket-major order IS global key order), ranks are assigned
    per-bucket in parallel, and each bucket's offset is a cumulative
    count over the 256-row bucket-size frame (O(1), broadcast back).
    global_rank = offset + in-bucket rank, bit-identical to the naive
    form — which is exactly what the single-threaded oracle computes,
    so the hash match IS the equivalence proof. Shard and position then
    derive arithmetically from the rank — no second sort anywhere."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(
        F.concat(F.lit(f"epoch{_SHUFFLE_EPOCH}:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.withColumn("shuffle_key", key).withColumn(
        "bucket", F.conv(F.substring("shuffle_key", 1, 2), 16, 10).cast("int")
    )
    wb = Window.partitionBy("bucket").orderBy(
        F.col("shuffle_key").asc(), F.col("doc_id").asc()
    )
    in_bucket = keyed.withColumn("bucket_rank", F.row_number().over(wb))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "bucket", (F.sum("n").over(woff) - F.col("n")).alias("offset")
    )
    ranked = in_bucket.join(F.broadcast(offsets), "bucket").withColumn(
        "epoch_rank", (F.col("offset") + F.col("bucket_rank")).cast("long")
    )
    return ranked.select(
        "doc_id",
        "source",
        "epoch_rank",
        ((F.col("epoch_rank") - 1) % _SHUFFLE_N_SHARDS).cast("long").alias("shard"),
        F.floor((F.col("epoch_rank") - 1) / _SHUFFLE_N_SHARDS)
        .cast("long")
        .alias("shard_position"),
    )


DATASET_SHUFFLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
             ORDER BY md5('epoch{_SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS BIGINT) AS epoch_rank
  FROM documents
)
SELECT doc_id, source, epoch_rank,
       CAST((epoch_rank - 1) % {_SHUFFLE_N_SHARDS} AS BIGINT) AS shard,
       CAST((epoch_rank - 1) // {_SHUFFLE_N_SHARDS} AS BIGINT) AS shard_position
FROM ranked
"""


def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight pipeline telemetry via ``DataFrame.observe`` — Spark's
    zero-extra-pass metrics channel: named aggregates are accumulated ON
    the task side WHILE the job runs (here: rows seen, null keys,
    decimal revenue total, max order date), then read from the
    Observation after the action. This is how a production job emits
    row-count/invariant metrics without a second scan — the engine's
    native answer to Beam's metrics counters, and the DQ hook a 100 TB
    ingest attaches to every stage. The observed pass itself is a real
    filter+write (noop sink), so the metrics describe the actual
    production pass, not a parallel query.

    The returned 1-row frame is the sanctioned bounded materialization
    (Observation.get is driver-side by design). Determinism: count/sum
    metrics are associative (decimal revenue via the dsum convention);
    the oracle recomputes the same aggregates declaratively."""
    from pyspark.sql import Observation

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "X")
    obs = Observation("ingest_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"),
        F.max(F.unix_micros("o_orderdate")).alias("max_orderdate_us"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return driver_frame(
        spark,
        [
            (
                int(m["n_rows"]),
                int(m["n_null_cust"]),
                float(str(m["rev_dec"])),
                int(m["max_orderdate_us"]),
            )
        ],
        "n_rows bigint, n_null_cust bigint, total_revenue double, max_orderdate_us bigint",
    )


PIPELINE_OBSERVE_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_cust,
       {sql_dsum('o_totalprice')} AS total_revenue,
       CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS max_orderdate_us
FROM orders WHERE o_orderstatus <> 'X'
"""


def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance job that file
    count alone (an identical plan runs far slower over many tiny
    input splits) makes non-optional at 100 TB. Simulates a fragmented
    ingest by writing documents as 64 tiny parquet files, then compacts into
    8 deterministic fixed-RANGE buckets — one output file per bucket
    (asserted by
    tests/test_scale_idioms.py::test_compaction_yields_one_file_per_bucket),
    range-clustered so min/max row-group stats keep supporting data skipping
    after the rewrite (a doc_id % 8 hash shuffle would destroy them).
    Bucketing is pure integer arithmetic (``div``), so the boundary each doc
    lands on is bit-identical across engines; the id domain comes from a
    1-row MAX scalar (sanctioned broadcast). Output: per-bucket row count,
    id range, and char sum — the compaction report."""
    import os

    # pid-keyed scratch: two concurrent sessions running this entry must
    # not overwrite/rmtree under each other's reads
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    scratch = f"/tmp/spark_graft_compact/{tag}-{os.getpid()}"
    frag_dir = f"{scratch}/frag"
    comp_dir = f"{scratch}/compact"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    docs.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    hi = frag.agg(F.max("doc_id").alias("hi"))
    bucketed = (
        frag.crossJoin(F.broadcast(hi))
        .withColumn(
            "bucket", F.expr("CAST(least(doc_id * 8 div (hi + 1), 7) AS INT)")
        )
        .drop("hi")
    )
    bucketed.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(comp_dir)
    back = spark.read.parquet(comp_dir)
    return back.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


def maintenance_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton space-filling-curve) clustering: the multi-
    dimensional data-skipping layout maintenance_compact_small_files's
    single-key range clustering can't give. Both doc_id and n_chars are
    bucketized to 16 levels off 1-row min/max scalars (sanctioned
    broadcast, the compaction recipe), their bits interleaved by pure
    integer div/mod arithmetic (engine-exact, no UDF), and the table is
    rewritten into one file per 16-code Z-range — each file then covers
    a fixed 4x4 TILE in (doc_id, n_chars) bucket space, so parquet
    min/max row-group bounds prune on BOTH dimensions (a single-key sort
    bounds one dimension and lets the other span the full domain;
    tests/test_scale_idioms.py asserts the tile property physically).
    Output: the per-file clustering report, integer-only."""
    import os

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_dir = f"/tmp/spark_graft_zorder/{tag}-{os.getpid()}"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rng = docs.agg(
        F.min("doc_id").alias("lo_id"),
        F.max("doc_id").alias("hi_id"),
        F.min("n_chars").alias("lo_ch"),
        F.max("n_chars").alias("hi_ch"),
    )
    bits = " + ".join(
        f"((bx div {1 << i}) % 2) * {1 << (2 * i + 1)}"
        f" + ((by div {1 << i}) % 2) * {1 << (2 * i)}"
        for i in range(4)
    )
    coded = (
        docs.crossJoin(F.broadcast(rng))
        .withColumn(
            "bx",
            F.expr("CAST(least((doc_id - lo_id) * 16 div (hi_id - lo_id + 1), 15) AS INT)"),
        )
        .withColumn(
            "by",
            F.expr("CAST(least((n_chars - lo_ch) * 16 div (hi_ch - lo_ch + 1), 15) AS INT)"),
        )
        .withColumn("morton", F.expr(f"CAST({bits} AS INT)"))
        .withColumn("zfile", F.expr("morton div 16"))
        .select("doc_id", "n_chars", "bx", "by", "morton", "zfile")
    )
    coded.repartition("zfile").sortWithinPartitions("morton").write.partitionBy(
        "zfile"
    ).mode("overwrite").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return back.groupBy(F.col("zfile").cast("int").alias("zfile")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("bx").alias("min_bx"),
        F.max("bx").alias("max_bx"),
        F.min("by").alias("min_by"),
        F.max("by").alias("max_by"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.min("n_chars").alias("min_n_chars"),
        F.max("n_chars").alias("max_n_chars"),
    )


def _zorder_sql() -> str:
    bits = " + ".join(
        f"((bx // {1 << i}) % 2) * {1 << (2 * i + 1)}"
        f" + ((by // {1 << i}) % 2) * {1 << (2 * i)}"
        for i in range(4)
    )
    return f"""
WITH rng AS (
  SELECT MIN(doc_id) AS lo_id, MAX(doc_id) AS hi_id,
         MIN(n_chars) AS lo_ch, MAX(n_chars) AS hi_ch
  FROM documents
), coded AS (
  SELECT doc_id, n_chars,
         CAST(least((doc_id - lo_id) * 16 // (hi_id - lo_id + 1), 15) AS INTEGER) AS bx,
         CAST(least((n_chars - lo_ch) * 16 // (hi_ch - lo_ch + 1), 15) AS INTEGER) AS by
  FROM documents CROSS JOIN rng
)
SELECT CAST(({bits}) // 16 AS INTEGER) AS zfile,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(bx) AS min_bx, MAX(bx) AS max_bx,
       MIN(by) AS min_by, MAX(by) AS max_by,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
       MIN(n_chars) AS min_n_chars, MAX(n_chars) AS max_n_chars
FROM coded
GROUP BY 1
"""


def maintenance_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the incremental-restatement idiom
    (`spark.sql.sources.partitionOverwriteMode=dynamic`): a full
    year-partitioned table is written once, then a RESTATEMENT batch
    containing ONLY 1997 rows (prices doubled) is written with
    mode('overwrite') — under dynamic mode only the 1997 partition is
    replaced, every other year survives untouched. Under the default
    STATIC mode the second write would delete all other partitions, so
    the oracle (original years + doubled 1997) hash-matching IS the
    proof of dynamic semantics. At 100 TB this is how a late-arriving
    day/region is restated without rewriting the table."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    d = f"/tmp/spark_graft_dynover/{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(d)
    restated = orders.filter(F.col("o_year") == 1997).withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(12,2)") * 2)
        .cast("string")
        .cast("double"),
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.partitionBy("o_year").mode("overwrite").parquet(d)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(d)
    return back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_TTL_CUTOFF_YEAR = 1995


def maintenance_retention_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL retention enforcement — the data-lifecycle job every
    regulated 100 TB table runs (GDPR/retention windows): a
    year-partitioned table is written, then partitions OLDER than the
    cutoff are dropped by PARTITION-DIRECTORY deletion — an O(#expired
    partitions) filesystem operation that never reads, rewrites, or
    shuffles a single surviving row. That is the entire point of
    partitioning by the retention key: row-level deletes would rewrite
    the whole table. The physical assertion (surviving partition dirs
    on disk == years kept) plus the oracle hash (readback == the
    source filtered to the window) together prove scoped, lossless
    deletion. Per-PID scratch dir."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    d = f"/tmp/spark_graft_ttl/{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(d)
    # retention sweep: drop expired partition directories
    for entry in sorted(os.listdir(d)):
        if entry.startswith("o_year="):
            year = int(entry.split("=", 1)[1])
            if year < _TTL_CUTOFF_YEAR:
                shutil.rmtree(os.path.join(d, entry))
    kept_dirs = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(d)
        if e.startswith("o_year=")
    )
    assert all(y >= _TTL_CUTOFF_YEAR for y in kept_dirs), kept_dirs
    back = spark.read.parquet(d)
    return back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_MANIFEST_NEW_FILES = 4


def maintenance_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-diff incremental ingest — the exactly-once batch-ingest
    idiom every lakehouse table format (Delta/Iceberg/Hudi) implements
    in its metadata layer: a landing zone receives append-only file
    batches; a MANIFEST table records every file already processed; an
    incremental run lists the landing files, anti-joins the manifest on
    file path, and reads ONLY the new files.

    The pruning here is physical, not a post-scan filter: the new-file
    list is materialized driver-side (a FILE-METADATA collect, O(#new
    files) — the same class as the sanctioned 25-row fidelity LUT, it
    never touches row data) and the incremental read opens exactly
    those paths, so already-processed files see ZERO data I/O — which
    is the entire economics of incremental ingest at 100 TB (re-reading
    the landing zone would be a full-table scan per batch).
    tests/test_scale_idioms.py asserts new.inputFiles() is exactly the
    _MANIFEST_NEW_FILES unprocessed files. Three batches land
    (o_orderkey % 3); batches 0 and 1 are already in the manifest; the
    report aggregates what the incremental run ingested — so the oracle
    (orders with key % 3 = 2 plus the literal file count) hash-matching
    proves the diff picked up all of batch 2 and nothing else. Per-PID
    scratch dir; dirs of dead pids are swept at the start of each run
    so they cannot accumulate across processes."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    root = f"/tmp/spark_graft_manifest/{tag}"
    d = f"{root}/{os.getpid()}"
    # Sweep scratch dirs left by PRIOR processes (per-pid-only cleanup
    # would let dead-pid dirs accumulate forever). A
    # sibling dir whose pid is no longer alive can never be read again
    # (inputFiles() laziness only spans this process), so it is safe
    # to remove; our own dir is recreated fresh below.
    if os.path.isdir(root):
        for entry in os.listdir(root):
            try:
                pid = int(entry)
            except ValueError:
                shutil.rmtree(f"{root}/{entry}", ignore_errors=True)
                continue
            if pid == os.getpid() or not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(f"{root}/{entry}", ignore_errors=True)
    # Also sweep legacy flat-format dirs ({tag}-{pid}) from older runs,
    # keeping any whose pid is still alive (a concurrent process may
    # hold lazy reads against its own dir).
    base = "/tmp/spark_graft_manifest"
    if os.path.isdir(base):
        for entry in os.listdir(base):
            pid_part = entry.rsplit("-", 1)[-1]
            if pid_part.isdigit() and not os.path.exists(f"/proc/{pid_part}"):
                shutil.rmtree(f"{base}/{entry}", ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for b in range(3):
        orders.filter(F.col("o_orderkey") % 3 == b).repartition(
            _MANIFEST_NEW_FILES
        ).write.mode("overwrite").parquet(f"{d}/landing/b{b}")
    # "previous runs" registered batches 0 and 1 in the manifest
    spark.read.parquet(f"{d}/landing/b0", f"{d}/landing/b1").select(
        F.col("_metadata.file_path").alias("file_path")
    ).distinct().write.mode("overwrite").parquet(f"{d}/manifest")
    landing = spark.read.parquet(f"{d}/landing/b0", f"{d}/landing/b1",
                                 f"{d}/landing/b2")
    listed = landing.select(
        F.col("_metadata.file_path").alias("file_path")
    ).distinct()
    manifest = spark.read.parquet(f"{d}/manifest")
    new_paths = [
        r.file_path
        for r in listed.join(manifest, "file_path", "left_anti").collect()
    ]
    new = spark.read.parquet(*sorted(new_paths))
    return new.agg(
        F.lit(len(new_paths)).cast("bigint").alias("n_new_files"),
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_ORPHAN_FILES = 3


def maintenance_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file audit — the VACUUM / garbage-collection complement of
    maintenance_incremental_manifest: a table directory accumulates
    files the manifest never registered (crashed writers' uncommitted
    output, aborted compactions), and the maintenance job must find
    them by diffing the PHYSICAL listing against the manifest before
    reclaiming space. Same economics as the ingest diff: the orphan
    list is a driver-side FILE-METADATA collect (O(#files), zero row
    I/O), and the audit read opens EXACTLY the orphan paths (asserted
    physically in tests/test_scale_idioms.py) — never the committed
    data.

    Fixture: three committed batches land and register in the manifest;
    a 'crashed writer' leaves _ORPHAN_FILES unregistered files of the
    o_orderkey % 5 == 4 slice in the same tree, so the oracle (that
    slice + the literal file count) hash-matching proves the diff found
    all orphans and nothing else. Per-PID scratch dir with dead-pid
    sweep (the maintenance_incremental_manifest convention)."""
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    root = f"/tmp/spark_graft_orphan/{tag}"
    d = f"{root}/{os.getpid()}"
    if os.path.isdir(root):
        for entry in os.listdir(root):
            try:
                pid = int(entry)
            except ValueError:
                shutil.rmtree(f"{root}/{entry}", ignore_errors=True)
                continue
            if pid == os.getpid() or not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(f"{root}/{entry}", ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for b in range(3):
        orders.filter(F.col("o_orderkey") % 3 == b).repartition(2).write.mode(
            "overwrite"
        ).parquet(f"{d}/data/b{b}")
    # the crashed writer: files in the tree, absent from the manifest
    orders.filter(F.col("o_orderkey") % 5 == 4).repartition(
        _ORPHAN_FILES
    ).write.mode("overwrite").parquet(f"{d}/data/stray")
    spark.read.parquet(f"{d}/data/b0", f"{d}/data/b1", f"{d}/data/b2").select(
        F.col("_metadata.file_path").alias("file_path")
    ).distinct().write.mode("overwrite").parquet(f"{d}/manifest")
    listed = (
        spark.read.parquet(f"{d}/data/*")
        .select(F.col("_metadata.file_path").alias("file_path"))
        .distinct()
    )
    manifest = spark.read.parquet(f"{d}/manifest")
    orphan_paths = [
        r.file_path
        for r in listed.join(manifest, "file_path", "left_anti").collect()
    ]
    orphans = spark.read.parquet(*sorted(orphan_paths))
    return orphans.agg(
        F.lit(len(orphan_paths)).cast("bigint").alias("n_orphan_files"),
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


MAINT_ORPHAN_FILES_SQL = f"""
SELECT CAST({_ORPHAN_FILES} AS BIGINT) AS n_orphan_files,
       COUNT(*) AS n_rows,
       {sql_dsum("o_totalprice")} AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey % 5 = 4
"""


MAINT_INCREMENTAL_MANIFEST_SQL = f"""
SELECT CAST({_MANIFEST_NEW_FILES} AS BIGINT) AS n_new_files,
       COUNT(*) AS n_rows,
       {sql_dsum("o_totalprice")} AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey % 3 = 2
"""


MAINT_RETENTION_TTL_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       COUNT(*) AS n_rows,
       {sql_dsum("o_totalprice")} AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE year(o_orderdate) >= {_TTL_CUTOFF_YEAR}
GROUP BY 1
"""


MAINT_PARTITION_OVERWRITE_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       COUNT(*) AS n_rows,
       {sql_dsum("CASE WHEN year(o_orderdate) = 1997 "
                 "THEN CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 "
                 "AS VARCHAR) AS DOUBLE) ELSE o_totalprice END")} AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY 1
"""


COMPACT_SQL = """
WITH hi AS (SELECT MAX(doc_id) AS hi FROM documents)
SELECT CAST(least((doc_id * 8) // (hi + 1), 7) AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents CROSS JOIN hi
GROUP BY 1
"""


_SKIP_LO, _SKIP_HI = "1997-04-01", "1997-06-30"  # the probe predicate
_SKIP_HASH_FILES = 28  # match the date layout's (years x quarters) count


def _layout_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's o_orderdate (``dt``) tagged with its simulated file
    under two layouts (``layout``, ``file_id``): ``date`` = ingestion
    batch keyed by (year, quarter), ``hash`` = md5(o_orderkey) mod
    _SKIP_HASH_FILES — the zone-map input of
    maintenance_file_skipping_stats and maintenance_clustering_depth."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d = F.col("o_orderdate")
    date_file = ((F.year(d) - 1995) * 4 + F.quarter(d) - 1).cast("long")
    hash_file = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16, 10,
        ).cast("long")
        % _SKIP_HASH_FILES
    )
    return o.select(
        F.lit("date").alias("layout"), date_file.alias("file_id"), d.alias("dt")
    ).unionAll(
        o.select(
            F.lit("hash").alias("layout"), hash_file.alias("file_id"),
            d.alias("dt"),
        )
    )


# The oracle CTE of _layout_tagged.
_LAYOUT_TAGGED_SQL = f"""tagged AS (
  SELECT 'date' AS layout,
         CAST((year(o_orderdate) - 1995) * 4 + quarter(o_orderdate) - 1
              AS BIGINT) AS file_id,
         o_orderdate AS dt
  FROM orders
  UNION ALL
  SELECT 'hash',
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % {_SKIP_HASH_FILES},
         o_orderdate
  FROM orders
)"""


def maintenance_file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping audit — the WHY behind
    maintenance_zorder_layout and every lakehouse clustering decision:
    simulate two physical file layouts of the orders table (``date``:
    files = ingestion batches keyed by (year, quarter) of o_orderdate,
    the natural append layout; ``hash``: files = md5(o_orderkey) mod
    28, the worst-case scattered layout), compute each file's min/max
    o_orderdate zone map, and evaluate a one-quarter probe predicate
    ([1997-04-01, 1997-06-30]) against the maps. A file is skippable
    iff its max < lo or its min > hi — the exact test Delta/Iceberg/
    parquet row-group pruning runs. The report quantifies the cliff:
    the date-clustered layout skips all but ~1 file, the hash layout
    skips nothing, row counts identical.

    100 TB shape: ONE hash-agg per layout over (layout, file) keys
    (mergeable min/max/count partials), then a #files-row rollup —
    raw rows are touched once; no joins, no windows."""
    zones = _layout_tagged(spark, sf_dir).groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("dt").alias("mn"),
        F.max("dt").alias("mx"),
    )
    lo, hi = F.lit(_SKIP_LO).cast("date"), F.lit(_SKIP_HI).cast("date")
    skippable = (F.col("mx") < lo) | (F.col("mn") > hi)
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(skippable.cast("long")).cast("bigint").alias("n_skippable"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(skippable, F.col("n_rows")).otherwise(0))
            .cast("bigint").alias("rows_skipped"),
        )
        .select(
            "layout", "n_files", "n_skippable", "rows_total", "rows_skipped",
            F.round(
                F.col("rows_skipped").cast("double")
                / F.col("rows_total").cast("double"),
                6,
            ).alias("skip_fraction"),
        )
    )


MAINTENANCE_FILE_SKIPPING_SQL = f"""
WITH {_LAYOUT_TAGGED_SQL}, zones AS (
  SELECT layout, file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(dt) AS mn, MAX(dt) AS mx
  FROM tagged GROUP BY layout, file_id
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN mx < DATE '{_SKIP_LO}' OR mn > DATE '{_SKIP_HI}'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN mx < DATE '{_SKIP_LO}' OR mn > DATE '{_SKIP_HI}'
                THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
       round(SUM(CASE WHEN mx < DATE '{_SKIP_LO}' OR mn > DATE '{_SKIP_HI}'
                 THEN n_rows ELSE 0 END)::DOUBLE / SUM(n_rows), 6)
         AS skip_fraction
FROM zones GROUP BY layout
"""


def streaming_countmin_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch maintenance: orders replayed as FOUR
    micro-batches through a foreachBatch MERGE whose state is the
    cell-wise-additive d x w sketch grid plus the per-key exact counts
    the final audit needs (streaming/sinks.CountMinMergeSink) — the
    streaming twin of agg_countmin_heavy_hitters, exploiting exactly
    the mergeability that makes count-min the 100 TB frequency
    monitor. Cold replay over any batch slicing equals the one-shot
    batch sketch, so the oracle is AGG_COUNTMIN_SQL itself.
    Exactly-once via in-state commit markers + crash-safe swap; grid
    state is 2048 rows regardless of stream length."""
    from ..streaming.sinks import run_countmin_stream

    return run_countmin_stream(spark, sf_dir)


def streaming_token_freq_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus token-frequency maintenance: documents
    replayed as FOUR micro-batches through a foreachBatch MERGE whose
    state is the additive (token, freq) table
    (streaming/sinks.TokenFreqMergeSink), with the vocabulary-coverage
    curve derived AT READ-OFF — the live form of the corpus-spectrum
    statistics (Zipf fit, coverage curve, TF-IDF DF counts) an
    always-on ingest keeps current. Cold replay over any batch
    slicing equals the one-shot batch count, so the oracle is the
    batch coverage entry's SQL verbatim. Exactly-once via in-state
    commit markers + crash-safe swap; state is O(vocabulary) —
    sublinear in the corpus by Heaps' law."""
    from ..streaming.sinks import run_token_freq_stream

    return run_token_freq_stream(spark, sf_dir)


def streaming_error_burst_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming consecutive-error burst detection: events replayed as
    FOUR time-ordered micro-batches through a foreachBatch state
    machine whose carry is each user's TRAILING error run as a bounded
    SUMMARY (streaming/sinks.ErrorBurstSink) — the cross-batch form of
    the gaps-and-islands family (dq_error_burst_detector /
    dq_null_run_detector): a burst that straddles a batch boundary is
    spliced from the carry, and each run is emitted exactly once when
    broken. Cold replay over any time slicing equals the one-shot
    batch detector, so the oracle is DQ_ERROR_BURST_SQL verbatim."""
    from ..streaming.sinks import run_error_burst_stream

    return run_error_burst_stream(spark, sf_dir)


def streaming_out_of_order_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming out-of-order arrival audit: events replayed as FOUR
    INGEST-ordered (event_id-sliced) micro-batches through a
    foreachBatch state machine carrying each user's last-seen event
    time (streaming/sinks.OutOfOrderAuditSink) — the cross-batch twin
    of dq_out_of_order_audit, and the ONLINE form of the report that
    sizes a watermark delay: the boundary pair between a user's carry
    and their next batch's first event is spliced, the per-type
    counters are additive/max-mergeable, so cold replay over any ingest
    slicing equals the one-shot batch audit — the oracle is
    DQ_OUT_OF_ORDER_SQL verbatim."""
    from ..streaming.sinks import run_out_of_order_stream

    return run_out_of_order_stream(spark, sf_dir)


_TOPK_STATE_K = 10


def streaming_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT heavy-hitters: orders replayed as FOUR
    micro-batches through a foreachBatch MERGE whose state is the
    per-key count table — additive, hence mergeable, hence
    replay-order-independent — with the top-10 report derived at
    read-off (streaming/sinks.TopKCountMergeSink). The exact
    complement of streaming_countmin_state: same stream, same
    question, state O(#keys) instead of O(1) — the right trade when
    the key space is customer-sized; the sketch twin is the 100 TB
    fallback when it isn't. Cold replay equals the one-shot batch
    GROUP BY + TakeOrdered, which is the oracle below."""
    from ..streaming.sinks import run_topk_stream

    return run_topk_stream(spark, sf_dir, _TOPK_STATE_K)


STREAMING_TOPK_SQL = f"""
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY n_orders DESC, o_custkey ASC
LIMIT {_TOPK_STATE_K}
"""


def maintenance_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map OVERLAP depth — the metric BEHIND
    maintenance_file_skipping_stats' verdict (Delta's clustering-depth
    idea): for each simulated file, how many OTHER files' [min, max]
    o_orderdate ranges overlap its own. A perfectly range-clustered
    layout has overlap ~0-2 (only ingestion-boundary neighbors); a
    hash layout's every file overlaps every other, so any point
    predicate touches all of them. Reported per layout: file count,
    average and max overlap — the number a compaction/OPTIMIZE job
    watches to decide when re-clustering pays.

    100 TB shape: zone maps reduce to ONE (layout, file) min/max
    hash-agg (≤ ~56 rows total); the overlap self-join runs on that
    zone FRAME, not on rows — O(#files²) with #files a layout
    constant, waived as such."""
    zones = _layout_tagged(spark, sf_dir).groupBy("layout", "file_id").agg(
        F.min("dt").alias("mn"), F.max("dt").alias("mx")
    )
    z1, z2 = zones.alias("z1"), zones.alias("z2")
    overlaps = (
        z1.join(
            z2,
            (F.col("z1.layout") == F.col("z2.layout"))
            & (F.col("z1.file_id") != F.col("z2.file_id"))
            & (F.col("z1.mn") <= F.col("z2.mx"))
            & (F.col("z2.mn") <= F.col("z1.mx")),
            "left",
        )
        .groupBy(F.col("z1.layout").alias("layout"),
                 F.col("z1.file_id").alias("file_id"))
        .agg(
            F.sum(F.when(F.col("z2.file_id").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_overlap")
        )
    )
    return overlaps.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.round(
            F.sum("n_overlap").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_overlap"),
        F.max("n_overlap").cast("bigint").alias("max_overlap"),
    )


MAINTENANCE_CLUSTERING_DEPTH_SQL = f"""
WITH {_LAYOUT_TAGGED_SQL}, zones AS (
  SELECT layout, file_id, MIN(dt) AS mn, MAX(dt) AS mx
  FROM tagged GROUP BY layout, file_id
), ovl AS (
  SELECT z1.layout, z1.file_id,
         CAST(SUM(CASE WHEN z2.file_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
  FROM zones z1
  LEFT JOIN zones z2
    ON z1.layout = z2.layout AND z1.file_id <> z2.file_id
   AND z1.mn <= z2.mx AND z2.mn <= z1.mx
  GROUP BY z1.layout, z1.file_id
)
SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       round(SUM(n_overlap)::DOUBLE / COUNT(*), 6) AS avg_overlap,
       CAST(MAX(n_overlap) AS BIGINT) AS max_overlap
FROM ovl GROUP BY layout
"""


# ---------------------------------------------------------------------------
# Dataset reproducibility + table statistics
# ---------------------------------------------------------------------------

# order-insensitive content fingerprint: per-row 60-bit md5 value
# reduced mod a prime, summed exactly (DECIMAL(38,0)), reduced again —
# addition commutes, so the fingerprint is independent of row order,
# partitioning, and engine, and two runs produced identical data iff
# the fingerprints match.
_FP_PRIME = 2147483647  # 2^31 − 1


def dataset_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split dataset version stamp — the reproducibility audit a
    training pipeline runs after any rebuild: for each train/val/test
    split (the same md5 assignment as split_train_val_test), row count,
    total chars, exact distinct-text count, and an ORDER-INSENSITIVE
    content fingerprint (sum of per-row md5-derived values mod 2³¹−1).
    Row order, shard layout, and partition count cannot change the
    stamp; any changed/added/dropped row does.

    100 TB shape: map-only hash + one mergeable 3-group agg (the modular
    sum is associative-commutative, so it partial-aggregates); the
    distinct-text count is the only shuffle-heavy term and is exact on
    digests, not texts."""
    docs = _t(spark, sf_dir, "documents")
    row_h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("fp:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.md5(F.col("text")),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _FP_PRIME
    )
    base = docs.select(
        _split_col().alias("split"),
        "n_chars",
        row_h.alias("h"),
        F.md5(F.col("text")).alias("td"),
    )
    return base.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("td").cast("bigint").alias("n_distinct_texts"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % _FP_PRIME)
        .cast("bigint")
        .alias("content_fingerprint"),
    )


DATASET_FINGERPRINT_SQL = f"""
WITH base AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_TRAIN_MAX}'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_VAL_MAX}'
              THEN 'val' ELSE 'test' END AS split,
         n_chars,
         CAST(('0x' || substr(md5('fp:' || CAST(doc_id AS VARCHAR) || ':'
                                  || md5(text)), 1, 15)) AS BIGINT)
           % {_FP_PRIME} AS h,
         md5(text) AS td
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT td) AS BIGINT) AS n_distinct_texts,
       CAST(SUM(CAST(h AS HUGEINT)) % {_FP_PRIME} AS BIGINT)
         AS content_fingerprint
FROM base GROUP BY split
"""


# ANALYZE-style column statistics: the numbers a cost-based optimizer
# (and a data engineer sizing a join) reads off a table. Timestamps are
# formatted explicitly so min/max strings match across engines.
_ANALYZE_COLS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "cents"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "string"),
)


def maintenance_analyze_column_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANALYZE TABLE orders: per column — non-null count, exact NDV,
    min/max (as strings on an explicit engine-portable format;
    numerics aggregate as NUMBERS so min/max order numerically).

    Plan shape: one column-pruned scan + one SINGLE-distinct aggregate
    PER COLUMN, unioned. The tempting alternative — all six
    countDistincts in one Aggregate — plans as an Expand (6× rows)
    into a GLOBAL final aggregate, i.e. every expanded row funnels
    through ONE reducer task. Per-column
    single-distinct aggs keep both phases hash-partitioned by the
    value, and each branch's scan reads exactly one column — at 100 TB
    on columnar storage the union costs ≈ one full-width scan, fully
    parallel. Production flips exact NDV to approx_count_distinct
    (sketch-mergeable, no distinct shuffle); the exact tier here is
    the oracle-checkable one."""
    o = _t(spark, sf_dir, "orders")
    norm = {
        "bigint": lambda c: F.col(c),
        "string": lambda c: F.col(c),
        "cents": lambda c: F.round(F.col(c) * 100).cast("long"),
        "ts": lambda c: F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss"),
    }
    parts = []
    for col, kind in _ANALYZE_COLS:
        e = norm[kind](col)
        parts.append(
            o.select(e.alias("v")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count("v").cast("bigint").alias("n_nonnull"),
                F.countDistinct("v").cast("bigint").alias("ndv_exact"),
                F.min("v").cast("string").alias("min_val"),
                F.max("v").cast("string").alias("max_val"),
            ).select(
                F.lit(col).alias("col_name"),
                "n_rows", "n_nonnull", "ndv_exact", "min_val", "max_val",
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionAll(pdf)
    return out


def _analyze_sql() -> str:
    norm = {
        "bigint": lambda c: c,
        "string": lambda c: c,
        "cents": lambda c: f"CAST(round({c} * 100) AS BIGINT)",
        "ts": lambda c: f"strftime({c}, '%Y-%m-%d %H:%M:%S')",
    }
    rows = "\nUNION ALL\n".join(
        f"SELECT '{col}' AS col_name, n_rows,"
        f" CAST(COUNT({norm[kind](col)}) AS BIGINT) AS n_nonnull,"
        f" CAST(COUNT(DISTINCT {norm[kind](col)}) AS BIGINT) AS ndv_exact,"
        f" CAST(MIN({norm[kind](col)}) AS VARCHAR) AS min_val,"
        f" CAST(MAX({norm[kind](col)}) AS VARCHAR) AS max_val"
        f" FROM orders CROSS JOIN n GROUP BY n_rows"
        for col, kind in _ANALYZE_COLS
    )
    return f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
{rows}
"""


QUERIES: dict[str, QuerySpec] = {
    "dataset_content_fingerprint": QuerySpec(
        dataset_content_fingerprint, DATASET_FINGERPRINT_SQL, "pipeline"),
    "maintenance_analyze_column_stats": QuerySpec(
        maintenance_analyze_column_stats, _analyze_sql(), "maintenance"),
    "maintenance_file_skipping_stats": QuerySpec(
        maintenance_file_skipping_stats, MAINTENANCE_FILE_SKIPPING_SQL,
        "maintenance"),
    # the overlap self-join equi-keys on layout (range terms become
    # join filters), so no BNLJ arises — no waiver needed; the frame
    # is the ≤ ~56-row zone map either way
    "maintenance_clustering_depth": QuerySpec(
        maintenance_clustering_depth, MAINTENANCE_CLUSTERING_DEPTH_SQL,
        "maintenance"),
    "streaming_countmin_state": QuerySpec(
        streaming_countmin_state, AGG_COUNTMIN_SQL, "streaming"),
    "streaming_topk_state": QuerySpec(
        streaming_topk_state, STREAMING_TOPK_SQL, "streaming"),
    "streaming_token_freq_state": QuerySpec(
        streaming_token_freq_state, _coverage_sql(), "streaming"),
    "streaming_error_burst_state": QuerySpec(
        streaming_error_burst_state, DQ_ERROR_BURST_SQL, "streaming"),
    "streaming_out_of_order_state": QuerySpec(
        streaming_out_of_order_state, DQ_OUT_OF_ORDER_SQL, "streaming"),
    "pipeline_observe_metrics": QuerySpec(
        pipeline_observe_metrics, PIPELINE_OBSERVE_SQL, "pipeline"),
    "dataset_shuffle_shards": QuerySpec(
        dataset_shuffle_shards, DATASET_SHUFFLE_SQL, "pipeline",
        plan_waivers={"global_window": (
            "window input = 256 md5-prefix buckets (O(1) cumulative "
            "offsets for two-phase ranking)")}),
    "maintenance_compact_small_files": QuerySpec(
        maintenance_compact_small_files, COMPACT_SQL, "pipeline",
        plan_waivers={"bnlj": (
            "1-row MAX(doc_id) scalar broadcast onto the fragments in the "
            "eager compaction write (the bucket-boundary domain)")}),
    "maintenance_zorder_layout": QuerySpec(
        maintenance_zorder_layout, _zorder_sql(), "pipeline",
        plan_waivers={"bnlj": (
            "1-row min/max(doc_id, n_chars) scalar broadcast onto the "
            "documents in the eager layout write (the bucketizer bounds)")}),
    "maintenance_partition_overwrite": QuerySpec(
        maintenance_partition_overwrite, MAINT_PARTITION_OVERWRITE_SQL, "pipeline"),
    "maintenance_retention_ttl": QuerySpec(
        maintenance_retention_ttl, MAINT_RETENTION_TTL_SQL, "pipeline"),
    "maintenance_incremental_manifest": QuerySpec(
        maintenance_incremental_manifest, MAINT_INCREMENTAL_MANIFEST_SQL,
        "pipeline"),
    "maintenance_orphan_files": QuerySpec(
        maintenance_orphan_files, MAINT_ORPHAN_FILES_SQL, "pipeline"),
    "dq_split_leakage": QuerySpec(
        dq_split_leakage, DQ_SPLIT_LEAKAGE_SQL, "pipeline"),
    "split_train_val_test": QuerySpec(split_train_val_test, SPLIT_SQL, "pipeline"),
    "dataset_split_group_aware": QuerySpec(
        dataset_split_group_aware, SPLIT_GROUP_AWARE_SQL, "pipeline"),
    "sample_bottom_k_sketch": QuerySpec(
        sample_bottom_k_sketch, SAMPLE_BOTTOM_K_SQL, "pipeline"),
    "streaming_bottom_k_state": QuerySpec(
        streaming_bottom_k_state, SAMPLE_BOTTOM_K_SQL, "streaming"),
    "dataset_build_pipeline": QuerySpec(
        dataset_build_pipeline, DATASET_BUILD_SQL, "composition"
    ),
    "pack_token_budget": QuerySpec(pack_token_budget, PACK_SQL, "pipeline"),
    "pack_efficiency_report": QuerySpec(
        pack_efficiency_report, PACK_EFFICIENCY_SQL, "pipeline"),
    "mixture_by_source": QuerySpec(
        mixture_by_source, MIXTURE_SQL, "pipeline",
        plan_waivers={"global_window": "window input = #distinct sources (O(1))"}),
    "sample_temperature_mixture": QuerySpec(
        sample_temperature_mixture, SAMPLE_TEMPERATURE_SQL, "pipeline",
        plan_waivers={"global_window": "window input = #distinct sources (O(1))"}),
    "upsert_changeset": QuerySpec(upsert_changeset, UPSERT_SQL, "pipeline"),
    "rollup_time_hierarchy": QuerySpec(rollup_time_hierarchy, ROLLUP_TIME_SQL, "pipeline"),
    "cdc_apply_changelog": QuerySpec(
        cdc_apply_changelog, CDC_APPLY_SQL, "pipeline"),
    "maintenance_snapshot_diff": QuerySpec(
        maintenance_snapshot_diff, SNAPSHOT_DIFF_SQL, "pipeline"),
    "scd2_build_from_changes": QuerySpec(
        scd2_build_from_changes, SCD2_BUILD_SQL, "pipeline"),
    "sample_systematic_interval": QuerySpec(
        sample_systematic_interval, SAMPLE_SYSTEMATIC_SQL, "pipeline",
        plan_waivers={"global_window": (
            "cross-bucket offsets window runs over the 256 md5-prefix "
            "buckets (O(1)), never over rows — the two-phase ranking "
            "recipe")}),
    "dataset_curriculum_interleave": QuerySpec(
        dataset_curriculum_interleave, CURRICULUM_SQL, "pipeline",
        plan_waivers={
            "bnlj": "1-row n_sources scalar attach",
            "global_window": (
                "source-index window runs over the #distinct-sources "
                "frame (O(1)), never over docs"),
        }),
}
