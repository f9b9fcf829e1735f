"""Training-data curation operators: benchmark decontamination,
blocklist/PII scrubbing, sliding-window chunking, within-document
repetition detection.

These extend the dedup/quality suite (operators/dedup.py, textops.py)
with the remaining steps a pre-training data pipeline runs between raw
crawl and tokenizer: drop documents that leak evaluation benchmarks,
scrub disallowed spans, split long documents into training-window
chunks, and kill boilerplate/repetitive text.

All four are pure DataFrame compositions — no Python UDFs. Scale notes
per function; the common shape is "narrow per-row array work + at most
one keyed shuffle", same budget discipline as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _explode_shingles, _shingle_arrays

# Word-boundary blocklist: terms a curation pass scrubs (stand-ins for an
# NSFW/PII lexicon). \b and inline (?i) are supported by both Java regex
# and RE2, so one case-insensitive pattern drives count AND redaction on
# raw text in both engines — no count/redact drift.
BLOCKLIST = ("customer", "vector")
BLOCKLIST_RE = r"(?i)\b(" + "|".join(BLOCKLIST) + r")\b"
URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
REDACTED = "<redacted>"


def decontaminate(
    docs: DataFrame,
    n: int = 5,
    mod: int = 97,
    threshold: float = 0.2,
    bench_shingles: DataFrame | None = None,
    exclude_bench_ids: bool | None = None,
) -> DataFrame:
    """Benchmark-overlap decontamination: flag corpus documents sharing
    word-``n``-gram shingles with a held-out benchmark set.

    The benchmark set is the deterministic slice ``doc_id % mod == 0``
    (a stand-in for eval suites like MMLU/GSM8K); a document is
    ``contaminated`` when >= ``threshold`` of its shingles appear in any
    benchmark document — the n-gram-overlap rule used by public LLM
    decontamination pipelines (GPT-3 appendix C / The Pile).

    Scale shape: the benchmark side is tiny by construction (eval suites
    are MBs against 100 TB of crawl), so its distinct-shingle set is
    BROADCAST — the corpus-side probe is shuffle-free. Corpus shingles
    are built narrowly (one repartition inside _shingle_arrays), the
    hit-count groupBy and the join back to per-doc totals both key on
    doc_id, which that repartition already established. Every doc is
    returned, including <n-token docs (n_sh=0, ratio 0.0).

    ``bench_shingles`` (a 1-column ``shingle`` DataFrame) lets callers
    supply the benchmark set as STATIC side input instead of deriving it
    from ``docs`` — the incremental-ingest case, where eval suites are
    fixed up-front but corpus documents arrive batch by batch (each
    doc's verdict depends only on (doc, static set), so results are
    independent of batch slicing).

    ``exclude_bench_ids`` controls whether ``doc_id % mod == 0`` rows
    are dropped from the corpus/output. Default (None) excludes only
    when the benchmark set is DERIVED here (those docs would trivially
    self-contaminate); with an externally supplied ``bench_shingles``
    the corpus is NOT filtered — a genuinely external benchmark says
    nothing about which corpus docs to drop. Pass True/False to force
    either way (the streaming curation sink passes True because its
    static side input is itself the ``% mod`` slice of the corpus).
    """
    sh = _shingle_arrays(docs, n)  # (doc_id, n_sh, shingles) — narrow
    bench_ids = F.col("doc_id") % mod == 0
    if exclude_bench_ids is None:
        exclude_bench_ids = bench_shingles is None
    if bench_shingles is None:
        bench_shingles = (
            _explode_shingles(sh.filter(bench_ids)).select("shingle").distinct()
        )
    corpus = sh.filter(~bench_ids) if exclude_bench_ids else sh
    hits = (
        _explode_shingles(corpus)
        .join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    hits0 = F.coalesce("n_hits", F.lit(0))  # left join: no-hit docs are NULL
    ratio = F.round(
        F.when(F.col("n_sh") > 0, hits0 / F.col("n_sh")).otherwise(0.0), 6
    )
    return (
        corpus.select("doc_id", "n_sh")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_sh").cast("long").alias("n_shingles"),
            hits0.cast("long").alias("n_hits"),
            ratio.alias("contamination"),
            (ratio >= threshold).alias("contaminated"),
        )
    )


def scrub_blocklist(docs: DataFrame) -> DataFrame:
    """Span scrubbing: count and redact URLs, e-mail addresses, and
    blocklisted terms. Entirely narrow (per-row regex, no shuffle, no
    UDF) — the 100 TB cost is one streaming pass over the text column.

    Counts are taken on the RAW text per pattern class — the blocklist
    pattern carries an inline (?i) so the count and the redaction match
    exactly. Redaction applies URL -> e-mail -> blocklist in that order
    (URLs can contain '@', so they must be consumed before the e-mail
    pattern runs). The scrubbed text is returned as an md5 so the result
    row stays narrow.
    """
    t = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, URL_RE, REDACTED), EMAIL_RE, REDACTED),
        BLOCKLIST_RE,
        REDACTED,
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(BLOCKLIST_RE)).cast("long").alias("n_blocked"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def chunk_sliding(docs: DataFrame, size: int = 32, stride: int = 16) -> DataFrame:
    """Sliding-window chunking: split each document into token windows of
    ``size`` tokens starting every ``stride`` tokens (the training-window
    preparation step before tokenization; stride < size = overlapping
    context like GPT-style block packing).

    Start positions are 1, 1+stride, ... <= n_tok, so every token lands
    in at least one chunk and trailing chunks may be short. Chunk text
    is emitted as an md5 to keep rows narrow. Empty docs produce no
    chunks.

    Scale shape: one exchange total — the repartition barrier that
    materializes the tokenizer (dedup._shingle_arrays trap) — then the
    sequence+explode row inflation (~n_tok/stride rows per doc) runs
    map-side and the output keeps that partitioning, so a downstream
    per-doc consumer shuffles nothing.
    """
    tk = F.col("_tk")
    starts = F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(0)), F.lit(stride))
    from .textops import tokens

    base = (
        docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
        .repartition("doc_id")  # materialize tokenizer (see dedup._shingle_arrays)
        .filter(F.size(tk) > 0)
    )
    chunk = F.slice(tk, F.col("s"), size)
    return (
        base.select("doc_id", tk, F.explode_outer(starts).alias("s"))
        .filter(F.col("s").isNotNull())
        .select(
            "doc_id",
            (((F.col("s") - 1) / stride).cast("long") + 1).alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


def repetition_stats(docs: DataFrame, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Within-document repetition: fraction of word-``n``-grams that are
    duplicates of an earlier n-gram in the SAME document — the standard
    boilerplate/looped-generation filter (Gopher/MassiveText repetition
    rules use exactly this duplicate-n-gram fraction family).

    dup_ratio = 1 - distinct/total n-grams; docs with < n tokens have 0
    total and report 0.0. No explode and no keyed aggregation: both
    counts come from one per-row array expression. The only exchange is
    the repartition barrier that materializes the tokenizer (without it
    codegen re-evaluates the regex split per n-gram — the trap
    documented in dedup._shingle_arrays); everything after is map-only.
    """
    from .textops import tokens

    tk = F.col("_tk")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tk) - n),
        lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
    )
    total = F.when(F.size(tk) >= n, F.size(tk) - (n - 1)).otherwise(F.lit(0))
    distinct = F.when(
        F.size(tk) >= n, F.size(F.array_distinct(grams))
    ).otherwise(F.lit(0))
    ratio = F.round(
        F.when(total > 0, 1.0 - distinct.cast("double") / total).otherwise(0.0), 6
    )
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
        .repartition("doc_id")  # materialize tokenizer once (codegen re-eval trap)
        .select(
            "doc_id",
            total.cast("long").alias("n_grams"),
            distinct.cast("long").alias("n_distinct_grams"),
            ratio.alias("dup_ratio"),
            (ratio > threshold).alias("is_repetitive"),
        )
    )


# PII pattern classes — kept in the Java∩RE2 common regex dialect so the
# DuckDB oracle applies the IDENTICAL patterns. Typed placeholders (not
# one generic token) preserve downstream utility: an LM can still learn
# "emails appear here" without memorizing the address.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def with_pii_spans(docs: DataFrame) -> DataFrame:
    """Deterministic PII-injection fixture: residue-selected docs get an
    e-mail, a phone number, and/or an IPv4 appended (the corpus ships
    clean text), so every pattern class has live matches and docs can
    carry several classes at once. Mirrored verbatim by the oracle."""
    d = F.col("doc_id")
    email = F.when(
        d % 5 == 0,
        F.concat(
            F.lit(" contact user"), (d % 100).cast("string"),
            F.lit("@mail-"), F.col("source"), F.lit(".org"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 7 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 11 == 0,
        F.concat(
            F.lit(" from 10.0."), (d % 256).cast("string"),
            F.lit("."), (d % 250).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return docs.withColumn("text", F.concat(F.col("text"), email, phone, ip))


def pii_report(docs: DataFrame) -> DataFrame:
    """Per-source PII privacy report: redact e-mail / phone / IPv4 spans
    with TYPED placeholders (e-mail first — the other patterns can match
    inside an address) and aggregate detection counts per source — the
    compliance dashboard a privacy scrub publishes, complementing
    scrub_blocklist's per-doc md5 evidence.

    100 TB shape: counting + redaction are narrow per-row regex passes
    (zero UDF, codegen); the only shuffle is ONE mergeable hash
    aggregate on the low-cardinality source key. Output stays
    O(#sources)."""
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IPV4_RE,
        "<IP>",
    )
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
    n_phones = F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long")
    n_ips = F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long")
    per_doc = docs.select(
        "source",
        n_emails.alias("e"),
        n_phones.alias("p"),
        n_ips.alias("i"),
        F.length(t).cast("long").alias("raw_len"),
        F.length(redacted).cast("long").alias("red_len"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("e") + F.col("p") + F.col("i") > 0).cast("long")).alias(
            "n_docs_with_pii"
        ),
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum("i").alias("n_ips"),
        F.sum("raw_len").alias("sum_raw_chars"),
        F.sum("red_len").alias("sum_redacted_chars"),
    )
