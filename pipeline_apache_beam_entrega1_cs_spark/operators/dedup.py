"""Deduplication operators for the LLM-data pipeline surface
(SURVEY.md §2B "Dedup" row): exact, content-hash, n-gram Jaccard,
SimHash, MinHash+LSH, and embedding-cosine near-dup.

Determinism rule: every "keep one representative" op keeps the MINIMUM
doc_id — ``dropDuplicates`` picks an arbitrary row per key and is not
reproducible across runs, so it never appears here.

Scale notes per operator are inline; the common theme is that candidate
generation must be sub-quadratic (hash buckets, LSH bands, frequency-capped
shingle inversion) — only verification touches pairs. Every capped
bucket emits its pairs through ``bucket_pairs`` and ``explode_pairs``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .textops import tokens


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on raw text: one representative (min doc_id) per
    distinct text + multiplicity. A single hash-aggregate shuffle;
    partial aggregation makes the map side emit one row per distinct
    text per partition, so the shuffle carries ~unique texts, not rows."""
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_doc_id", "n_copies", F.length("text").alias("text_len"))


def hash_dedup(docs: DataFrame) -> DataFrame:
    """Content-hash dedup on normalized text (lower + collapsed
    whitespace). Shuffles 64-hex-char keys instead of document bodies —
    at 100 TB that's the difference between shuffling terabytes and
    gigabytes."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select("doc_id", F.sha2(norm, 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_arrays(
    docs: DataFrame, n: int, drop_empty: bool = False
) -> DataFrame:
    """(doc_id, n_sh, shingles): per-document DISTINCT word-n-gram shingle
    set, built narrowly (no shuffle).

    The tokenization is materialized behind a repartition barrier: if the
    token expression reaches the per-element transform lambda, codegen
    re-evaluates it per shingle — O(tokens²) regex work per document —
    and CollapseProject re-inlines it through plain projections. The shuffle
    also spreads the downstream explode across the cluster instead of
    leaving it with the scan's partitioning — the standard move before a
    row-inflating generator.

    ``drop_empty``: callers must NOT bolt `.filter(n_sh > 0)` onto the
    result — PushDownPredicates rewrites that as
    ``size(array_distinct(grams(...))) > 0`` BELOW the repartition, so
    the scan side evaluates the whole shingle construction a second
    time. Pass drop_empty=True instead: n_sh > 0 ⟺ size(tokens) >= n, and
    THAT predicate is one cheap split() at the scan."""
    tk = F.col("_tk")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tk) - n),
        lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
    )
    base = docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
    if drop_empty:
        base = base.filter(F.size(tk) >= n)
    return (
        base
        # explicit count: REPARTITION_BY_COL lets AQE size this
        # exchange by BYTES and coalesce it to ~1 partition, leaving
        # the downstream shingle/md5 work single-core (see
        # _shuffle_partitions)
        .repartition(_shuffle_partitions(docs), "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                F.when(F.size(tk) >= n, grams).otherwise(F.array().cast("array<string>"))
            ).alias("shingles"),
        )
        .select("doc_id", F.size("shingles").alias("n_sh"), "shingles")
    )


def _explode_shingles(arr: DataFrame) -> DataFrame:
    """Explode the shingle arrays WITHOUT triggering
    InferFiltersFromGenerate: for a plain explode, that rule synthesizes
    a ``size(arr) > 0`` filter and pushes it below the repartition down
    to the scan — where it re-evaluates the entire (quadratic) shingle
    expression per input row.
    ``explode_outer`` is exempt from the rule; the null row an empty
    array produces is filtered right back out (a narrow post-filter)."""
    return arr.select(
        "doc_id", "n_sh", F.explode_outer("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def ngram_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs: distinct word n-gram shingles of
    normalized text. Documents shorter than n tokens produce no rows."""
    return _explode_shingles(_shingle_arrays(docs, n)).select("doc_id", "shingle")


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, max_df: int = 100
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Candidate generation is an inverted index on shingles (self-join on
    the shingle key), with shingles occurring in > max_df documents
    dropped first — the standard frequency cap that keeps the join output
    near-linear instead of quadratic on boilerplate shingles. Jaccard is
    computed exactly from intersection counts:
    J = |A∩B| / (|A|+|B|-|A∩B|).

    Shuffle budget (the 100 TB concern): per-document shingle sets and
    sizes are built narrowly (array_distinct per row — no dedup shuffle);
    candidate pairs are generated INSIDE each shingle bucket from a
    collected (doc, size) list — the frequency cap bounds every bucket at
    max_df entries, so pair emission (bucket_pairs) is a bounded nested
    transform, not a self-join. Total: 2 shuffles (bucket aggregate,
    pair-count aggregate) and the shingle pipeline evaluates exactly
    once — the self-join form costs ~8 shuffles and recomputes the
    tokenizer once per branch.
    """
    return (
        _pair_intersections(docs, n, max_df)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def bucket_pairs(members: Column, pair) -> Column:
    """The in-bucket pair emission: for each element x of the array
    ``members`` and each element y after it, ``pair(x, y)`` (a Column),
    flattened into one array. On a sorted member array every unordered
    pair appears once, smaller member first. The work is quadratic in
    the array's size, so callers cap it (a frequency cap, a bucket cap,
    or a bounded group such as one order's brands)."""
    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + 2, F.size(members) - i - 1),
                lambda y: pair(x, y),
            ),
        )
    )


def explode_pairs(df: DataFrame, pairs: Column) -> DataFrame:
    """One row per struct of the array Column ``pairs`` (a bucket_pairs
    result), its fields as columns. explode_outer, then a not-null
    filter, for the reason _explode_shingles gives: a plain explode
    makes InferFiltersFromGenerate evaluate the quadratic pair array
    twice."""
    return (
        df.select(F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.*")
    )


def _pair_intersections(docs: DataFrame, n: int, max_df: int) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, n_common): candidate pairs with exact
    shingle-intersection counts via the frequency-capped inverted index
    — the shared core of ngram_jaccard_pairs and containment_pairs.
    Each shingle's bucket is its sorted (doc_id, n_sh) list; buckets of
    one document or of more than ``max_df`` are dropped before the
    pairs are emitted."""
    buckets = (
        _explode_shingles(_shingle_arrays(docs, n))
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = bucket_pairs(
        F.col("ds"),
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            x["n_sh"].alias("n_a"),
            y["doc_id"].alias("doc_b"),
            y["n_sh"].alias("n_b"),
        ),
    )
    return explode_pairs(buckets, pairs).groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )


def containment_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8, max_df: int = 100
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs — the Broder containment
    score c(A in B) = |A∩B| / |A| in both directions, keeping pairs
    where EITHER direction reaches ``threshold``. This catches the case
    a symmetric Jaccard threshold structurally misses: a short document
    quoted wholesale inside a long one has containment 1.0 while its
    Jaccard can be arbitrarily small (|A|/|B|), which is why curation
    stacks (Lee et al. substring dedup, RefinedWeb) check containment,
    not just Jaccard, before dropping the shorter member.

    Same frequency-capped inverted-index candidate generation as
    ngram_jaccard_pairs (shared _pair_intersections core — 2 shuffles,
    bounded bucket width); jaccard rides along for triage."""
    inter = _pair_intersections(docs, n, max_df)
    ca = F.round(F.col("n_common").cast("double") / F.col("n_a"), 6)
    cb = F.round(F.col("n_common").cast("double") / F.col("n_b"), 6)
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        6,
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            ca.alias("containment_a_in_b"),
            cb.alias("containment_b_in_a"),
            jac.alias("jaccard"),
        )
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= threshold
        )
    )


def cross_source_overlap(docs: DataFrame, n: int = 3) -> DataFrame:
    """Cross-source near-duplication matrix — the mixture-weighting
    diagnostic a curation stack runs before fixing per-source sampling
    rates (a source that largely restates another should not get
    independent weight): for each source pair, how many per-document
    min-shingle fingerprints they share.

    The fingerprint is the MINIMUM md5 over a document's word n-gram
    shingles — a 1-hash MinHash, i.e. the first row of the signature
    matrix the banded family builds: two documents collide exactly when
    the same shingle achieves the min in both, which happens with
    probability ≈ their Jaccard similarity. That coarse-but-cheap
    collision rate is what a source-pair AGGREGATE needs (exact text
    equality finds nothing across independently-near-duplicated
    sources; pairwise Jaccard is per-document work this report never
    touches).

    Output per unordered source pair (source_a < source_b):
    n_shared_fp, each side's distinct-fingerprint total, and
    overlap = shared / min(n_a, n_b) (the containment convention at
    source granularity). Pairs with zero shared fingerprints are
    omitted.

    Scale shape: fingerprints are a per-document min (one keyed
    aggregate over the shingle pipeline); the pair stage joins the
    DISTINCT (fp, source) frame with itself on the fingerprint key —
    fan-out per fp is bounded by #sources (squared per fp in the worst
    boilerplate case), never by corpus size; totals are a #sources-row
    broadcast."""
    # Per-document fingerprint: explode + min-aggregate on doc_id ONLY —
    # partial aggregation combines map-side, so the shuffle carries ~one
    # row per document, and the source column joins onto that slim frame
    # afterwards (both sides a row per doc; AQE broadcasts the small
    # side at test SFs, a co-keyed shuffle join at 100 TB). The
    # "narrow" array_min(transform(md5)) form LOOKS shuffle-free but
    # re-evaluates the shingle construction per array element (the
    # CollapseProject trap _shingle_arrays documents); joining source
    # BEFORE the aggregate adds the explode-width join.
    fp = (
        _explode_shingles(_shingle_arrays(docs, n))
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("fp"))
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    # The distinct (fp, source) frame feeds THREE consumers (totals +
    # both self-join sides); cached (≤ |docs| rows), result materialized
    # through it, cache released — the bfs_levels_loop/_mmr_core
    # discipline.
    fs = fp.select("source", "fp").distinct().cache()
    totals = fs.groupBy("source").agg(F.countDistinct("fp").alias("n_fp"))
    a, b = fs.alias("a"), fs.alias("b")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.countDistinct("fp").alias("n_shared_fp"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_fp").alias("n_fp_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_fp").alias("n_fp_b")
    )
    result = (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_fp",
            "n_fp_a",
            "n_fp_b",
            F.round(
                F.col("n_shared_fp").cast("double")
                / F.least("n_fp_a", "n_fp_b"),
                6,
            ).alias("overlap"),
        )
        .cache()
    )
    result.count()  # materialize through fs, then release it
    fs.unpersist()
    return result


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Per-document SimHash over distinct tokens.

    Token bit source: the first 8 hex chars of md5(token) (md5 so the
    DuckDB oracle can reproduce it bit-for-bit — xxhash64 exists only in
    Spark). Bit i of the fingerprint is 1 iff the sum over tokens of
    (2*bit_i(token_hash) - 1) is positive. Expressed as explode(tokens)
    × explode(bit positions) + one aggregation — heavy but linear, and
    each stage is a plain shuffle."""
    from .textops import explode_tokens

    tok = explode_tokens(docs, distinct=True)
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    tok_h = tok.select("doc_id", h.alias("h"))
    pos = tok_h.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    )
    # shiftright/shiftleft take a Column shift amount only via the SQL
    # expression form (the Python helpers require an int literal).
    contrib = pos.select(
        "doc_id",
        "bit",
        (F.expr("shiftright(h, bit)").bitwiseAND(F.lit(1)) * 2 - 1).alias("c"),
    )
    bit_val = (
        contrib.groupBy("doc_id", "bit")
        .agg(F.sum("c").alias("s"))
        .select(
            "doc_id",
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            .otherwise(F.lit(0).cast("long"))
            .alias("v"),
        )
    )
    return bit_val.groupBy("doc_id").agg(F.sum("v").cast("long").alias("simhash"))


def minhash_banded_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 100,
) -> DataFrame:
    """MinHash + LSH banding from first principles, fully
    SQL-expressible (unlike minhash_lsh_pairs' MLlib internals, which
    stay rows-only): hash h of a document is the lexicographic MIN of
    md5(h || shingle) over its distinct 3-gram shingles — md5 exists in
    both engines, so the DuckDB oracle reproduces every signature
    bit-for-bit. Signatures are built PER ROW (array lambdas over the
    shingle array — no explode, no shuffle); only the band keys
    (md5 of each ``num_hashes/bands``-signature slice) are exploded for
    the bucket join.

    Candidate generation is in-bucket pair emission (bucket_pairs) with a
    ``max_bucket`` cap (same boilerplate guard as the n-gram inverted
    index); a pair colliding in several bands appears with identical
    row content, so distinct() is deterministic. est_jaccard = fraction
    of matching signature components — the standard unbiased MinHash
    estimate.

    Signature scheme: each shingle is hashed ONCE (md5 → first 15 hex
    chars → bigint mod P, P = 2^31-1 — DuckDB parses the same hex with
    '0x'::BIGINT), then the ``num_hashes`` functions are universal-hash
    permutations h_i(x) = ((2i+1)·x + (1000003·i+12345)) mod P — native
    integer arithmetic, not 16 md5s per shingle. The base-hash projection
    sits behind a repartition barrier so CollapseProject can't re-inline the
    md5 into all 16 lambdas (the same trap _shingle_arrays documents).

    100 TB shape: one shuffle on band keys (32-hex strings), bounded
    pair fan-out, signature cost ~1 md5 + num_hashes int-ops per
    shingle."""
    return _minhash_banded_from_xs(_minhash_xs(docs), num_hashes, bands, max_bucket)


def minhash_bucket_stats(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 100,
) -> DataFrame:
    """LSH bucket-load audit — the governance report you run BEFORE a
    banded dedup pass at scale: per band, how many buckets exist, how
    skewed they are, how many candidate pairs the in-bucket emission
    will generate (sum of C(size, 2) over joinable buckets), and how
    many buckets/docs the max_bucket frequency cap silently drops.
    The pair-generation cost of minhash_banded_pairs IS this report's
    n_candidate_pairs — an unbounded max bucket here is the signal to
    raise bands or cap before running the join, because in-bucket pair
    emission is quadratic in bucket size.

    Shares _minhash_xs and _banded_keys with minhash_banded_pairs, so
    the audit counts the exact buckets the dedup join will use. All
    outputs are exact integers.

    100 TB shape: one shuffle on band keys to the bucket-size
    hash-agg, then one mergeable per-band rollup to `bands` rows —
    strictly cheaper than the dedup pass it de-risks."""
    banded = _banded_keys(_minhash_xs(docs), num_hashes, bands)
    sizes = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    s = F.col("sz")
    joinable = (s >= 2) & (s <= max_bucket)
    zero = F.lit(0).cast("bigint")
    return (
        sizes.groupBy(F.col("band").cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum((s == 1).cast("long")).cast("bigint").alias("n_singleton"),
            F.max("sz").alias("max_bucket_size"),
            F.coalesce(
                F.sum(F.when(joinable, (s * (s - 1) / 2).cast("bigint"))),
                zero,
            ).alias("n_candidate_pairs"),
            F.coalesce(
                F.sum(F.when(s > max_bucket, F.lit(1).cast("bigint"))), zero
            ).alias("n_capped_buckets"),
            F.coalesce(
                F.sum(F.when(s > max_bucket, s)), zero
            ).alias("n_docs_in_capped"),
        )
        .orderBy("band")
    )


def _minhash_xs(docs: DataFrame) -> DataFrame:
    """(doc_id, xs): the text family's base hashes — each distinct word
    3-gram shingle of a document with at least 3 tokens, hashed once as
    md5 → first 15 hex chars → bigint mod P."""
    xs = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % _MINHASH_P,
    )
    return _shingle_arrays(docs, 3, drop_empty=True).select("doc_id", xs.alias("xs"))


_MINHASH_P = 2147483647


def _shuffle_partitions(df: DataFrame) -> int:
    """Explicit partition count for CPU-bound repartitions: AQE sizes
    exchanges by BYTES, so a plain repartition("col") under a
    byte-light but CPU-heavy stage coalesces to one partition and the
    stage runs single-core. Uses the session's spark.sql.shuffle.partitions
    — the user's cluster-width knob."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _banded_keys(xsdf: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, sig, band, band_key) frame — the signature + band-key
    construction shared by _minhash_banded_from_xs (pair emission) and
    minhash_bucket_stats (bucket-load audit): one definition so the
    audit always describes the buckets the dedup pass will actually
    join through."""
    P = _MINHASH_P
    r = num_hashes // bands
    n_part = _shuffle_partitions(xsdf)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda h: F.array_min(
            F.transform(
                F.col("xs"),
                lambda x: ((2 * h + 1) * x + (1000003 * h + 12345)) % P,
            )
        ),
    )
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.array_join(
                F.transform(
                    F.slice(F.col("sig"), b * r + 1, r),
                    lambda v: v.cast("string"),
                ),
                "|",
            )
        ),
    )
    return (
        # barrier: the xs projection (md5 / conv parses) is evaluated
        # once below the exchange, not re-inlined into all num_hashes
        # sig lambdas by CollapseProject; explicit n_part keeps AQE
        # from coalescing this CPU-bound stage to one partition
        xsdf.repartition(n_part, "doc_id")
        .select("doc_id", sig.alias("sig"))
        .select(
            "doc_id", "sig", F.posexplode(band_keys).alias("band", "band_key")
        )
    )


def _minhash_banded_from_xs(
    xsdf: DataFrame, num_hashes: int, bands: int, max_bucket: int
) -> DataFrame:
    """Signature + banding + in-bucket pair emission over a
    ``(doc_id, xs array<long>)`` frame of pre-hashed shingle values in
    [0, P) — shared by the text family (md5-hashed string shingles) and
    binary_payload_dedup (arithmetic byte-window hashes, no md5).

    Partitioning is the load-bearing line here: the barrier repartition
    carries an EXPLICIT partition count because this stage is CPU-bound
    interpreted higher-order-function work whose byte footprint is tiny
    — with plain ``repartition("doc_id")`` (REPARTITION_BY_COL) AQE
    sizes the exchange by bytes, coalesces it to ONE partition, and the
    whole signature+banding pipeline runs single-core. The sig->banding step
    needs no second barrier: the band keys live in the Generate operator's
    generator expression, and Generate is not a Project, so CollapseProject
    cannot re-inline the signature expression into it — ``sig`` is
    referenced as a plain attribute (verified in the physical plan)."""
    banded = _banded_keys(xsdf, num_hashes, bands)
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sig"))).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
    )
    pairs = bucket_pairs(
        F.col("ds"),
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(x["sig"], y["sig"], lambda p, q: p == q),
                        lambda t: t,
                    )
                ).cast("double")
                / num_hashes
            ).alias("est_jaccard"),
        ),
    )
    return explode_pairs(buckets, pairs).distinct()


def binary_payload_dedup(
    docs_with_payload: DataFrame,
    shingle_bytes: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 100,
    threshold: float = 0.5,
) -> DataFrame:
    """Two-stage dedup over an opaque BINARY ``payload`` column — the
    image/audio dedup stage a multimodal 100 TB pipeline runs before any
    decode, composing the dedup and multimodal families with no new
    primitives:

    1. EXACT: content-address every blob by sha256 and collapse
       byte-identical payloads (keep min doc_id). The digest is taken
       over ``hex(payload)`` — engine-portable (DuckDB's sha256 only
       accepts VARCHAR) and a bijection of the bytes, so grouping is
       identical to hashing the raw blob.
    2. NEAR: MinHash + LSH banding (_minhash_banded_from_xs — the
       exact same signature/banding core as the text family) over byte
       ``shingle_bytes``-gram shingles of the exact-stage
       REPRESENTATIVES with a 1-BYTE stride: any byte-aligned shift is
       a multiple of the stride, so near-dup detection survives
       insertions/deletions anywhere in the blob (a coarser stride
       would misalign odd-offset suffixes). The shingle hash is PURE
       ARITHMETIC on the hex encoding — each 8-byte window parses as
       two 32-bit conv() halves combined mod P = 2^31−1 (where
       2^32 ≡ 2, so window mod P = (2·hi + lo) mod P exactly) — no
       per-window md5 and no per-window 16-char string materialization
       (the CDC-chunking unroll recipe applied to MinHash).

    Output is one frame: method='exact_sha256' rows carry
    (doc_a=keep_doc_id, n_members>=2); method='minhash_bytes' rows carry
    (doc_a < doc_b, est_jaccard >= threshold).

    100 TB shape: stage 1 is a hash-agg on 64-char digests (never
    payload bytes on the shuffle); stage 2 inherits the banded core's
    shape — per-row signatures (no shingle explode), one shuffle on
    band keys, max_bucket-capped pair emission — and runs on the
    already-collapsed representative set."""
    assert shingle_bytes == 8, "window arithmetic below is 8-byte-specific"
    dig = docs_with_payload.select(
        "doc_id", "payload", F.sha2(F.hex("payload"), 256).alias("digest")
    )
    groups = dig.groupBy("digest").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    exact = groups.filter(F.col("n_members") >= 2).select(
        F.lit("exact_sha256").alias("method"),
        F.col("keep_doc_id").alias("doc_a"),
        F.lit(None).cast("bigint").alias("doc_b"),
        "n_members",
        F.lit(None).cast("double").alias("est_jaccard"),
    )
    reps = (
        dig.join(
            groups.select(F.col("keep_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        .filter(F.length("payload") >= shingle_bytes)
        .select("doc_id", "payload")
    )
    # NO array_distinct: a MinHash signature is min-over-hashes, and the
    # min of a multiset equals the min of its set — shingle multiplicity
    # cannot change any signature, band key, or est_jaccard, so a
    # per-row distinct pass would be pure cost.
    # Each 8-byte window at byte offset i (stride 1 byte) is sliced from
    # the BINARY payload — substring on BinaryType is an O(1) byte
    # slice, while slicing hex(payload), a STRING, makes
    # UTF8String.substring scan characters from position 0 every call:
    # O(len²) per document. The window hashes arithmetically: its two 32-bit
    # halves parse via hex-of-4-bytes + conv (O(1) each), combine EXACTLY
    # mod P = 2^31−1 (2^32 ≡ 2, so window mod P = (2·hi + lo) mod P), then a
    # NONLINEAR mix x = (w² + a1·w) mod P. The quadratic term is
    # load-bearing: the downstream universal-hash family is affine, and
    # affine maps preserve pairwise DIFFERENCES — text byte-windows share
    # difference structure, so with a linear-only mix the 16 per-hash
    # orderings correlate and the estimator collapses (w² breaks the
    # additive structure and tracks an md5 base hash to within noise). The
    # nested transform binds w as a lambda variable so the window parse is
    # evaluated once per window, not once per reference. Overflow: w² + a1·w
    # ≤ (P−1)² + a1·(P−1) < 7.98e18 < 2^63−1 in both engines. DuckDB
    # reproduces identical bigints from the hex string:
    # hex(substr(payload,i,4)) = substr(hex(payload), 2i−1, 8). The
    # explicit-count repartition BEFORE the window stage spreads this
    # CPU-bound O(payload_bytes) work across cores even when the upstream
    # scan is a single small parquet block; the exchange carries the compact
    # (doc_id, payload) rows.
    xs = F.expr(
        f"transform("
        f"transform(sequence(1, length(payload) - {shingle_bytes - 1}),"
        f" i -> (2L * cast(conv(hex(substring(payload, i, 4)), 16, 10) as bigint)"
        f"       + cast(conv(hex(substring(payload, i + 4, 4)), 16, 10) as bigint)"
        f"      ) % {_MINHASH_P}L),"
        f" w -> (w * w + 1566083941L * w) % {_MINHASH_P}L)"
    )
    # Two back-to-back doc_id exchanges are DELIBERATE: the outer
    # spreads the O(payload_bytes) xs window parse — without it xs runs
    # at scan parallelism (one small parquet block = one core) — and
    # the inner is the CollapseProject barrier keeping xs out of the 16
    # sig lambdas (skipping it instead re-inlines xs 16x). This shape
    # keeps both invariants explicit. The shuffled rows are compact
    # (doc_id, payload) then (doc_id, xs) on a representatives-only
    # frame — bytes are not the bottleneck at any scale; CPU spread is.
    near = (
        _minhash_banded_from_xs(
            reps.repartition(_shuffle_partitions(reps), "doc_id").select(
                "doc_id", xs.alias("xs")
            ),
            num_hashes,
            bands,
            max_bucket,
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.lit("minhash_bytes").alias("method"),
            "doc_a",
            "doc_b",
            F.lit(None).cast("bigint").alias("n_members"),
            "est_jaccard",
        )
    )
    return exact.unionAll(near)


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.6, num_hashes: int = 16, seed: int = 42
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding
    (pyspark.ml MinHashLSH over hashed shingle sets).

    approxSimilarityJoin prunes by LSH band collisions — the scale path:
    candidate count follows collision probability, not n². Output is
    (doc_a, doc_b, jaccard_dist). Oracle: rows-only (LSH banding is
    seed-deterministic but not SQL-expressible)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = ngram_shingles(docs, 3).groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(sh)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed)
    model = mh.fit(tf)
    pairs = model.approxSimilarityJoin(tf, tf, 1.0 - threshold, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


def span_dedup(docs: DataFrame, n: int = 8) -> DataFrame:
    """Corpus-level duplicated-span removal — the distributed
    approximation of substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every word n-gram that
    occurs more than once corpus-wide is removed at every occurrence
    EXCEPT the first (min (doc_id, start) — the keep-one-representative
    rule), and each document's surviving words are reassembled in order.

    Output: (doc_id, n_words, n_removed, clean_text) for every non-empty
    document; clean_text = '' when the whole document was duplicated
    spans (e.g. an exact copy of an earlier doc).

    100 TB shape: three wide ops, all key-bounded — (1) a hash-aggregate
    on md5 shingle keys (32-hex strings shuffle, never text bodies, and
    partial aggregation collapses per-partition repeats), (2) a shuffle
    join of shingle instances against the duplicate-key table (output
    volume = actual duplication, never all-pairs), (3) a per-doc
    collect of removed START positions (≤ dup instances — no coverage
    inflation). Reassembly is then ARRAY-SIDE: expand starts to a
    covered-position array and filter the token array with an index
    lambda — no ×n_words word explode, no (doc_id, pos) composite-key
    shuffle, no collect_list re-sort; the final join keys on doc_id,
    the partitioning the repartition barrier (the documented
    anti-InferFiltersFromGenerate idiom, see _shingle_arrays) already
    established."""
    toks = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", tokens(F.col("text")).alias("_tk"))
        .repartition("doc_id")
    )
    # Positional (non-distinct) shingle hashes, 1-based start; docs
    # shorter than n emit none (sequence would run DESCENDING for
    # size < n — the when-guard is load-bearing, not cosmetic).
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - n + 1),
        lambda i: F.md5(F.array_join(F.slice("_tk", i, n), " ")),
    )
    inst = (
        toks.select(
            "doc_id",
            F.when(F.size("_tk") >= n, grams)
            .otherwise(F.array().cast("array<string>"))
            .alias("_sh"),
        )
        .select("doc_id", F.posexplode_outer("_sh").alias("_i", "sh"))
        .filter(F.col("sh").isNotNull())
        .select("doc_id", (F.col("_i") + 1).alias("start"), "sh")
    )
    dups = (
        inst.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id", "start")).alias("first"),
        )
        .filter(F.col("c") >= 2)
    )
    removed = inst.join(dups, "sh").filter(
        ~(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("start") == F.col("first.start"))
        )
    )
    removed_starts = removed.groupBy("doc_id").agg(
        F.collect_list("start").alias("_starts")
    )
    cov = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(F.col("_starts"), lambda s: F.sequence(s, s + n - 1))
            )
        ),
        F.array().cast("array<int>"),
    )
    joined = toks.join(removed_starts, "doc_id", "left").withColumn("_cov", cov)
    kept_words = F.filter(
        "_tk", lambda w, i: ~F.array_contains(F.col("_cov"), i + 1)
    )
    return joined.select(
        "doc_id",
        F.size("_tk").cast("bigint").alias("n_words"),
        # covered positions are distinct and in [1, n_words] by
        # construction, so |cov| IS the removed-word count
        F.size("_cov").cast("bigint").alias("n_removed"),
        F.array_join(kept_words, " ").alias("clean_text"),
    )


def with_url_column(docs: DataFrame) -> DataFrame:
    """Deterministic raw-URL fixture (the documents table ships no URL
    column): every doc gets a messy crawl-style URL whose CANONICAL
    identity is (source, doc_id % 37) — so ~13.5 docs per source share a
    canonical URL — but whose RAW string varies in scheme/host casing,
    explicit default port, trailing slash, tracking params (utm_*),
    query-param order, and fragment, all keyed off doc_id residues.
    Mirrored expression-for-expression by the SQL oracle."""
    d = F.col("doc_id")
    k = (d % 37).cast("string")
    scheme = F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS"))
    host = F.concat(
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.when(d % 3 == 1, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.com"),
    )
    port = F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(F.lit("/docs/"), k)
    slash = F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit(""))
    q = (
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), k, F.lit("&v=2")))
        .when(d % 4 == 1, F.concat(F.lit("?v=2&id="), k))
        .when(d % 4 == 2, F.concat(F.lit("?id="), k, F.lit("&v=2&utm_campaign=c7")))
        .otherwise(F.concat(F.lit("?id="), k, F.lit("&v=2")))
    )
    frag = F.when(d % 2 == 1, F.concat(F.lit("#sec"), (d % 3).cast("string"))).otherwise(
        F.lit("")
    )
    return docs.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, port, path, slash, q, frag)
    )


def canonical_url_col(url: Column) -> Column:
    """Canonicalize a URL with pure string/array expressions (zero UDF,
    whole-stage codegen): strip the fragment, lowercase scheme+host,
    drop an explicit default port (:443/:80), strip one trailing slash
    from the path, and normalize the query — drop utm_*/fbclid tracking
    params and sort the survivors so param order never splits a dup
    group. Regexes stay in the Java∩RE2 common dialect so the DuckDB
    oracle can mirror them verbatim."""
    no_frag = F.get(F.split(url, "#"), 0)
    base = F.get(F.split(no_frag, r"\?"), 0)
    query = F.coalesce(F.get(F.split(no_frag, r"\?"), 1), F.lit(""))
    scheme = F.lower(F.regexp_extract(base, "^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(base, "^[A-Za-z]+://([^/]+)", 1))
    host = F.regexp_replace(hostport, ":(443|80)$", "")
    path = F.regexp_replace(
        F.regexp_extract(base, "^[A-Za-z]+://[^/]+(/.*)?$", 1), "/$", ""
    )
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.startswith("utm_")
            & ~p.startswith("fbclid"),
        )
    )
    qcanon = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qcanon)


def url_canonical_dedup(docs_with_url: DataFrame) -> DataFrame:
    """URL-keyed exact dedup after canonicalization — the first pass of
    every web-corpus pipeline (raw crawl URLs differ in tracking junk,
    casing, ports, and param order while pointing at the same page).

    Output: one row per canonical URL with the kept representative
    (min doc_id — deterministic, never dropDuplicates) and the variant
    counts. 100 TB shape: canonicalization is a narrow, codegen'd
    per-row pass; the only shuffle is ONE mergeable hash aggregate on
    the canonical key. No joins, no windows."""
    canon = docs_with_url.select(
        "doc_id",
        canonical_url_col(F.col("url")).alias("canonical_url"),
        F.col("url").alias("raw_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("raw_url")).alias("n_raw_variants"),
    )


def boundary_stitch_pairs(docs: DataFrame, k: int = 8,
                          max_df: int = 10) -> DataFrame:
    """Shard-stitch detection: document pairs where one doc's LAST k
    tokens equal another's FIRST k tokens — the signature of a single
    source document split across shard boundaries (each half passes
    exact dedup, so only a boundary join finds them). The k-token
    boundary windows hash to md5 keys; tails equi-join heads on the
    key.

    100 TB shape: two narrow per-row hash projections + ONE equi-join
    on 32-hex keys; boilerplate boundaries (a common header/footer
    phrase) are frequency-capped at ``max_df`` per side — the same
    hub-cap rule as the n-gram inverted index — so no key can explode
    the join. Docs with < k tokens have no boundary window."""
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("_tk")).filter(
        F.size("_tk") >= k
    )
    head_h = F.md5(F.array_join(F.slice(F.col("_tk"), 1, k), " "))
    tail_h = F.md5(
        F.array_join(F.slice(F.col("_tk"), -k, k), " ")
    )
    heads = base.select(F.col("doc_id").alias("doc_head"), head_h.alias("h"))
    tails = base.select(F.col("doc_id").alias("doc_tail"), tail_h.alias("h"))

    def capped(side: DataFrame) -> DataFrame:
        freq = side.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        return side.join(
            freq.filter(F.col("df") <= max_df).select("h"), "h"
        )

    return (
        capped(tails)
        .join(capped(heads), "h")
        .filter(F.col("doc_tail") != F.col("doc_head"))
        .select("doc_tail", "doc_head", F.col("h").alias("boundary_md5"))
    )
