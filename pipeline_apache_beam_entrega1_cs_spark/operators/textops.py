"""Text-analysis operators for the LLM-data pipeline surface: token
stats, language identification, quality scoring, document fingerprints,
TF-IDF. All native Catalyst expressions (explode/groupBy/window) — no
Python in the hot path, so every operator scales as an ordinary shuffle.

documents(doc_id, text, lang, source, n_chars) is the target table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import driver_frame

# Tiny per-language marker vocabularies for the n-gram/stopword-voting
# language heuristic. Deterministic and mirrored literally in the DuckDB
# oracle — the point is the Spark plumbing (explode -> join -> argmax),
# not lexical coverage.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text; empty text
    yields an empty array (split('') would yield [''])."""
    trimmed = F.trim(F.lower(col))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def explode_tokens(docs: DataFrame, distinct: bool = False,
                   out: str = "tok") -> DataFrame:
    """(doc_id, tok) rows via explode_outer + null filter — a plain
    explode triggers InferFiltersFromGenerate, whose synthesized
    size()>0 filter re-evaluates the tokenizer at the scan (see
    operators/dedup._explode_shingles)."""
    toks = tokens(F.col("text"))
    if distinct:
        toks = F.array_distinct(toks)
    return docs.select(
        "doc_id", F.explode_outer(toks).alias(out)
    ).filter(F.col(out).isNotNull())


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics (token count, distinct tokens,
    average token length)."""
    toks = tokens(F.col("text"))
    avg_len = F.when(
        F.size(toks) > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.size(toks),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(avg_len, 4).alias("avg_token_len"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-voting language ID: explode tokens, join the marker
    vocabulary (a driver-held LocalRelation, broadcast — it is tiny by
    construction), argmax votes per document with a deterministic
    (votes desc, lang asc) tie-break; documents with zero marker hits
    predict 'und'."""
    markers = driver_frame(
        docs.sparkSession,
        [(lang, w) for lang, ws in LANG_MARKERS.items() for w in ws],
        "cand_lang string, marker string",
    )
    tok = explode_tokens(docs)
    votes = (
        tok.join(F.broadcast(markers), tok.tok == markers.marker, "inner")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    # argmax with deterministic tie-break: max_by over a (votes, reversed
    # lang) struct would invert lexicographic order; a window is clearer.
    w = Window.partitionBy("doc_id").orderBy(F.col("votes").desc(), F.col("cand_lang").asc())
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cand_lang"), F.lit("und")).alias("pred_lang"),
        F.coalesce(F.col("votes"), F.lit(0).cast("long")).alias("votes"),
    )


def quality_score_col(text: Column) -> Column:
    """Row-local composite quality score (rounded to 1 dp) — shared by
    quality_score() and the curation pipeline so the heuristic lives in
    exactly one place."""
    n_chars = F.length(text)
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    mean_word_len = F.when(
        n_tokens > 0, (n_chars - n_tokens + 1).cast("double") / n_tokens
    ).otherwise(0.0)
    return F.round(
        F.when((n_tokens >= 5) & (n_tokens <= 5000), F.lit(0.4)).otherwise(0.0)
        + F.when(punct_ratio < 0.2, F.lit(0.3)).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.3)).otherwise(0.0),
        1,
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score per document:
    length, punctuation ratio, uppercase ratio, mean word length.
    Pure per-row expressions (one codegen stage, no shuffle)."""
    text = F.col("text")
    n_chars = F.length(text)
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, "[A-Z]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    upper_ratio = F.when(n_chars > 0, n_upper.cast("double") / n_chars).otherwise(0.0)
    mean_word_len = F.when(n_tokens > 0, (n_chars - n_tokens + 1).cast("double") / n_tokens).otherwise(0.0)
    return docs.select(
        "doc_id",
        n_chars.alias("len_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(upper_ratio, 4).alias("upper_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        quality_score_col(text).alias("quality_score"),
    )


def fingerprint_col(text: Column) -> Column:
    """Row-local canonical fingerprint expression (md5 of the sorted
    distinct token set)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Canonical-form document fingerprint: md5 of the sorted distinct
    token set. Word-order-insensitive near-exact dedup key (the
    "fingerprint" method of key-collision dedup)."""
    return docs.select("doc_id", fingerprint_col(F.col("text")).alias("fp"))


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document, built from first principles with
    explode + two aggregations (no ML pipeline). idf = ln((N+1)/(df+1))+1.
    Deterministic ordering: (round(tfidf,6) desc, term asc)."""
    tok = explode_tokens(docs, out="term")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rn").cast("long").alias("term_rank"))
    )


# BPE-ish pre-tokenizer: maximal runs of letters / digits / symbols
# (GPT-2's pre-tokenization minus space-attachment and contraction
# splits — those need alternation-ORDER semantics, which differ between
# Java regex (leftmost-first) and RE2 (DuckDB); disjoint character
# classes make the count engine-portable).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document — the cost model a
    training pipeline needs (billing/packing is in subword tokens, not
    words). Native regexp_count: one codegen pass, no UDF."""
    toks = tokens(F.col("text"))
    n_bpe = F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN)).cast("long")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_bpe > 0, F.col("n_chars").cast("double") / n_bpe)
        .otherwise(F.lit(0.0))
        .alias("chars_per_bpe_token"),
    )


def unigram_logprob_score(docs: DataFrame, vocab_k: int = 1024) -> DataFrame:
    """Perplexity-proxy quality score: average corpus-unigram log
    probability per document — the cheap LM-free stand-in for "does this
    read like the corpus" quality filtering (low average logprob = rare/
    garbled vocabulary).

    The language model is the corpus itself: p(t) = count(t) / N over
    ALL tokens, but the scoring table is capped to the top ``vocab_k``
    tokens (count desc, token asc tie-break) so it stays broadcast-able
    at any corpus size; out-of-vocab tokens score the floor ln(1/N).
    Shuffles: token-count aggregate + per-doc aggregate — both mergeable.
    Output: (doc_id, n_tok, avg_logprob) for docs with ≥1 token.
    """
    tok = explode_tokens(docs, out="term")
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("n_total"))
    # Top-k vocab via orderBy+limit = TakeOrderedAndProject (per-partition
    # top-k, merged on the driver) — NOT a row_number window, whose global
    # sort would single-partition the full distinct-token table at scale.
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(vocab_k)
        .select("term", "cnt")
    )
    scored = (
        tok.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(
                F.coalesce(F.col("cnt"), F.lit(1)).cast("double") / F.col("n_total")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def bigram_pmi_topk(docs: DataFrame, min_count: int = 5, k: int = 20) -> DataFrame:
    """Collocation mining: top-k adjacent-token bigrams by pointwise
    mutual information — the phrase-extraction pass a tokenizer-training
    or n-gram-merge step runs over a corpus.

    PMI(x,y) = ln( (c_xy / NB) / ((c_x / N) * (c_y / N)) ) with N = total
    tokens, NB = total bigrams. Bigrams are generated ADJACENT-ONLY via
    an index transform over the token array (linear in corpus size, never
    a self-join); the ``min_count`` support floor keeps the scored set
    small before the unigram join. Total order: (round(pmi,6) desc,
    w1 asc, w2 asc), LIMIT k — a TakeOrdered, not a global sort.

    Plan shape: Spark has no common-subplan reuse, so joining the
    unigram table twice (once per bigram side) would execute the
    tokenize+explode+aggregate subtree twice. Instead the filtered
    bigrams MELT to (bigram, role∈{x,y}, word), join the unigram counts
    ONCE, and pivot back with a conditional aggregate — the same
    tagged-union idiom as analytics.graph_triangle_count. N and NB come
    from scan-level array-size sums (no explode), so the corpus is
    tokenized exactly twice (pair subtree + unigram subtree), not four
    times.
    """
    base = docs.select(tokens(F.col("text")).alias("_tk"))
    n_total = base.agg(
        F.sum(F.size("_tk")).cast("double").alias("n_tok")
    )
    nb_total = base.agg(
        F.sum(F.greatest(F.size("_tk") - 1, F.lit(0))).cast("double").alias("n_bg")
    )
    pairs = (
        base.filter(F.size("_tk") > 1)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tk) - 1), "
                    "i -> struct(element_at(_tk, i) AS w1, element_at(_tk, i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    uni = explode_tokens(docs, out="term").groupBy("term").agg(
        F.count(F.lit(1)).alias("c_t")
    )
    melted = big.select(
        "w1",
        "w2",
        "c_xy",
        F.explode(
            F.array(
                F.struct(F.lit("x").alias("role"), F.col("w1").alias("word")),
                F.struct(F.lit("y").alias("role"), F.col("w2").alias("word")),
            )
        ).alias("m"),
    ).select("w1", "w2", "c_xy", "m.role", "m.word")
    sided = (
        melted.join(uni, melted.word == uni.term)
        .groupBy("w1", "w2", "c_xy")
        .agg(
            F.max(F.when(F.col("role") == "x", F.col("c_t"))).alias("c_x"),
            F.max(F.when(F.col("role") == "y", F.col("c_t"))).alias("c_y"),
        )
    )
    scored = (
        sided.crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(nb_total))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") / F.col("n_bg"))
                    / (
                        (F.col("c_x").cast("double") / F.col("n_tok"))
                        * (F.col("c_y").cast("double") / F.col("n_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval (Robertson & Zaragoza 2009): score every
    document containing at least one query term and return the top-k —
    the classic lexical-search ranking a corpus store serves next to
    ANN. idf uses the (N - df + 0.5)/(df + 0.5) + 1 smoothing; per-term
    contributions round to 6 dp and SUM AS DECIMALS (order-independent),
    with the standard (score desc, doc_id) total order.

    100 TB shape: tf is one token explode filtered to the |query| terms
    BEFORE the (doc, term) count (the filter prunes the explode's
    output, not the corpus scan); df and the (N, avgdl) stats are tiny
    broadcast sides; the final ranking is a TakeOrdered limit, not a
    global window."""
    toks = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", tokens(F.col("text")).alias("_tk")
    )
    dl = toks.select("doc_id", F.size("_tk").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.explode("_tk").alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = F.round(
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        6,
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum(contrib.cast("decimal(20,6)"))
            .cast("string")
            .cast("double")
            .alias("bm25"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(k)


# ---------------------------------------------------------------------------
# Real BPE segmentation (fixed merge table, unrolled sweeps)
# ---------------------------------------------------------------------------

# A small deterministic merge table over lowercase English letter pairs,
# in priority order — the shape a driver-side BPE fit produces (most
# frequent pair first). Fixed as a literal so the distributed APPLY step
# is exactly reproducible in any engine; a production pipeline would fit
# this table on a corpus sample and broadcast it the same way.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("an", "d"), ("r", "e"), ("o", "n"), ("e", "n"), ("a", "t"),
    ("o", "r"), ("e", "s"), ("t", "i"), ("s", "t"), ("a", "r"),
    ("o", "u"), ("l", "e"), ("i", "s"),
]

# Two full priority-ordered sweeps over the merge list. One sweep applies
# each rule once (greedy left-to-right across the doc); a later rule can
# create a pair an EARLIER rule would consume ("b c"->"bc" enabling
# "a bc"), so a second sweep is needed to reach the fixpoint for
# chained tables like this one (tests assert sweep 3 changes nothing).
# This is merge-list-in-order application (the SentencePiece/subword-nmt
# apply recipe), not GPT-2's global best-rank-first loop — documented
# because the two can differ on adversarial tables.
BPE_SWEEPS = 2


def bpe_segment_expr(text: Column) -> Column:
    """Wrapped-symbol BPE application as ONE scalar expression chain.

    Encoding trick: every [a-z] char becomes "(c)"; applying merge
    (x, y) -> xy is then the plain string replace "(x)(y)" -> "(xy)".
    Left-to-right non-overlapping replace IS greedy BPE application,
    and the "()" delimiters make symbol-boundary collisions impossible
    (a rule can never match a symbol's suffix against another's prefix,
    and never across the space between words). Entirely narrow
    per-row string work — zero shuffle, zero UDF, whole-stage codegen.
    """
    base = F.regexp_replace(F.lower(text), r"[^a-z]+", " ")
    s = F.regexp_replace(base, r"([a-z])", r"($1)")
    for _ in range(BPE_SWEEPS):
        for a, b in BPE_MERGES:
            s = F.replace(s, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    return s


def bpe_apply_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counts under the fixed BPE merge table:
    alphabetic char count, BPE token count (= "(" occurrences in the
    segmented form), and merges applied (chars - tokens). Integer-only
    output, bit-identical across engines."""
    seg = bpe_segment_expr(F.col("text"))
    n_bpe = (F.length(seg) - F.length(F.replace(seg, F.lit("(")))).cast("long")
    n_alpha = F.length(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z]+", "")
    ).cast("long")
    return docs.select(
        "doc_id",
        n_alpha.alias("n_alpha_chars"),
        n_bpe.alias("n_bpe_tokens"),
        (n_alpha - n_bpe).alias("n_merges_applied"),
    )


BPE_FIT_ROUNDS = 3


def bpe_fit(docs: DataFrame, rounds: int = BPE_FIT_ROUNDS) -> DataFrame:
    """Distributed BPE merge-table FIT — the learning side of
    bpe_apply_stats: ``rounds`` unrolled (count pairs -> global argmax
    -> apply merge) iterations over the wrapped-symbol corpus form, the
    kmeans_lloyd fixed-iteration recipe applied to tokenizer induction.

    Input: ``docs`` needs a ``text`` column AND a ``doc_id`` column —
    the corpus is hash-repartitioned on doc_id before the CPU-bound
    string stages (see below); a text-only frame fails with an
    unresolved-column error.

    Per round: adjacent-symbol pairs are counted corpus-wide (explode
    words, zip each word's symbol array with its own tail — linear,
    never quadratic), the most frequent pair wins (ties: lexicographic
    on the pair — exact in any engine), and the winning merge is applied
    everywhere with the same plain string replace bpe_segment_expr uses.
    The fit itself shuffles only (pair -> partial count) rows, and the
    argmax is a 1-row broadcast (sanctioned scalar attach).

    Each round's winner and the merged corpus form are pinned with a
    per-invocation localCheckpoint (the cached-loop pin rule).
    Unpinned, round r's plan embeds best_{r-1}, whose subtree embeds
    best_{r-2}'s pair-count aggregation over the previous corpus form,
    and so on — the corpus regexp + pair-count explode re-derives once
    per DOWNSTREAM round (the graph_bfs_levels disease). Pinning makes
    total work the linear sum of one pair-count pass per round, exactly
    what a production fit (thousands of merges, driver-side loop) would
    do between rounds.

    Storage: one invocation keeps 2·rounds−1 lazy ``localCheckpoint``
    RDDs (``rounds`` one-row winners plus ``rounds − 1`` copies of the
    wrapped corpus, at MEMORY_AND_DISK once an action materializes
    them). Nothing unpersists them: the returned frame is lazy and
    still reads every one of them, so they cannot be released before
    the caller is done with it. They are reclaimed only when the
    returned frame is garbage-collected (Spark's ContextCleaner), so a
    long session that keeps many results alive accumulates
    block-manager storage.

    Returns the learned table: (round, left_sym, right_sym,
    n_occurrences) — one row per merge, integer counts, engine-exact.
    """
    from .dedup import _shuffle_partitions

    base = F.regexp_replace(F.lower(F.col("text")), r"[^a-z]+", " ")
    # Spread the corpus BEFORE the wrapped-symbol regexp: the documents
    # scan is one small parquet file = one partition, and every
    # downstream stage here is CPU-bound string work whose byte
    # footprint AQE coalesces to one partition — so without the barrier
    # the whole fit runs single-core (the _shuffle_partitions lesson).
    # Explicit count, keyed on doc_id, same as every other CPU-bound
    # barrier in this package.
    cur = docs.repartition(_shuffle_partitions(docs), "doc_id").select(
        F.regexp_replace(base, r"([a-z])", r"($1)").alias("s")
    )

    def pair_counts(c: DataFrame) -> DataFrame:
        words = c.select(F.explode(F.split("s", " ")).alias("w")).filter(
            F.col("w") != ""
        )
        syms = words.select(
            F.split(F.regexp_replace("w", r"^\(|\)$", ""), r"\)\(").alias("syms")
        )
        return (
            syms.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) < 2 THEN array() "
                        "ELSE transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i - 1] AS a, syms[i] AS b)) END"
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def argmax(pairs: DataFrame, rnd: int) -> DataFrame:
        return pairs.agg(
            F.min(F.struct((-F.col("n")).alias("neg"), F.col("a"), F.col("b"))).alias("m")
        ).select(
            F.lit(rnd).cast("long").alias("round"),
            F.col("m.a").alias("left_sym"),
            F.col("m.b").alias("right_sym"),
            (-F.col("m.neg")).cast("long").alias("n_occurrences"),
        )

    merges: list[DataFrame] = []
    for r in range(1, rounds + 1):
        # 1-row pin: downstream rounds reference the materialized
        # winner, not its whole pair-count lineage (per-invocation —
        # recomputed every run, never cached across runs).
        best = argmax(pair_counts(cur), r).localCheckpoint(eager=False)
        merges.append(best)
        if r < rounds:
            pat = F.concat(
                F.lit("("), F.col("left_sym"), F.lit(")("), F.col("right_sym"), F.lit(")")
            )
            rep = F.concat(
                F.lit("("), F.col("left_sym"), F.col("right_sym"), F.lit(")")
            )
            cur = (
                cur.crossJoin(F.broadcast(best.select("left_sym", "right_sym")))
                .select(F.replace(F.col("s"), pat, rep).alias("s"))
                # corpus-form pin: the next round's pair count reads
                # materialized rows instead of re-deriving the regexp +
                # all prior replaces from the scan. eager=False keeps
                # plan construction job-free (explain-only consumers
                # pay nothing; the query's own action materializes).
                .localCheckpoint(eager=False)
            )

    out = merges[0]
    for m in merges[1:]:
        out = out.union(m)
    return out


def bigram_backoff_score(
    docs: DataFrame, min_count: int = 3, alpha: float = 0.4
) -> DataFrame:
    """Per-document cross-entropy under a corpus bigram LM with stupid
    backoff — the CCNet-style "does this read like the corpus" quality
    gate, one notch stronger than unigram_logprob_score (it also
    penalizes incoherent token ORDER, not just rare vocabulary).

    Model (self-trained on the corpus, pruned like a shipped n-gram LM):
    bigrams with support < ``min_count`` are dropped from the table, so
    scoring them falls through to the backoff branch —
      S(w2|w1) = c(w1,w2)/c(w1)          if c(w1,w2) >= min_count
               = alpha * c(w2)/N         otherwise (stupid backoff,
                                         Brants et al. 2007, unnormalized
                                         by design).
    Per doc: n_bg bigram positions, n_backoff of them backed off,
    avg_logprob = mean ln S, ppl = exp(-avg_logprob).

    100 TB shape: bigrams are generated ADJACENT-ONLY via an index
    transform (linear, never a self-join); the bigram and unigram count
    tables are mergeable hash aggregates; scoring is keyed shuffle joins
    on (w1,w2) / w1 / w2 — no broadcast assumption on the LM tables, so
    vocabulary size is unbounded. The unigram subtree is referenced
    twice (context count + backoff count); at scale the counts tables
    are the natural checkpoint/cache point between LM fit and scoring.
    Docs with < 2 tokens have no bigram positions and are excluded.
    """
    base = docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
    pairs = (
        base.filter(F.size("_tk") > 1)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tk) - 1), "
                    "i -> struct(element_at(_tk, i) AS w1, element_at(_tk, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    uni = explode_tokens(docs, out="term").groupBy("term").agg(
        F.count(F.lit(1)).alias("c_t")
    )
    total = uni.agg(F.sum("c_t").cast("double").alias("n_tok"))
    ctx = uni.select(F.col("term").alias("w1"), F.col("c_t").alias("c_ctx"))
    nxt = uni.select(F.col("term").alias("w2"), F.col("c_t").alias("c_next"))
    hit = F.col("c_xy").isNotNull()
    lp = F.when(
        hit, F.log(F.col("c_xy").cast("double") / F.col("c_ctx"))
    ).otherwise(
        F.log(F.lit(alpha) * F.col("c_next").cast("double") / F.col("n_tok"))
    )
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1")
        .join(nxt, "w2")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("lp"), (~hit).cast("long").alias("backed"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum("backed").alias("n_backoff"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
    )


# Code-vs-prose detection: shared pattern set in the Java∩RE2 common
# dialect (mirrored by the SQL oracle). The keyword list is small on
# purpose — high-precision anchors, not a language classifier.
CODE_SYMBOL_RE = r"[{}();=<>\[\]]"
CODE_KEYWORD_RE = r"\b(def|return|function|class|import|var|const)\b"
CODE_INDENT_RE = r"(?m)^\s{2,}\S"


def code_detect(docs: DataFrame,
                symbol_ratio_min: float = 0.02,
                kw_min: int = 1) -> DataFrame:
    """Code-vs-prose heuristic per document — the routing gate a mixed
    web corpus runs before tokenizer/quality choices (code wants
    different filters than prose): symbol density (braces/semicolons/
    operators), keyword anchors, and indented-line count; is_code =
    symbol_ratio >= threshold AND a keyword anchor present. Entirely
    narrow per-row regex (zero shuffle, zero UDF) — the map-only class."""
    t = F.col("text")
    n_sym = F.regexp_count(t, F.lit(CODE_SYMBOL_RE)).cast("long")
    ratio = F.when(
        F.length(t) > 0, F.round(n_sym / F.length(t), 6)
    ).otherwise(F.lit(0.0))
    kw = F.regexp_count(t, F.lit(CODE_KEYWORD_RE)).cast("long")
    indents = F.regexp_count(t, F.lit(CODE_INDENT_RE)).cast("long")
    return docs.select(
        "doc_id",
        n_sym.alias("n_symbols"),
        ratio.alias("symbol_ratio"),
        kw.alias("kw_hits"),
        indents.alias("indent_lines"),
        ((ratio >= symbol_ratio_min) & (kw >= kw_min)).alias("is_code"),
    )


READABILITY_SENTENCE_RE = r"[.!?]+"
READABILITY_VOWEL_RE = r"[aeiouy]+"


def readability_score(docs: DataFrame, easy_min: float = 60.0) -> DataFrame:
    """Flesch reading-ease heuristic per document — the readability
    member of the quality family (very low scores flag boilerplate/
    gibberish; very high flag trivial fragments). Syllables are
    approximated by vowel GROUPS (the standard cheap proxy) and
    sentences by terminal-punctuation runs, floored at 1:

        flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)

    Every count is an exact integer from a common-dialect regex, so
    both engines derive identical doubles. Map-only: zero shuffle,
    zero UDF. Empty docs are excluded (no words -> no score)."""
    t = F.lower(F.col("text"))
    n_words = F.size(tokens(F.col("text"))).cast("long")
    n_sent = F.greatest(
        F.regexp_count(t, F.lit(READABILITY_SENTENCE_RE)), F.lit(1)
    ).cast("long")
    n_syll = F.greatest(
        F.regexp_count(t, F.lit(READABILITY_VOWEL_RE)), F.lit(1)
    ).cast("long")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return docs.filter(n_words > 0).select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.round(flesch, 4).alias("flesch"),
        (F.round(flesch, 4) >= easy_min).alias("is_easy"),
    )


# Gopher quality-filter rule set (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", table A1):
# the published heuristic gate a web-corpus curation pipeline runs
# before model-based scoring. Thresholds are the paper's.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3.0
GOPHER_MWL_MAX = 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_BULLET_MAX = 0.9
GOPHER_ELLIPSIS_MAX = 0.3
GOPHER_ALPHA_MIN = 0.8
GOPHER_STOP_MIN = 2


def gopher_quality_filters(docs: DataFrame) -> DataFrame:
    """Gopher rule-based document quality gate — every metric and its
    pass/fail flag per document, plus the conjunction. One map-only
    pass: every metric is an array-lambda or counting expression over
    the whitespace token array, no explode, no shuffle — the shape a
    100 TB curation pre-filter must have (it runs on ALL data, before
    anything expensive).

    Metrics (thresholds in the module constants): word count in
    [50, 100000]; mean word length in [3, 10]; symbol-to-word ratio
    ('#' chars + '...' runs, per word) < 0.1; < 90% of lines starting
    with a bullet; < 30% of lines ending with an ellipsis; > 80% of
    words containing an alphabetic character; >= 2 distinct Gopher
    stopwords present. Ratios are exact-integer divisions rounded to
    6 — deterministic on both engines."""
    t = F.col("text")
    toks = tokens(t)
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mwl = F.when(
        n_words > 0,
        F.round(sum_len.cast("double") / n_words, 6),
    ).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(
        n_words > 0,
        F.round((n_hash + n_ell).cast("double") / n_words, 6),
    ).otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("long")
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: F.ltrim(ln).rlike(r"^[-*•]"),
            )
        ).cast("double")
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"),
            )
        ).cast("double")
        / n_lines,
        6,
    )
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
            .cast("double") / n_words,
            6,
        ),
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    flags = {
        "word_count_ok": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "mwl_ok": (mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX),
        "symbol_ok": symbol_ratio < GOPHER_SYMBOL_MAX,
        "bullet_ok": bullet_frac < GOPHER_BULLET_MAX,
        "ellipsis_ok": ellipsis_frac < GOPHER_ELLIPSIS_MAX,
        "alpha_ok": alpha_frac > GOPHER_ALPHA_MIN,
        "stopword_ok": stop_hits >= GOPHER_STOP_MIN,
    }
    gopher_pass = None
    for c in flags.values():
        gopher_pass = c if gopher_pass is None else (gopher_pass & c)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_to_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        *[c.alias(name) for name, c in flags.items()],
        gopher_pass.alias("gopher_pass"),
    )
