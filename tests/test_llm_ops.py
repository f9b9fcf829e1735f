"""Quality tests for the non-oracle LLM-data operators: LSH ANN recall
vs the exact baseline, MinHashLSH precision vs exact Jaccard pairs,
SimHash near-dup behavior, and multimodal Pandas-UDF plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_lsh_ann_recall(spark, sf_dir):
    """BucketedRandomProjectionLSH top-k must recall most of the exact
    brute-force top-k (it prunes candidates; with generous tables recall
    should be high on 500 vectors)."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.cand_id) for r in lsh_ann_topk(emb, qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH ANN recall too low: {recall}"


def test_minhash_lsh_finds_planted_dups(spark, sf_dir):
    """MinHashLSH candidate pairs should recover most exact-Jaccard>=0.5
    pairs (the planted near-duplicates in documents)."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100).collect()
    }
    if not exact:
        pytest.skip("no planted near-duplicates at this SF")
    approx = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"MinHashLSH recall vs exact Jaccard: {recall}"


def test_simhash_near_dups_have_small_hamming(spark, sf_dir):
    """Near-duplicate docs (exact Jaccard >= 0.5) must have closer
    SimHashes (hamming distance) than random pairs on average."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100).collect()
    if not pairs:
        pytest.skip("no planted near-duplicates at this SF")
    sh = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    near = [hamming(sh[p.doc_a], sh[p.doc_b]) for p in pairs]
    ids = sorted(sh)
    rand = [hamming(sh[ids[i]], sh[ids[-(i + 1)]]) for i in range(min(50, len(ids) // 2))]
    assert sum(near) / len(near) < sum(rand) / len(rand), (
        f"near-dup hamming {sum(near)/len(near)} not below random {sum(rand)/len(rand)}"
    )


def test_multimodal_fake_decode_plumbing(spark, sf_dir):
    """The mapInPandas decode path: schema contract, row alignment,
    deterministic fake dims, null-payload handling."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        fake_decode_image,
        with_binary_payload,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    decoded = fake_decode_image(with_binary_payload(docs))
    assert decoded.schema.simpleString() == (
        "struct<doc_id:bigint,byte_len:bigint,width:int,height:int,mode:string>"
    )
    rows = {r.doc_id: r for r in decoded.collect()}
    src = {r.doc_id: r for r in docs.collect()}
    assert rows.keys() == src.keys()
    for did, r in rows.items():
        blen = len(src[did].text.encode("utf-8"))
        assert r.byte_len == blen
        assert r.width == blen % 640 + 1
        assert r.height == blen % 480 + 1
        assert r.mode == ("RGB" if blen % 2 == 0 else "L")

    # null payload row flows through without crashing
    from pyspark.sql import types as T

    null_df = spark.createDataFrame(
        [(999999, None)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    out = fake_decode_image(null_df).collect()
    assert out[0].byte_len == 0 and out[0].mode == "RGB"


def test_ivf_ann_recall(spark, sf_dir):
    """IVF (k-means inverted lists + probe + exact re-rank) must recall
    most of the exact top-k while scanning only n_probe/n_centroids of
    the corpus per query."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, qids, k=5).collect()}
    approx = {(r.query_id, r.cand_id) for r in ivf_ann_topk(emb, qids, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_ann_det_recall_and_pruning(spark, sf_dir):
    """The deterministic-quantizer IVF must (a) recall most of the exact
    top-k like the MLlib variant, and (b) actually prune: every returned
    candidate belongs to one of its query's n_probe probed lists."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk_det,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, qids, k=5).collect()}
    approx_rows = ivf_ann_topk_det(emb, qids, k=5).collect()
    approx = {(r.query_id, r.cand_id) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"deterministic IVF recall too low: {recall}"
    # per-query result sizes are exactly k (corpus >> k in every SF)
    from collections import Counter

    per_q = Counter(r.query_id for r in approx_rows)
    assert all(v == 5 for v in per_q.values()) and len(per_q) == 10


def test_transform_with_state_high_water_marks(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: per-user record-breaking
    events. Skips where the gRPC state server's protobuf dependency is
    absent (this container)."""
    from pipeline_apache_beam_entrega1_cs_spark.streaming.transform_state import (
        run_high_water_marks,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("protobuf not installed; transformWithState needs it")
    from pyspark.sql import functions as F2

    out = run_high_water_marks(spark, sf_dir)
    # per user: new_max strictly increasing, count matches emitted rows
    bad = (
        out.groupBy("user_id")
        .agg(
            (F2.count(F2.lit(1)) == F2.max("n_records")).alias("ok_count"),
        )
        .filter(~F2.col("ok_count"))
        .count()
    )
    assert bad == 0


def test_embedding_cosine_lsh_recall(spark, sf_dir):
    """The LSH-bucket-blocked near-dup pairs must recover nearly all
    exact all-pairs cosine matches (measured 0.99 at defaults) — this is
    the scale-path replacement for semantic-label blocking."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        cosine,
        embedding_cosine_pairs_lsh,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").cast("array<double>").alias("emb_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").cast("array<double>").alias("emb_b"),
    )
    exact = {
        (r.vec_a, r.vec_b)
        for r in (
            a.crossJoin(b)
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a",
                "vec_b",
                F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cs"),
            )
            .filter(F.col("cs") >= 0.35)
        ).collect()
    }
    approx = {
        (r.vec_a, r.vec_b)
        for r in embedding_cosine_pairs_lsh(emb, threshold=0.35).collect()
    }
    assert exact, "baseline produced no pairs — threshold too high for testdata"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH-blocked cosine pair recall too low: {recall}"
    # no false positives: candidates are exact-cosine verified, so every
    # reported pair must be in the exact baseline
    assert approx <= exact


def test_unigram_logprob_rare_tokens_score_lower(spark):
    """Semantic check: a doc made of corpus-frequent tokens must out-score
    a doc of hapax tokens (avg log p is higher for frequent vocabulary)."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import (
        unigram_logprob_score,
    )

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((100, "zyx qwv jkl"))  # hapax-only doc
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_logprob for r in unigram_logprob_score(docs).collect()}
    assert out[0] > out[100]
    # every score is a proper log-probability: strictly negative
    assert all(v < 0 for v in out.values())


def test_bigram_pmi_planted_collocation_ranks_first(spark):
    """Semantic check: a token pair that ONLY ever occurs together must
    beat pairs of independently frequent tokens on PMI."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import (
        bigram_pmi_topk,
    )

    filler = "aa bb cc dd ee ff gg hh"
    rows = [(i, filler) for i in range(20)]
    # 'hong kong' appears 6 times, and those tokens never occur apart
    rows += [(100 + i, filler + " hong kong") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = bigram_pmi_topk(docs, min_count=5, k=3).collect()
    assert top, "no bigram cleared the support floor"
    assert (top[0].w1, top[0].w2) == ("hong", "kong")
    assert all(top[0].pmi >= r.pmi for r in top)


def test_minhash_banded_recall_vs_exact(spark, sf_dir):
    """The SQL-expressible MinHash banding must recover >= 80% of the
    exact high-Jaccard pairs (same bar as the MLlib variant), and its
    est_jaccard for recovered pairs must correlate: pairs it estimates
    at >= 0.9 must be truly similar (exact J >= 0.5)."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        minhash_banded_pairs,
        ngram_jaccard_pairs,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_df=100).collect()
    }
    if not exact:
        pytest.skip("no planted near-duplicates at this SF")
    banded = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_banded_pairs(docs).collect()
    }
    recall = len(exact & banded.keys()) / len(exact)
    assert recall >= 0.8, f"banded MinHash recall vs exact J>=0.8: {recall}"

    truly_similar = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100).collect()
    }
    confident = {p for p, est in banded.items() if est >= 0.9}
    if confident:
        precision = len(confident & truly_similar) / len(confident)
        assert precision >= 0.8, f"est>=0.9 precision vs exact J>=0.5: {precision}"


def test_span_dedup_removes_repeats_keeps_first(spark):
    """Substring-dedup semantics on planted fixtures: an exact copy of an
    earlier doc loses ALL its words (every 8-gram is a repeat of doc 1's),
    the first occurrence keeps them; a doc sharing one 8-gram span with
    doc 1 loses exactly that span; short (<8 words) and unique docs pass
    through untouched."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import span_dedup

    base = "a b c d e f g h i j"  # 10 words -> three 8-grams
    rows = [
        (1, base),                       # first occurrence: kept intact
        (2, base),                       # exact copy: fully removed
        (3, "x y " + "a b c d e f g h"), # shares doc 1's first 8-gram
        (4, "p q r s"),                  # < 8 words: no shingles, untouched
        (5, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique 8-grams, untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(docs, n=8).collect()}
    assert out[1]["clean_text"] == base and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_removed"] == 10
    assert out[3]["clean_text"] == "x y" and out[3]["n_removed"] == 8
    assert out[4]["clean_text"] == "p q r s" and out[4]["n_removed"] == 0
    assert out[5]["n_removed"] == 0 and out[5]["n_words"] == 9


def test_pq_codes_identical_vectors_share_codes(spark):
    """PQ semantics on planted fixtures: identical vectors always get
    identical code words; with only two distinct patterns the per-
    subspace codebooks converge onto them, so reconstruction error is 0;
    codes stay inside [0, k)."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import pq_codes

    a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    b = [9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0]
    rows = [(i, a if i % 2 == 0 else b) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_codes(emb, m=4, k=4, iters=1).collect()
    assert len(out) == 8
    by_pattern = {}
    for r in out:
        assert r["recon_err"] == 0.0
        codes = tuple(r[f"code_{s}"] for s in range(4))
        assert all(0 <= c < 4 for c in codes)
        by_pattern.setdefault(r["vec_id"] % 2, set()).add(codes)
    assert all(len(v) == 1 for v in by_pattern.values())  # same vec -> same codes
    assert by_pattern[0] != by_pattern[1]  # distinct patterns -> distinct codes


def test_pq_adc_copy_of_query_ranks_first(spark):
    """ADC semantics on planted fixtures: with two patterns and
    converged codebooks (zero quantization error), a candidate that is
    an exact copy of the query shares its code words, so its ADC
    distance is 0 and copies occupy the top ranks; opposite-pattern
    candidates land strictly farther."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import pq_adc_topk

    a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    b = [9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0]
    rows = [(i, a if i % 2 == 0 else b) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_adc_topk(emb, query_ids=[0, 1], k=7).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        same = [r for r in rs if r["cand_id"] % 2 == q % 2]
        other = [r for r in rs if r["cand_id"] % 2 != q % 2]
        assert all(r["adc_dist"] == 0.0 for r in same)
        assert all(r["adc_dist"] > 0.0 for r in other)
        # all 3 same-pattern copies outrank every opposite-pattern cand
        assert {r["rank"] for r in same} == {1, 2, 3}


def test_pq_ivf_adc_consistency(spark, sf_dir):
    """IVF-PQ integration: (1) every returned candidate lies in one of
    its query's probed coarse lists (recomputed independently from the
    same deterministic quantizer); (2) for every returned (query, cand)
    pair the ADC distance equals the full-corpus ADC entry's distance —
    pruning changes the candidate SET, never the scoring."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        _as_double,
        _kmeans_fit,
        _sq_dist,
        pq_adc_topk,
        pq_ivf_adc_topk,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    out = pq_ivf_adc_topk(emb, query_ids=qids, k=5).collect()
    assert out and all(1 <= r["rank"] <= 5 for r in out)

    # (1) recompute lists + probes with the same deterministic fit
    vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
    cents, assign = _kmeans_fit(vecs, k=8, iters=2)
    lists = {r["vec_id"]: r["cluster"] for r in assign(cents).collect()}
    qv = {r["vec_id"]: r["v"] for r in vecs.filter(F.col("vec_id").isin(qids)).collect()}
    cts = {r["cluster"]: r["c"] for r in cents.collect()}

    def probes(q):
        ds = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(qv[q], c)), 6), cl)
            for cl, c in cts.items()
        )
        return {cl for _, cl in ds[:4]}

    for r in out:
        assert lists[r["cand_id"]] in probes(r["query_id"]), r

    # (2) scoring identical to the unpruned ADC entry
    full = {
        (r["query_id"], r["cand_id"]): r["adc_dist"]
        for r in pq_adc_topk(emb, query_ids=qids, k=10**6).collect()
    }
    for r in out:
        assert full[(r["query_id"], r["cand_id"])] == r["adc_dist"], r


def test_bm25_rare_term_outranks_common(spark):
    """BM25 semantics on planted fixtures: a document matching the RARE
    query term outscores documents matching only the common term (idf
    dominance); more occurrences of the same term increase the score
    sublinearly; documents with no query term are absent."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import bm25_topk

    rows = [(0, "rare x y z"), (1, "common x y z"), (2, "common common x y"),
            (3, "x y z w")] + [(i, "common x y z") for i in range(4, 12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, ["rare", "common"], k=20).collect()}
    assert 3 not in out                      # no query term -> not scored
    assert out[0] > out[2] > out[1]          # rare beats common; 2x common beats 1x
    assert out[1] == out[4]                  # identical docs tie exactly


def test_feature_hashing_preserves_token_mass(spark, sf_dir):
    """Hashing-trick invariants: per-doc bucket counts sum to the doc's
    token count (no token lost or double-bucketed), buckets stay in
    [0, 16), and the same term always lands in the same bucket."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import tokens
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        text_feature_hashing,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    out = text_feature_hashing(spark, sf_dir).cache()
    assert out.filter((F.col("bucket") < 0) | (F.col("bucket") >= 16)).count() == 0
    got = {
        r["doc_id"]: r["total"]
        for r in out.groupBy("doc_id").agg(F.sum("cnt").alias("total")).collect()
    }
    exp = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    assert got == exp
    out.unpersist()


def test_split_leakage_detects_planted_duplicate(spark, sf_dir):
    """Leakage semantics: the report's totals equal a direct recount of
    fingerprints spanning >= 2 splits, and every reported split_set
    names at least two splits."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import fingerprint_col
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        _split_col,
        dq_split_leakage,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    out = dq_split_leakage(spark, sf_dir).collect()
    assert all(len(r["split_set"].split("|")) >= 2 for r in out)
    direct = (
        load_table(spark, sf_dir, "documents")
        .select(_split_col().alias("split"), fingerprint_col(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"), F.count(F.lit(1)).alias("nd"))
        .filter(F.col("ns") >= 2)
        .agg(F.count(F.lit(1)).alias("fps"), F.sum("nd").alias("docs"))
        .collect()[0]
    )
    assert sum(r["n_leaked_fps"] for r in out) == (direct["fps"] or 0)
    assert sum(r["n_docs_affected"] for r in out) == (direct["docs"] or 0)


def test_quality_model_planted_weights_exact_logit(spark):
    """The classifier gate scores exactly bias + Σ cnt·w[bucket]: tokens
    with hand-computed md5 buckets produce a hand-computed logit, empty
    docs score bias-only, and the pass flag is the logit-sign gate."""
    import hashlib
    from decimal import Decimal

    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _FEATHASH_DIMS,
        _QMODEL_BIAS,
        _QMODEL_W,
        text_quality_model,
    )

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _FEATHASH_DIMS

    # docs: (doc_id, token multiset) with known buckets
    toks1 = ["alpha", "alpha", "beta"]          # 2x w[b(alpha)] + w[b(beta)]
    toks2 = ["gamma"]
    rows = [(1, " ".join(toks1)), (2, " ".join(toks2)), (3, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L
    orig = L._docs
    L._docs = lambda spark, sf_dir: docs
    try:
        out = {r["doc_id"]: r for r in text_quality_model(spark, "ignored").collect()}
    finally:
        L._docs = orig

    bias = Decimal(_QMODEL_BIAS)
    w = [Decimal(x) for x in _QMODEL_W]

    def expect(toks):
        from collections import Counter
        c = Counter(bucket(t) for t in toks)
        return bias + sum(n * w[b] for b, n in c.items()), len(c)

    for doc_id, toks in ((1, toks1), (2, toks2)):
        logit, nf = expect(toks)
        assert out[doc_id]["n_features"] == nf
        assert Decimal(repr(out[doc_id]["logit"])) == logit.normalize() or \
            abs(out[doc_id]["logit"] - float(logit)) < 1e-12, (doc_id, out[doc_id], logit)
        assert out[doc_id]["quality_pass"] == (logit >= 0)
    # whitespace-only doc: bias-only, zero features
    assert out[3]["n_features"] == 0
    assert abs(out[3]["logit"] - float(bias)) < 1e-12
    assert out[3]["quality_pass"] == (bias >= 0)


def test_mmr_demotes_redundant_near_duplicate(spark):
    """Planted geometry: the #2-by-relevance candidate is a near-copy of
    #1, so MMR's diversity penalty must demote it behind a less-relevant
    but diverse candidate — the property a pure top-k rank cannot have."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.00, 0.00, 0.00], 0),   # query
        (1, [0.99, 0.10, 0.00], 0),   # best candidate
        (2, [0.98, 0.12, 0.00], 0),   # near-duplicate of 1 (2nd by rel)
        (3, [0.60, -0.80, 0.00], 0),  # diverse (cos~0.52 to #1), lower rel
        (4, [0.00, 0.10, 0.99], 0),   # orthogonal filler
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["pick_rank"]: r for r in mmr_rerank(emb, [0], k=3, m=4).collect()}
    assert out[1]["cand_id"] == 1
    # plain rel order would pick 2 next; MMR must pick the diverse 3
    assert out[2]["cand_id"] == 3, out
    assert out[3]["cand_id"] == 2
    # greedy-MMR scores are monotone non-increasing: round r+1's argmax
    # maximizes over a SUBSET of round r's candidates with a penalty max
    # over a SUPERSET of its selected set, so mmr(pick r+1) <=
    # mmr_{r+1}(pick r's winner-class) <= mmr(pick r)
    assert out[1]["mmr_score"] >= out[2]["mmr_score"] >= out[3]["mmr_score"]


def test_retrieval_pipeline_composes_ivf_and_mmr(spark, sf_dir):
    """The composed serving stack must be consistent with its stages:
    every pick comes from the IVF-PQ candidate set for that query, rel
    equals the exact cosine to the query, and per-query picks are
    distinct with ranks 1..k."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        pq_ivf_adc_topk,
        retrieval_pipeline_topk,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    out = retrieval_pipeline_topk(emb, qids, k=3, m=8).collect()
    cand = {
        (r["query_id"], r["cand_id"])
        for r in pq_ivf_adc_topk(emb, qids, k=8).collect()
    }
    assert len(out) == 30
    for r in out:
        assert (r["query_id"], r["cand_id"]) in cand, r
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert sorted(x["pick_rank"] for x in rows) == [1, 2, 3]
        assert len({x["cand_id"] for x in rows}) == 3
    # rel is the exact cosine (cross-check one query against cosine_topk scores)
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import cosine_topk
    exact = {
        (r["query_id"], r["cand_id"]): r["cos_sim"]
        for r in cosine_topk(emb, qids, k=500).collect()
    }
    for r in out:
        assert abs(r["rel"] - exact[(r["query_id"], r["cand_id"])]) < 1e-9, r


def test_temperature_mixture_upweights_small_sources(spark):
    """Skewed planted corpus (900 'big' docs vs 100 'small'): with
    alpha = 0.5 the small source's sampling weight must EXCEED its raw
    share (sqrt flattens the distribution), the big source's must fall
    below its share, weights sum to 1, and realized per-source sample
    rates track the adjusted rates (binomial tolerance)."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P

    rows = [(i, "big") for i in range(900)] + [(i + 900, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    orig = P._t
    P._t = lambda spark, sf_dir, name: docs
    try:
        out = {r["source"]: r for r in P.sample_temperature_mixture(spark, "x").collect()}
    finally:
        P._t = orig

    big, small = out["big"], out["small"]
    assert abs(big["weight"] + small["weight"] - 1.0) < 1e-6
    # raw shares 0.9 / 0.1 -> sqrt(0.9) = 3*sqrt(0.1), so the
    # normalized weights are exactly 0.75 / 0.25: the small source's
    # weight is 2.5x its raw share, the big source's is 5/6 of its
    assert small["weight"] > 0.1 and big["weight"] < 0.9
    assert abs(small["weight"] - 0.25) < 1e-4, small
    # realized rates: keep_rate = weight * 0.5 * n_sources with
    # n_sources DERIVED from the data (= 2 here; a hardcoded 4 used to
    # misscale this very fixture) — big: 0.75*0.5*2 = 0.75 (uncapped),
    # small: 0.25*0.5*2 = 0.25. Binomial tolerance ~4.5 sigma.
    exp_big = 900 * min(big["weight"] * 0.5 * 2.0, 1.0)
    assert abs(big["n_sampled"] - exp_big) < 60, (big, exp_big)
    assert big["n_sampled"] < 900  # rate no longer caps at 1.0
    exp_small = 100 * min(small["weight"] * 0.5 * 2.0, 1.0)
    assert abs(small["n_sampled"] - exp_small) < 25, (small, exp_small)


def test_binary_payload_dedup_planted_blobs(spark):
    """Planted blob corpus: docs 0/4 share text AND doc_id%4 residue, so
    their magic-header payloads are byte-identical (exact group); docs
    1/5 share residue but doc 5's text has a mid-string insertion —
    near-dup by byte shingles, NOT exact; doc 2 is unrelated and must
    pair with nothing."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        binary_payload_dedup,
    )
    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        with_magic_payload,
    )

    base = "the quick brown fox jumps over the lazy dog " * 10
    rows = [
        (0, base),
        (4, base),                                   # exact dup of 0
        (1, base + "tail marker one"),
        (5, base[:200] + "XYZ" + base[200:] + "tail marker one"),  # near dup of 1
        (2, "completely different content " * 12),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = binary_payload_dedup(with_magic_payload(docs)).collect()

    exact = [r for r in out if r["method"] == "exact_sha256"]
    near = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in out if r["method"] == "minhash_bytes"}
    assert len(exact) == 1
    assert exact[0]["doc_a"] == 0 and exact[0]["n_members"] == 2
    assert (1, 5) in near and near[(1, 5)] >= 0.5, out
    # the unrelated doc pairs with nothing; the exact-dup loser (4) was
    # collapsed before the near stage, so it appears in no pair
    assert all(2 not in pair and 4 not in pair for pair in near), near


def test_dedup_keep_best_planted_clusters(spark):
    """Planted near-dup cluster where the HIGHEST-QUALITY member is not
    the lowest doc_id: keep-best must pick it (min-id dedup would not);
    quality ties break on min doc_id; singletons keep themselves."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L

    # docs 10/11/12 near-dup: same long sentence, tiny edits. Doc 10 is
    # SHOUTED (upper_ratio irrelevant to score but punct-heavy -> lower
    # score via punct_ratio >= 0.2); 11 and 12 are clean (same score) so
    # the tie breaks to 11. Doc 20 is an unrelated singleton.
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [
        (10, base + "!!!! ???? ;;;; :::: !!!! ???? ;;;; :::: !!!! ????"
             + " !!!! ???? ;;;; :::: !!!! ???? ;;;; ::::"),
        (11, base + "first clean variant"),
        (12, base + "second clean variant"),
        (20, "completely unrelated content about helicopters and racing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = L._docs
    L._docs = lambda spark, sf_dir: docs
    try:
        out = {r["cluster"]: r for r in L.dedup_keep_best(spark, "x").collect()}
    finally:
        L._docs = orig

    assert out[10]["n_members"] == 3
    assert out[10]["keep_doc_id"] == 11, out[10]  # best quality, tie -> min id
    assert out[20]["n_members"] == 1 and out[20]["keep_doc_id"] == 20


def test_truncated_rescore_recall_and_consistency(spark, sf_dir):
    """The two-stage truncated-dim retrieval must (a) recall most of the
    exact top-k (the 32-dim prefix of a 64-dim random embedding
    correlates strongly; measured recall 0.86 at these settings), (b) return exactly k ranked rows per query
    with cos_sim equal to the exact full-dim cosine, and (c) only ever
    return candidates from its own coarse top-m set."""
    from collections import Counter

    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        cosine_topk,
        truncated_rescore_topk,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact_rows = cosine_topk(emb, qids, k=5).collect()
    exact = {(r.query_id, r.cand_id) for r in exact_rows}
    exact_sims = {(r.query_id, r.cand_id): r.cos_sim
                  for r in cosine_topk(emb, qids, k=500).collect()}

    out = truncated_rescore_topk(emb, qids, k=5, m=64, prefix_dims=32).collect()
    got = {(r.query_id, r.cand_id) for r in out}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, f"truncated-rescore recall too low: {recall}"

    per_q = Counter(r.query_id for r in out)
    assert all(v == 5 for v in per_q.values()) and len(per_q) == 10
    for r in out:
        assert abs(r.cos_sim - exact_sims[(r.query_id, r.cand_id)]) < 1e-9, r


def test_containment_catches_asymmetric_quote(spark):
    """Planted corpus: a short doc quoted wholesale inside a long one
    has containment 1.0 but Jaccard well under 0.5 — the containment
    entry must flag the pair, the Jaccard entry must structurally miss
    it."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} tok{i} item{i}" for i in range(40))
    rows = [
        (1, short),
        (2, filler + " " + short + " " + filler.replace("word", "mord")),
        (3, "completely different content entirely " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {(r["doc_a"], r["doc_b"]): r
            for r in containment_pairs(docs, n=3, threshold=0.8).collect()}
    assert (1, 2) in cont, cont
    assert cont[(1, 2)]["containment_a_in_b"] == 1.0
    assert cont[(1, 2)]["jaccard"] < 0.5

    jac = {(r["doc_a"], r["doc_b"])
           for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert (1, 2) not in jac


def test_embedding_norm_profile_flags_planted_defects(spark):
    """Planted embedding table: a zero vector and a 100x-norm outlier in
    one label, a clean second label — counts must localize exactly."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    rows = (
        [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(20)]
        + [(20, [0.0, 0.0, 0.0, 0.0], 0),       # zero vector
           (21, [100.0, 0.0, 0.0, 0.0], 0)]     # norm outlier
        + [(100 + i, [0.0, 2.0, 0.0, 0.0], 1) for i in range(10)]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as LL
    orig = LL.load_table
    LL.load_table = lambda spark, sf_dir, name: emb
    try:
        out = {r["label"]: r for r in L.embedding_norm_profile(spark, "x").collect()}
    finally:
        LL.load_table = orig

    assert out[0]["n_vecs"] == 22 and out[0]["n_zero"] == 1
    assert out[0]["n_outliers"] >= 1          # the 100x vector
    assert out[0]["n_dims_distinct"] == 1
    assert out[1]["n_zero"] == 0 and out[1]["n_outliers"] == 0
    assert out[1]["min_norm"] == out[1]["max_norm"] == 2.0


def test_retrieval_eval_consistent_with_arms(spark, sf_dir):
    """eval_retrieval_metrics must equal metrics recomputed in plain
    Python from its two constituent retrieval arms run standalone (the
    retrieval-pipeline consistency pattern), and both metrics must stay
    inside [0, 1] with n_overlap == recall * k."""
    import math

    from pipeline_apache_beam_entrega1_cs_spark.operators import similarity as S
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _EVAL_K,
        QUERY_IDS,
        eval_retrieval_metrics,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    approx = S.ivf_ann_topk_det(emb, QUERY_IDS, k=_EVAL_K).collect()
    exact = S.cosine_topk(emb, QUERY_IDS, k=_EVAL_K).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["cand_id"])
    got = {r["query_id"]: r for r in eval_retrieval_metrics(spark, sf_dir).collect()}
    assert set(got) == set(truth)
    per_q = {}
    for r in approx:
        rel = 1 if r["cand_id"] in truth[r["query_id"]] else 0
        ov, dcg = per_q.get(r["query_id"], (0, 0.0))
        per_q[r["query_id"]] = (
            ov + rel, dcg + rel / math.log2(r["rank"] + 1)
        )
    idcg = sum(1 / math.log2(r + 1) for r in range(1, _EVAL_K + 1))
    for q, (ov, dcg) in per_q.items():
        row = got[q]
        assert row["n_overlap"] == ov, (q, row, ov)
        assert abs(row["recall_at_k"] - ov / _EVAL_K) < 1e-6
        assert abs(row["ndcg_at_k"] - dcg / idcg) < 1e-5, (q, row, dcg / idcg)
        assert 0.0 <= row["recall_at_k"] <= 1.0
        assert 0.0 <= row["ndcg_at_k"] <= 1.0


def test_cross_source_overlap_planted_sharing(spark):
    """Planted corpus: sources s1/s2 share near-identical documents
    (same dominant phrasing -> same min-shingle), source s3 is fully
    disjoint vocabulary — the matrix must contain the (s1, s2) pair
    with overlap 1.0 and no pair involving s3."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        cross_source_overlap,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one", "s1"),
        (2, base + " two", "s2"),
        (3, "omicron pi rho sigma tau upsilon phi chi", "s3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_overlap(docs, n=3).collect()
    }
    assert set(out) == {("s1", "s2")}
    r = out[("s1", "s2")]
    assert r["n_shared_fp"] == 1 and r["n_fp_a"] == 1 and r["n_fp_b"] == 1
    assert r["overlap"] == 1.0


def test_langid_confusion_planted_labels(spark):
    """Confusion-matrix semantics on planted docs: marker-bearing docs
    land on the diagonal, a labeled language with NO marker vocabulary
    (zh here) predicts 'und', and each true class's shares sum to 1."""
    from pyspark.sql import functions as F  # noqa: F401

    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L

    rows = [
        (1, "the cat and the dog with the", "en", "s", 10),
        (2, "the quick the brown the fox", "en", "s", 10),
        (3, "le chat et la maison dans le", "fr", "s", 10),
        (4, "der hund und die katze mit der", "de", "s", 10),
        (5, "中文 文本 没有 标记", "zh", "s", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = L._docs
    L._docs = lambda spark, sf_dir: docs
    try:
        out = L.eval_langid_confusion(spark, "x").collect()
    finally:
        L._docs = orig
    cells = {(r["true_lang"], r["pred_lang"]): r for r in out}
    assert cells[("en", "en")]["n"] == 2 and cells[("en", "en")]["is_hit"]
    assert cells[("fr", "fr")]["n"] == 1
    assert cells[("de", "de")]["n"] == 1
    assert cells[("zh", "und")]["n"] == 1 and not cells[("zh", "und")]["is_hit"]
    shares = {}
    for r in out:
        shares.setdefault(r["true_lang"], 0.0)
        shares[r["true_lang"]] += r["share_of_true"]
        assert r["n_true"] >= r["n"]
    assert all(abs(v - 1.0) < 1e-6 for v in shares.values()), shares


def test_bigram_backoff_spec(spark):
    """Hand-computed stupid-backoff check on a 3-doc corpus: the
    repeated bigram clears min_count and scores c_xy/c_ctx; the rare
    one falls through to alpha * c(w2)/N."""
    import math

    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import (
        bigram_backoff_score,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in bigram_backoff_score(docs, min_count=2, alpha=0.4).collect()
    }
    # Corpus: tokens a=3 b=2 c=1, N=6; bigrams (a,b)x2 (a,c)x1.
    # (a,b): c_xy=2 >= 2 -> ln(2/3). (a,c): pruned -> ln(0.4 * 1/6).
    lp_ab = math.log(2 / 3)
    lp_ac = math.log(0.4 / 6)
    assert got[1].n_bg == 1 and got[1].n_backoff == 0
    assert got[1].avg_logprob == pytest.approx(round(lp_ab, 6))
    assert got[3].n_backoff == 1
    assert got[3].avg_logprob == pytest.approx(round(lp_ac, 6))
    assert got[3].ppl == pytest.approx(round(math.exp(-lp_ac), 4))
    # order-incoherent text scores worse than corpus-typical text
    assert got[3].avg_logprob < got[1].avg_logprob


def test_canonical_url_spec(spark):
    """Hand-written messy URLs must collapse to the expected canonical
    forms: casing, default ports, trailing slash, tracking params,
    param order, and fragments all normalized; non-default ports and
    real params preserved."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        canonical_url_col,
    )

    cases = [
        ("HTTPS://WWW.Ex.COM:443/a/?b=2&a=1&utm_x=9#frag",
         "https://www.ex.com/a?a=1&b=2"),
        ("https://www.ex.com/a?a=1&b=2",
         "https://www.ex.com/a?a=1&b=2"),
        ("http://ex.com:80/", "http://ex.com"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),
        ("https://ex.com/p?fbclid=abc", "https://ex.com/p"),
        ("https://ex.com", "https://ex.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in df.select(canonical_url_col(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_semantic_cluster_dedup_planted(spark):
    """Planted exact-duplicate vectors must be flagged (larger id only,
    keep-min semantics) and near-but-distinct directions kept."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        semantic_cluster_dedup,
    )

    rows = [
        (0, [1.0, 0.10]), (1, [1.0, 0.20]), (2, [1.0, 0.15]),
        (3, [1.0, 0.15]),                       # dup of 2
        (4, [0.10, 1.0]), (5, [0.20, 1.0]), (6, [0.15, 1.0]),
        (7, [0.15, 1.0]),                       # dup of 6
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {r.vec_id: r for r in
           semantic_cluster_dedup(emb, k=2, iters=2, threshold=0.999).collect()}
    assert {v for v, r in out.items() if r.is_dup} == {3, 7}
    assert out[3].n_close == 1 and out[2].n_close == 0
    # identical vectors always co-assign
    assert out[2].cluster == out[3].cluster


def test_pcm_frame_energy_matches_numpy(spark):
    """Frame RMS/peak from the Spark expression pipeline must equal a
    straight numpy computation over the same PCM bytes."""
    import numpy as np

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        pcm_frame_energy,
        with_wav_payload,
    )

    text = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [(1, text), (2, "short"), (4, text)], ["doc_id", "text"]
    )  # doc 1 is the only %4==1 WAV row; doc 2's PCM < 1 frame after hdr
    rows = pcm_frame_energy(with_wav_payload(docs)).collect()
    assert {r.doc_id for r in rows} == {1}
    v = np.frombuffer(text.encode(), dtype=np.uint8)[:256].astype(np.int64)
    n_frames = len(v) // 16
    assert len(rows) == n_frames
    for r in sorted(rows, key=lambda r: r.frame_idx):
        fr = v[r.frame_idx * 16:(r.frame_idx + 1) * 16] - 128
        assert r.rms == pytest.approx(round(float(np.sqrt((fr ** 2).mean())), 6))
        assert r.peak_dev == int(np.abs(fr).max())
        assert r.is_silence == (r.rms < 8.0)


def test_pii_redact_spec(spark):
    """Typed placeholders replace each PII class; counts match the
    planted spans; clean text is untouched."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.curation import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-y.co and x@y.io here", "s1"),
            (2, "call 555-123-4567 or 555-000-9999", "s1"),
            (3, "host 192.168.1.254 down", "s2"),
            (4, "all clean here", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {r.source: r for r in pii_report(docs).collect()}
    assert got["s1"].n_emails == 2 and got["s1"].n_phones == 2
    assert got["s1"].n_docs_with_pii == 2
    assert got["s2"].n_ips == 1 and got["s2"].n_docs_with_pii == 1
    # redaction shrinks/changes only PII docs: clean doc keeps length
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>"), PII_IPV4_RE, "<IP>")
    texts = {r.doc_id: r.r for r in docs.select("doc_id", red.alias("r")).collect()}
    assert texts[1] == "mail <EMAIL> and <EMAIL> here"
    assert texts[2] == "call <PHONE> or <PHONE>"
    assert texts[3] == "host <IP> down"
    assert texts[4] == "all clean here"


def test_variance_partial_merge_exact(spark, sf_dir):
    """Merged (n, Σx, Σx²) partials must reproduce the direct sample
    variance computed in plain Python over the same column."""
    import statistics

    from pipeline_apache_beam_entrega1_cs_spark.plans.relational import (
        agg_variance_partial_merge,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    xs = [
        int(r.l_quantity)
        for r in load_table(spark, sf_dir, "lineitem").select("l_quantity").collect()
    ]
    got = {r.scope: r for r in agg_variance_partial_merge(spark, sf_dir).collect()}
    allr = got["__all__"]
    assert allr.n == len(xs)
    assert allr.var_qty == pytest.approx(round(statistics.variance(xs), 6))
    assert allr.mean_qty == pytest.approx(round(statistics.fmean(xs), 6), abs=1e-6)


def test_embedding_standardize_spec(spark):
    """Standardization on a tiny frame must match a numpy z-score pass
    (population std, 6-dp-rounded stats, micro-unit floor sums)."""
    import numpy as np

    from pipeline_apache_beam_entrega1_cs_spark.plans import llm_data
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _STD_UNIT,
    )

    rows = [(0, [1.0, 10.0]), (1, [2.0, 20.0]), (2, [3.0, 60.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )

    # call the plan fn against a monkeypatched loader
    orig = llm_data._emb
    llm_data._emb = lambda s, d: emb
    try:
        got = {r.vec_id: r for r in
               llm_data.embedding_standardize(spark, "ignored").collect()}
    finally:
        llm_data._emb = orig

    a = np.array([[1.0, 10.0], [2.0, 20.0], [3.0, 60.0]])
    m = np.floor(a * _STD_UNIT)
    mean = np.round(m.sum(0) / (3 * _STD_UNIT), 6)
    var = (3 * (m * m).sum(0) - m.sum(0) ** 2)
    std = np.round(np.sqrt(var) / (3 * _STD_UNIT), 6)
    z = (a - mean) / std
    zs = np.floor(z * _STD_UNIT).sum(1)
    for i in range(3):
        assert got[i].z_sum_micro == int(zs[i])
        assert got[i].z_min == pytest.approx(round(float(z[i].min()), 4))
        assert got[i].z_max == pytest.approx(round(float(z[i].max()), 4))


def test_code_detect_spec(spark):
    """Injected code flags as code; plain prose does not; counts match
    hand counts."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.textops import (
        code_detect,
    )

    code = "def f(x):\n    return (x + 1);\nclass A {\n  var y = 2;\n}"
    prose = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, code), (2, prose)], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in code_detect(docs).collect()}
    assert got[1].is_code and not got[2].is_code
    assert got[1].kw_hits == 4  # def, return, class, var
    assert got[1].indent_lines == 2
    assert got[2].n_symbols == 0


def test_boundary_stitch_finds_split_doc(spark):
    """A document split into two shards (8-token overlap at the cut)
    must be found; unrelated docs and short docs must not pair."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.dedup import (
        boundary_stitch_pairs,
    )

    words = [f"w{i}" for i in range(24)]
    first_half = " ".join(words[:16])        # tail = w8..w15
    second_half = " ".join(words[8:24])      # head = w8..w15 -> stitch!
    docs = spark.createDataFrame(
        [(1, first_half), (2, second_half),
         (3, "totally unrelated content " * 4), (4, "too short")],
        ["doc_id", "text"],
    )
    pairs = boundary_stitch_pairs(docs, k=8).collect()
    assert [(p.doc_tail, p.doc_head) for p in pairs] == [(1, 2)]


def test_typo_neighborhood_planted_pairs(spark):
    """FastSS deletion-neighborhood dedup: distance-1 pairs (substitution,
    insertion/deletion) are found; distance-2 and unrelated names are
    not; the levenshtein verify kills deletion-collision false
    candidates."""
    from unittest import mock

    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L

    rows = [("Supplier#0001",), ("Supplier#0002",),   # substitution: dist 1
            ("Supplier#001",),                        # deletion of one char: dist 1 to #0001/#0002? no: to #0001 dist 1
            ("Suppliers#0001",),                      # insertion: dist 1 to #0001
            ("Acme Corp",)]                           # unrelated
    names = spark.createDataFrame(rows, "s_name string")
    with mock.patch.object(L, "load_table", lambda sp, sf, t: names):
        out = {(r.name_a, r.name_b): r.dist
               for r in L.dedup_typo_neighborhood(spark, "ignored").collect()}
    assert ("Supplier#0001", "Supplier#0002") in out          # substitution
    assert ("Supplier#0001", "Suppliers#0001") in out         # insertion
    assert ("Supplier#0001", "Supplier#001") in out           # deletion
    assert all(v == 1 for v in out.values()), out
    assert not any("Acme Corp" in k for k in out), out
    # dist-2 pair (001 vs 0002: delete + substitute) must be absent
    assert ("Supplier#0002", "Suppliers#0001") not in out
    assert ("Supplier#001", "Supplier#0002") not in out or out[
        ("Supplier#001", "Supplier#0002")] <= 1


def test_model_auc_hand_computed(spark):
    """AUC rank-sum with average-rank ties against a hand-computed case:
    scores [1,1,2,3] with labels [0,1,0,1]:
    pairs (pos,neg): (s1,y1) vs (s1,y0) tie -> 0.5; (s1,y1) vs (s2,y0)
    -> 0; (s3,y1) vs both negs -> 1+1. AUC = (0.5+0+1+1)/4 = 0.625."""
    from unittest import mock

    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L

    scored = spark.createDataFrame(
        [(1, 1.0, 0), (2, 1.0, 1), (3, 2.0, 0), (4, 3.0, 1)],
        "doc_id long, logit double, y long",
    )
    model = scored.select("doc_id", "logit")
    with mock.patch.object(
        L, "text_quality_model", lambda sp, sf: model
    ), mock.patch.object(
        L, "_docs",
        lambda sp, sf: scored.selectExpr(
            "doc_id",
            # craft text whose heuristic quality score >= 0.7 iff y=1:
            # a 10-word clean sentence passes all three heuristics
            "CASE WHEN y = 1 THEN 'alpha beta gamma delta epsilon zeta "
            "eta theta iota kappa' ELSE '!!!' END AS text",
        ),
    ):
        row = L.eval_model_auc(spark, "ignored").collect()[0]
    assert row["n_pos"] == 2 and row["n_neg"] == 2, row
    assert abs(row["auc"] - 0.625) < 1e-9, row


def test_cdc_apply_changelog_tombstones(spark, sf_dir):
    """Planted semantics on the real fixture: every surviving key's
    last op is 'U' (tombstoned keys are gone), last_seq is the max
    orderkey of the key's changes, and a key whose max-seq change is a
    delete never appears."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P
    from pyspark.sql import functions as F

    out = P.cdc_apply_changelog(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    ch = o.select(
        (F.col("o_orderkey") % 20000).alias("key"),
        F.col("o_orderkey").alias("seq"),
    )
    last = ch.groupBy("key").agg(F.max("seq").alias("expect_last_seq"))
    joined = out.join(last, "key", "inner").collect()
    assert len(joined) == out.count()  # every output key exists upstream
    for r in joined:
        # output's last_seq == independently recomputed max(seq) per key
        assert r["last_seq"] == r["expect_last_seq"], r
    # tombstone check: keys whose max-seq orderkey % 11 == 0 are absent
    dead = {
        r.key for r in last.filter(F.col("expect_last_seq") % 11 == 0).collect()
    }
    alive = {r.key for r in out.collect()}
    assert not (dead & alive), sorted(dead & alive)[:5]


def test_kfold_splits_deterministic_and_complete(spark, sf_dir):
    """k-fold grid: folds are 0..4, every doc is counted exactly once
    (grid totals == corpus count), and a re-run is bit-identical."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L
    from pyspark.sql import functions as F

    a = L.dataset_kfold_splits(spark, sf_dir)
    rows = a.collect()
    assert {r.fold for r in rows} <= {0, 1, 2, 3, 4}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    b = L.dataset_kfold_splits(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b))


def test_geo_bucket_join_matches_bruteforce(spark):
    """The 9-neighbor grid candidate join must be LOSSLESS for the 50 km
    radius: compare against an all-pairs haversine over a small planted
    point set, including pairs that straddle cell borders AND the
    antimeridian (the ±180 seam the wrapped cell key must cover)."""
    from unittest import mock
    import math

    import pipeline_apache_beam_entrega1_cs_spark.plans.analytics as A

    # user ids chosen so the derived points include close pairs across
    # cell borders and far pairs; plus exhaustive brute force below.
    # The four extra ids derive seam-straddling close pairs under the
    # fixture: (11, 17048) -> lons -179.81 / +179.92 at lat -28.9
    # (26.5 km apart) and (1904, 18941) -> -179.84 / +179.89 at
    # lat -2.2 (30.2 km apart).
    ids = [(i,) for i in range(0, 400, 7)]
    ids += [(11,), (17048,), (1904,), (18941,)]
    ev = spark.createDataFrame(ids, "user_id long")
    with mock.patch.object(A, "_t", lambda sp, sf, t: ev):
        got = {(r.user_a, r.user_b): r.dist_km
               for r in A.geo_bucket_join(spark, "ignored").collect()}

    def pt(u):
        return ((u * 7919 % 12000) / 100 - 60, (u * 104729 % 36000) / 100 - 180)

    def hav(a, b):
        (la1, lo1), (la2, lo2) = pt(a), pt(b)
        p1, p2 = math.radians(la1), math.radians(la2)
        dphi = math.radians(la2 - la1)
        dlmb = math.radians(lo2 - lo1)
        h = (math.sin(dphi / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dlmb / 2) ** 2)
        return round(2 * 6371.0 * math.asin(math.sqrt(h)), 3)

    us = [u for (u,) in ids]
    expect = {(a, b): hav(a, b)
              for i, a in enumerate(us) for b in us[i + 1:]
              if a < b and hav(a, b) <= 50.0}
    assert set(got) == set(expect), (
        sorted(set(expect) - set(got))[:5], sorted(set(got) - set(expect))[:5])
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-6, (k, got[k], v)
    # the seam pairs must actually be exercised, not vacuously absent
    assert (11, 17048) in got and (1904, 18941) in got


def test_mojibake_fix_repairs_all_planted(spark, sf_dir):
    """Every planted artifact is repaired (no mojibake patterns survive
    in clean_text) and the repair is idempotent in character count:
    n_clean_chars == n_dirty_chars - sum(len(bad) - len(good))*counts."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L

    rows = L.text_mojibake_fix(spark, sf_dir).collect()
    assert any(r.n_mojibake > 0 for r in rows)
    for r in rows:
        for bad, _ in L._MOJIBAKE_MAP:
            assert bad not in r.clean_text, (r.doc_id, bad)


def test_weighted_percentile_vs_bruteforce(spark, sf_dir):
    """p25/p50/p75 against a plain-Python weighted-percentile spec on
    the real lineitem slice."""
    from collections import defaultdict

    import pipeline_apache_beam_entrega1_cs_spark.plans.relational2 as R2

    got = {(r.l_returnflag, r.pct): (r.value, r.total_weight)
           for r in R2.agg_weighted_percentile(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_quantity").collect()
    groups = defaultdict(list)
    for r in li:
        groups[r.l_returnflag].append(
            (r.l_extendedprice, r.l_orderkey, r.l_linenumber,
             int(r.l_quantity)))
    for flag, rows in groups.items():
        rows.sort()
        tot = sum(q for *_, q in rows)
        for pct, num, den in (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4)):
            cum = 0
            for price, *_rest, q in rows:
                cum += q
                if den * cum >= num * tot:
                    assert got[(flag, pct)] == (price, tot), (
                        flag, pct, got[(flag, pct)], price, tot)
                    break


def test_snapshot_diff_counts_by_construction(spark, sf_dir):
    """The diff statuses must equal the residue-class construction:
    added = keys with k%10==0 surviving B's %13 filter; removed = keys
    with k%13==0 surviving A's %10 filter; changed = %7==0 keys present
    in both (price doubling) MINUS any whose price is 0 (2*0 == 0 is
    'unchanged'); everything else unchanged."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P
    from pyspark.sql import functions as F

    out = {r.status: r.n_rows
           for r in P.maintenance_snapshot_diff(spark, sf_dir).collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    added = o.filter((k % 10 == 0) & (k % 13 != 0)).count()
    removed = o.filter((k % 10 != 0) & (k % 13 == 0)).count()
    changed = o.filter(
        (k % 10 != 0) & (k % 13 != 0) & (k % 7 == 0)
        & (F.col("o_totalprice") != 0)
    ).count()
    unchanged = o.filter(
        (k % 10 != 0) & (k % 13 != 0)
        & ((k % 7 != 0) | (F.col("o_totalprice") == 0))
    ).count()
    assert out.get("added", 0) == added
    assert out.get("removed", 0) == removed
    assert out.get("changed", 0) == changed
    assert out.get("unchanged", 0) == unchanged


def test_scd2_build_versions_partition_time(spark, sf_dir):
    """SCD2 build invariants on the real change stream: per key exactly
    one open (is_current) version; consecutive versions chain
    (valid_to == next valid_from); version count == change count."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops as P
    from pyspark.sql import functions as F

    scd = P.scd2_build_from_changes(spark, sf_dir)
    n_changes = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert scd.count() == n_changes
    per_key = scd.groupBy("key").agg(
        F.sum(F.col("is_current").cast("long")).alias("n_open"),
    )
    bad = per_key.filter(F.col("n_open") != 1).count()
    assert bad == 0
    # chaining: a closed version's valid_to equals SOME version's
    # valid_from for the same key (sampled check on one key)
    k0 = scd.filter(~F.col("is_current")).select("key").first()
    if k0:
        rows = sorted(
            scd.filter(F.col("key") == k0.key).collect(),
            key=lambda r: (r.valid_from, r.seq),
        )
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from, (a, b)
        assert rows[-1].valid_to is None and rows[-1].is_current


def test_eval_dedup_quality_planted_micro_corpus(spark):
    """Hand-checkable planted corpus: 4 vocabulary-disjoint docs where
    doc 0 gets BOTH a copy and a variant, doc 10 a variant, doc 17 a
    copy -> truth = {(0,1M),(0,2M),(1M,2M),(10,2M+10),(17,1M+17)}.
    exact must find exactly the 2 copy pairs (precision 1, recall 2/5);
    ngram_jaccard must find all 5 (variant shingle Jaccard = 6/8);
    minhash_banded must at least find the identical-signature copy
    pairs."""
    from unittest import mock

    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        3: "red orange yellow green blue indigo violet umber ochre teal",
        10: "one two three four five six seven eight nine ten",
        17: "ant bee cat dog elk fox gnu hen ibis jay",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    with mock.patch.object(L, "_docs", lambda sp, sf: docs):
        rows = {r.method: r for r in L.eval_dedup_quality(spark, "x").collect()}

    assert set(rows) == {"exact", "ngram_jaccard", "minhash_banded"}
    for r in rows.values():
        assert r.n_truth == 5
        # report self-consistency: f1 = 2tp/(n_pred+n_truth), 6dp-rounded
        if r.n_pred + r.n_truth > 0:
            assert abs(r.f1 - 2 * r.tp / (r.n_pred + r.n_truth)) < 5e-7

    ex = rows["exact"]
    assert (ex.n_pred, ex.tp) == (2, 2)
    assert ex.precision == 1.0 and abs(ex.recall - 0.4) < 1e-9

    ng = rows["ngram_jaccard"]
    assert ng.recall == 1.0 and ng.tp == 5
    assert ng.precision == 1.0  # vocab-disjoint docs: no cross FPs

    mh = rows["minhash_banded"]
    assert mh.tp >= 2  # identical signatures always collide


def test_eval_dedup_quality_fixture_properties(spark, sf_dir):
    """On the real documents fixture: truth size matches the planted
    construction, exact recovers every copy pair, exact ngram Jaccard
    reaches full recall (variants keep 4/5 of tokens -> J ~= 0.8 > 0.5),
    and the banded MinHash arm lands in its expected accuracy band."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.llm_data as L
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.trim("text") != ""
    )
    n_copy = docs.filter(F.col("doc_id") % 17 == 0).count()
    n_var = docs.filter(
        (F.col("doc_id") % 10 == 0)
        & (F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 5)
    ).count()
    n_both = docs.filter(
        (F.col("doc_id") % 17 == 0) & (F.col("doc_id") % 10 == 0)
        & (F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 5)
    ).count()
    rows = {r.method: r for r in L.eval_dedup_quality(spark, sf_dir).collect()}
    assert rows["exact"].n_truth == n_copy + n_var + n_both
    assert rows["exact"].tp >= n_copy  # every planted copy pair found
    assert rows["ngram_jaccard"].recall == 1.0
    assert rows["minhash_banded"].recall >= 0.7
    assert rows["minhash_banded"].precision >= 0.6


def _lttb_reference(rows, n_buckets):
    """Pure-Python spec of the PARALLEL LTTB relaxation the plan
    implements (bucket-mean anchors instead of prev-selected point),
    with Steinarsson's triangle area |(px-nx)(ym-py) - (px-x)(ny-py)|.
    rows: (user_id, event_id, epoch_s, micro_value) tuples."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, e, x, ym in rows:
        by_user[u].append((x, e, ym))
    picks = {}
    for u, pts in by_user.items():
        pts.sort()  # (x, event_id) order == the plan's rank window
        n = len(pts)
        buckets = defaultdict(list)
        for rk0, (x, e, ym) in enumerate(pts):
            b = min(n_buckets - 1, int(rk0 * n_buckets / n))
            buckets[b].append((x, e, ym))
        means = {
            b: (sum(p[0] for p in ps) / len(ps), sum(p[2] for p in ps) / len(ps))
            for b, ps in buckets.items()
        }
        for b, ps in buckets.items():
            best = None
            for x, e, ym in ps:
                px, py = means.get(b - 1, (float(x), float(ym)))
                nx, ny = means.get(b + 1, (float(x), float(ym)))
                area2 = abs((px - nx) * (ym - py) - (px - x) * (ny - py))
                key = (-area2, e)
                if best is None or key < best[0]:
                    best = (key, (u, b, e))
            picks[(u, best[1][1])] = best[1][2]
    return picks


def test_lttb_triangle_area_hand_check():
    """The exact case from the round-9 advisory: A=(0,0), B=(2,3),
    C=(5,1) has 2*area = |(0-5)(3-0) - (0-2)(1-0)| = 13 (the buggy
    |(px-nx)(ym-ny) - (px-x)(py-ny)| form gives 12)."""
    picks = _lttb_reference([(1, 0, 2, 3)], 1)
    assert picks == {(1, 0): 0}  # plumbing sanity
    px, py, x, ym, nx, ny = 0, 0, 2, 3, 5, 1
    assert abs((px - nx) * (ym - py) - (px - x) * (ny - py)) == 13


def test_lttb_downsample_matches_reference(spark):
    """timeseries_lttb_downsample must pick exactly the points the
    pure-Python parallel-LTTB spec picks, on a planted 2-user series
    where the buggy and correct area formulas disagree."""
    import math
    from unittest import mock

    import pipeline_apache_beam_entrega1_cs_spark.plans.analytics as A

    rows = []
    for u in (1, 2):
        for i in range(300):
            epoch = 1_700_000_000 + i * 60 + (u * 977 + i * i * 37) % 53
            value = math.sin(i / 7.0 + u) * 100 + ((i * 2654435761) % 997) / 9.7
            rows.append((u, u * 1000 + i, epoch, float(value)))
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, epoch long, value double"
    ).select(
        "user_id", "event_id",
        F.timestamp_seconds("epoch").alias("ts"), "value",
    )
    with mock.patch.object(A, "_t", lambda sp, sf, t: ev):
        got = {
            (r.user_id, r.bucket): r.event_id
            for r in A.timeseries_lttb_downsample(spark, "ignored").collect()
        }
    micro = [
        (u, e, x, math.floor(v * 1_000_000)) for (u, e, x, v) in rows
    ]
    expect = _lttb_reference(micro, A._LTTB_BUCKETS)
    assert got == expect, {
        k: (got.get(k), expect.get(k))
        for k in set(got) ^ set(expect) | {
            k for k in expect if got.get(k) != expect[k]
        }
    }


def test_dau_cumulative_monotone_and_bounded(spark, sf_dir):
    """DAU report invariants: cumulative is nondecreasing, ends at the
    total distinct-user count, and n_new_users sums to it; dau <=
    cumulative at every day."""
    import pipeline_apache_beam_entrega1_cs_spark.plans.analytics as A
    from pyspark.sql import functions as F

    rows = sorted(
        A.analytics_dau_cumulative(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    total_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert rows[-1].cumulative_users == total_users
    assert sum(r.n_new_users for r in rows) == total_users
    prev = 0
    for r in rows:
        assert r.cumulative_users >= prev
        assert r.dau <= r.cumulative_users
        prev = r.cumulative_users


# ---------------------------------------------------------------------------
# Round-11 additions
# ---------------------------------------------------------------------------

def test_lsh_bucket_stats_matches_bruteforce(spark, sf_dir):
    """Per-band bucket stats equal a Python recompute over the exact
    banded frame the dedup pass uses (shared _banded_keys), and the
    candidate-pair count is the sum of C(size, 2) over joinable
    buckets."""
    from collections import Counter
    from pipeline_apache_beam_entrega1_cs_spark.operators import dedup as D
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        dedup_lsh_bucket_stats,
    )

    got = {r.band: r for r in dedup_lsh_bucket_stats(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arr = D._shingle_arrays(docs, 3).filter(F.col("n_sh") > 0)
    xs = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % D._MINHASH_P,
    )
    banded = D._banded_keys(arr.select("doc_id", xs.alias("xs")), 16, 4)
    sizes = Counter(
        (r.band, r.band_key) for r in banded.select("band", "band_key").collect()
    )
    for band in range(4):
        szs = [v for (b, _), v in sizes.items() if b == band]
        r = got[band]
        assert r.n_buckets == len(szs)
        assert r.n_singleton == sum(1 for s in szs if s == 1)
        assert r.max_bucket_size == max(szs)
        assert r.n_candidate_pairs == sum(
            s * (s - 1) // 2 for s in szs if 2 <= s <= 100
        )
        assert r.n_capped_buckets == sum(1 for s in szs if s > 100)
        assert r.n_docs_in_capped == sum(s for s in szs if s > 100)


def test_gopher_filters_planted_documents(spark, tmp_path):
    """Gopher metrics and flags on planted documents with known
    properties: a bullet list, an ellipsis-heavy doc, a symbol-laden
    doc, a too-short doc, a stopword-free doc, and a healthy doc."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        text_gopher_quality_filters,
    )

    healthy = ("the quick brown fox jumps over that lazy dog and then "
               "rests with a friend of his to have some tea ") * 3
    rows = [
        (0, healthy, "en", "s", len(healthy)),
        (1, "- one\n- two\n- three\n* four", "en", "s", 26),
        (2, "wait...\nmore...\nfine", "en", "s", 20),
        (3, "### ## # word " * 20, "en", "s", 280),
        (4, "too short to pass", "en", "s", 17),
        (5, ("zz yy xx ww vv uu tt ss rr qq " * 10), "en", "s", 300),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r
           for r in text_gopher_quality_filters(spark, str(tmp_path)).collect()}

    h = got[0]
    assert h.n_words == 63 and h.word_count_ok and h.stopword_ok
    assert h.gopher_pass == (
        h.word_count_ok and h.mwl_ok and h.symbol_ok and h.bullet_ok
        and h.ellipsis_ok and h.alpha_ok and h.stopword_ok)
    # stopword hits are DISTINCT stopwords present
    assert h.stopword_hits == len(
        {"the", "that", "and", "with", "to", "of", "have"})
    b = got[1]
    assert b.bullet_line_frac == 1.0 and not b.bullet_ok
    e = got[2]
    assert abs(e.ellipsis_line_frac - 2 / 3) < 1e-6 and not e.ellipsis_ok
    s = got[3]
    assert s.symbol_to_word_ratio > 0.1 and not s.symbol_ok
    assert not s.alpha_ok  # '###' tokens carry no alphabetic char
    t = got[4]
    assert t.n_words == 4 and not t.word_count_ok and not t.gopher_pass
    z = got[5]
    assert z.stopword_hits == 0 and not z.stopword_ok


def test_zipf_fit_matches_numpy(spark, sf_dir):
    """The decimal-moment OLS equals numpy's lstsq on the same
    (ln rank, ln freq) points."""
    import math
    import numpy as np
    from collections import Counter
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _ZIPF_K,
        text_zipf_tail_fit,
    )

    r = text_zipf_tail_fit(spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    cnt = Counter()
    for d in docs:
        t = (d.text or "").strip().lower()
        if t:
            cnt.update(t.split())
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_K]
    x = np.array([round(math.log(i + 1), 12) for i in range(len(top))])
    y = np.array([round(math.log(f), 12) for _, f in top])
    A = np.vstack([x, np.ones(len(x))]).T
    (slope, intercept), res, *_ = np.linalg.lstsq(A, y, rcond=None)
    assert r.n_fit == len(top)
    assert abs(r.zipf_slope - slope) < 1e-5
    assert abs(r.intercept - intercept) < 1e-5
    corr = np.corrcoef(x, y)[0, 1]
    assert abs(r.r2 - corr * corr) < 1e-5
    assert r.zipf_slope < 0  # frequency decays with rank


def test_coverage_curve_matches_python(spark, sf_dir):
    """Coverage at each budget equals a Counter recompute; coverage is
    monotone in K and hits 1.0 once K >= vocabulary size."""
    from collections import Counter
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _COVERAGE_KS,
        text_token_coverage_curve,
    )

    rows = {r.k: r
            for r in text_token_coverage_curve(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    cnt = Counter()
    for d in docs:
        t = (d.text or "").strip().lower()
        if t:
            cnt.update(t.split())
    total = sum(cnt.values())
    freqs = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    prev_cov = 0.0
    for k in _COVERAGE_KS:
        r = rows[k]
        covered = sum(f for _, f in freqs[:k])
        assert r.covered_occurrences == covered
        assert r.types_in_budget == min(k, len(freqs))
        assert r.total_occurrences == total
        assert r.vocab_size == len(freqs)
        assert abs(r.coverage - round(covered / total, 6)) < 1e-9
        assert r.coverage >= prev_cov
        prev_cov = r.coverage
    if max(_COVERAGE_KS) >= len(freqs):
        assert rows[max(_COVERAGE_KS)].coverage == 1.0


def test_brier_decomposition_matches_python(spark, sf_dir):
    """Components equal a Python recompute with the same binning; the
    3-term Murphy identity holds up to the reported gap; uncertainty
    is the base-rate variance."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _BRIER_BINS,
        _BRIER_HI,
        _BRIER_LO,
        _CALIB_QTH,
        eval_brier_decomposition,
        text_quality_model,
    )
    from pipeline_apache_beam_entrega1_cs_spark.operators import textops as T

    r = eval_brier_decomposition(spark, sf_dir).collect()[0]
    scored = {x.doc_id: x.logit
              for x in text_quality_model(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labels = {
        x.doc_id: int(x.y)
        for x in docs.select(
            "doc_id",
            (T.quality_score_col(F.col("text")) >= _CALIB_QTH).alias("y"),
        ).collect()
    }
    pts = [
        (round(min(max((scored[d] - _BRIER_LO) / (_BRIER_HI - _BRIER_LO), 0.0),
                   1.0), 6), labels[d])
        for d in scored
    ]
    n = len(pts)
    ybar = sum(y for _, y in pts) / n
    brier = sum((p - y) ** 2 for p, y in pts) / n
    bins = {}
    for p, y in pts:
        b = min(int(p * _BRIER_BINS), _BRIER_BINS - 1)
        bins.setdefault(b, []).append((p, y))
    rel = sum(
        len(v) * (sum(p for p, _ in v) / len(v)
                  - sum(y for _, y in v) / len(v)) ** 2
        for v in bins.values()
    ) / n
    res = sum(
        len(v) * (sum(y for _, y in v) / len(v) - ybar) ** 2
        for v in bins.values()
    ) / n
    unc = ybar * (1 - ybar)
    assert r.n == n
    assert abs(r.brier - brier) < 1e-6
    assert abs(r.reliability - rel) < 1e-6
    assert abs(r.resolution - res) < 1e-6
    assert abs(r.uncertainty - unc) < 1e-6
    # Murphy identity holds exactly up to the reported within-bin gap
    assert abs(r.brier - (r.reliability - r.resolution + r.uncertainty)
               - r.decomposition_gap) < 2e-6


def test_ece_matches_python(spark, sf_dir):
    """ECE/MCE equal a Python recompute with the same binning; both are
    bounded by [0, 1] and MCE >= ECE."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _BRIER_BINS,
        _BRIER_HI,
        _BRIER_LO,
        _CALIB_QTH,
        eval_expected_calibration_error,
        text_quality_model,
    )
    from pipeline_apache_beam_entrega1_cs_spark.operators import textops as T

    r = eval_expected_calibration_error(spark, sf_dir).collect()[0]
    scored = {x.doc_id: x.logit
              for x in text_quality_model(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labels = {
        x.doc_id: int(x.y)
        for x in docs.select(
            "doc_id",
            (T.quality_score_col(F.col("text")) >= _CALIB_QTH).alias("y"),
        ).collect()
    }
    bins = {}
    for d, logit in scored.items():
        p = round(min(max((logit - _BRIER_LO) / (_BRIER_HI - _BRIER_LO), 0.0),
                      1.0), 6)
        b = min(int(p * _BRIER_BINS), _BRIER_BINS - 1)
        bins.setdefault(b, []).append((p, labels[d]))
    n = sum(len(v) for v in bins.values())
    gaps = {
        b: abs(sum(p for p, _ in v) / len(v) - sum(y for _, y in v) / len(v))
        for b, v in bins.items()
    }
    ece = sum(len(bins[b]) * g for b, g in gaps.items()) / n
    mce = max(gaps.values())
    assert r.n == n and r.n_nonempty_bins == len(bins)
    assert abs(r.ece - ece) < 1e-6
    assert abs(r.mce - mce) < 1e-6
    assert 0.0 <= r.ece <= r.mce <= 1.0


def test_fertility_matches_python(spark, sf_dir):
    """Per-source fertility equals a recompute from the per-doc token
    cost model, and the totals conserve."""
    from collections import defaultdict
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        text_bpe_token_count,
        text_tokenizer_fertility,
    )

    rows = {r.source: r
            for r in text_tokenizer_fertility(spark, sf_dir).collect()}
    per_doc = text_bpe_token_count(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars").collect()
    meta = {d.doc_id: d for d in docs}
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, ws, bpe, chars
    for r in per_doc:
        m = meta[r.doc_id]
        a = agg[m.source]
        a[0] += 1
        a[1] += r.n_ws_tokens
        a[2] += r.n_bpe_tokens
        a[3] += m.n_chars if r.n_bpe_tokens > 0 else 0
    for src, (nd, ws, bpe, ch) in agg.items():
        r = rows[src]
        assert (r.n_docs, r.ws_tokens, r.bpe_tokens) == (nd, ws, bpe)
        assert abs(r.fertility - round(bpe / ws, 6)) < 1e-9
        assert abs(r.chars_per_token - round(ch / bpe, 6)) < 1e-9


def test_cosine_sweep_matches_numpy_and_is_monotone(spark, sf_dir):
    """Cumulative pair counts per threshold equal a numpy recompute
    over the label-blocked pairs (with the md5-ordered per-block cap
    replicated), counts are non-increasing in the threshold, and the
    reported cap losses equal the recomputed ones."""
    import hashlib
    import numpy as np
    from collections import defaultdict
    from pipeline_apache_beam_entrega1_cs_spark.plans.llm_data import (
        _COS_BLOCK_CAP,
        _COS_SWEEP_PCTS,
        dedup_cosine_threshold_sweep,
    )

    got = {r.threshold_pct: r
           for r in dedup_cosine_threshold_sweep(spark, sf_dir).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    by_label = defaultdict(list)
    for e in emb:
        by_label[e.label].append((e.vec_id, np.array(e.embedding, float)))
    sims = []
    n_capped = n_dropped = 0
    for vs in by_label.values():
        if len(vs) > _COS_BLOCK_CAP:
            n_capped += 1
            n_dropped += len(vs) - _COS_BLOCK_CAP
        # the deterministic cap: rank by (md5 hex of vec_id, vec_id)
        vs.sort(key=lambda t: (
            hashlib.md5(str(t[0]).encode()).hexdigest(), t[0]))
        vs = sorted(vs[:_COS_BLOCK_CAP])
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                a, b = vs[i][1], vs[j][1]
                sims.append(round(
                    float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))),
                    6))
    prev = None
    for pct in _COS_SWEEP_PCTS:
        hits = [s for s in sims if s >= pct / 100.0]
        if not hits:
            assert pct not in got
            continue
        r = got[pct]
        assert r.n_pairs == len(hits), pct
        assert abs(r.mean_cos_sim - round(sum(hits) / len(hits), 6)) < 1e-5
        assert (r.n_capped_blocks, r.n_rows_dropped) == (n_capped, n_dropped)
        if prev is not None:
            assert r.n_pairs <= prev
        prev = r.n_pairs


def test_cosine_block_cap_binds_and_is_deterministic(spark):
    """With a cap smaller than a block, embedding_cosine_pairs keeps
    exactly C(cap,2) pairs per block from the md5-ordered sample, the
    kept set is stable across runs, and capping never INVENTS pairs:
    the capped pair set is a subset of the uncapped one."""
    import hashlib
    from pipeline_apache_beam_entrega1_cs_spark.operators import (
        similarity as S,
    )

    rows = [(i, "A", [float(i % 7 + 1), 1.0]) for i in range(10)] + [
        (100 + i, "B", [1.0, float(i % 5 + 1)]) for i in range(3)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, label STRING, embedding ARRAY<DOUBLE>"
    )
    capped = S.embedding_cosine_pairs(
        emb, block_col="label", threshold=-1.0, block_cap=4
    ).collect()
    uncapped = S.embedding_cosine_pairs(
        emb, block_col="label", threshold=-1.0
    ).collect()
    # block A (10 rows) -> C(4,2)=6 pairs; block B (3 rows) uncapped -> 3
    assert len(capped) == 6 + 3
    assert len(uncapped) == 45 + 3
    assert {(r.vec_a, r.vec_b) for r in capped} <= {
        (r.vec_a, r.vec_b) for r in uncapped
    }
    # the kept-set rule is the md5 order, reproducible in pure python
    keep = sorted(
        range(10),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:4]
    a_ids = {v for r in capped for v in (r.vec_a, r.vec_b) if v < 100}
    assert a_ids == set(keep)


def test_riff_walker_matches_struct_walk_and_detects_corruption(spark):
    """The RIFF chunk walk equals a Python struct walk on planted
    payloads, honors odd-size padding between chunks, and a corrupted
    size field breaks the end_ok check."""
    import struct
    from pipeline_apache_beam_entrega1_cs_spark.operators import (
        multimodal as M,
    )

    def riff(chunks, corrupt_first_size=False):
        body = b""
        for fourcc, data in chunks:
            size = len(data)
            if corrupt_first_size and not body:
                size += 7
            body += fourcc + struct.pack("<I", size) + data
            if len(data) % 2 == 1:
                body += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    payloads = [
        # odd-size first chunk: the walker must add the pad byte to
        # reach the second chunk's header
        (0, riff([(b"fmt ", b"\x01\x02\x03"), (b"data", b"abcdef")])),
        (1, riff([(b"fmt ", b"\x00" * 16), (b"data", b"hello world")])),
        (2, riff([(b"fmt ", b"\x00" * 16)], corrupt_first_size=True)),
        (3, b"plain text, not a container"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = M.riff_chunk_index(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)

    d0 = sorted(by_doc[0], key=lambda r: r.chunk_idx)
    assert [(r.fourcc, r.chunk_size, r.chunk_offset) for r in d0] == [
        ("fmt ", 3, 12), ("data", 6, 24)]  # 12+8+3+1(pad)=24
    assert all(r.end_ok for r in d0)
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [(r.fourcc, r.chunk_size) for r in d1] == [("fmt ", 16),
                                                      ("data", 11)]
    assert all(r.end_ok for r in d1)  # odd final chunk: end lands +1
    assert all(r.end_ok is False for r in by_doc[2])  # corrupted size
    assert by_doc[3][0].is_riff == 0 and by_doc[3][0].fourcc is None


def _lsh_expression_pairs(embeddings, threshold):
    """Reference arm for ``embedding_cosine_pairs_lsh`` at its defaults:
    the same buckets (``_lsh_buckets``) and cell cap, verified by a
    plain expression pipeline — id-only bucket explode, candidate
    self-join, id-pair distinct, embedding re-attach and an interpreted
    Catalyst cosine fold."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        _lsh_buckets,
        cosine,
    )

    vecs, buckets = _lsh_buckets(embeddings, 4.0, 6, 42, None)
    hashed = vecs.select(
        "vec_id", F.posexplode(buckets).alias("tbl", "bucket")
    )
    live = (
        hashed.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter((F.col("_bsz") >= 2) & (F.col("_bsz") <= 1024))
        .select("tbl", "bucket")
    )
    pruned = hashed.join(live, ["tbl", "bucket"])
    a = pruned.select("tbl", "bucket", F.col("vec_id").alias("vec_a"))
    b = pruned.select("tbl", "bucket", F.col("vec_id").alias("vec_b"))
    pair_ids = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = vecs.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    eb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    cand = pair_ids.join(ea, "vec_a").join(eb, "vec_b")
    return cand.select(
        "vec_a",
        "vec_b",
        F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def test_cosine_lsh_dim_guard_and_ab_paths_agree(spark, sf_dir):
    """(1) The operator's per-cell arrow verify and the expression
    pipeline over the same buckets must agree pair-for-pair INCLUDING
    the rounded cosine (common HALF_UP rounding); (2) dim is derived
    from the data by default; (3) a ragged / wrong-dim corpus must fail
    loudly instead of silently returning zero pairs (zip_with
    null-padding trap)."""
    import pytest

    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fast = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in embedding_cosine_pairs_lsh(emb, threshold=0.35).collect()
    }
    slow = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in _lsh_expression_pairs(emb, threshold=0.35).collect()
    }
    assert fast.keys() == slow.keys()
    for k, v in fast.items():
        assert abs(v - slow[k]) < 1e-12, (k, v, slow[k])

    # wrong explicit dim → every row trips the in-plan guard
    with pytest.raises(Exception) as ei:
        embedding_cosine_pairs_lsh(emb, threshold=0.35, dim=7).collect()
    assert "dim" in str(ei.value)

    # ragged corpus → loud failure, not silent row drop
    ragged = emb.limit(20).union(
        emb.limit(1).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.slice("embedding", 1, 3).alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ).select(*emb.columns)
    )
    with pytest.raises(Exception):
        embedding_cosine_pairs_lsh(ragged, threshold=0.35).collect()


def test_cosine_lsh_dim_probe_tolerates_null_embeddings(spark, sf_dir):
    """ADVICE r13: the dim-inference probe must skip NULL embeddings
    (size(NULL) is null, and int(None) used to raise a bare TypeError
    before the in-plan guard could speak) and raise a labeled
    ValueError when no usable probe exists."""
    import pytest

    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    cols = [c for c in emb.columns if c != "embedding"]

    # A NULL-embedding row in front must not break dim inference...
    null_row = emb.limit(1).select(
        *[(F.col(c) + 10_000_000).alias(c) if c == "vec_id" else F.col(c)
          for c in cols],
        F.lit(None).cast("array<double>").alias("embedding"),
    ).select(*emb.columns)
    mixed = null_row.union(emb)
    # ...the probe skips it; the in-plan guard then (correctly, loudly)
    # rejects the null row itself as a dim violation.
    with pytest.raises(Exception) as ei:
        embedding_cosine_pairs_lsh(mixed, threshold=0.35).collect()
    assert "dim" in str(ei.value) or "embedding length" in str(ei.value)
    # Dropping nulls first works end-to-end.
    got = embedding_cosine_pairs_lsh(
        mixed.where(F.col("embedding").isNotNull()), threshold=0.35
    ).collect()
    assert isinstance(got, list)

    # Probe row with an EMPTY embedding -> labeled ValueError, not a
    # TypeError from int(None)/int(0)-ambiguity.
    empty = emb.select(
        "vec_id",
        F.array().cast("array<double>").alias("embedding"),
        *[c for c in cols if c != "vec_id"],
    ).select(*emb.columns)
    with pytest.raises(ValueError, match="infer embedding dim"):
        embedding_cosine_pairs_lsh(empty, threshold=0.35)

    # All-NULL non-empty corpus: dim inference succeeds (fallback 1),
    # then the in-plan guard rejects the null rows LOUDLY at execution
    # — never a silent zero-pair result.
    all_null = emb.select(
        "vec_id",
        F.lit(None).cast("array<double>").alias("embedding"),
        *[c for c in cols if c != "vec_id"],
    ).select(*emb.columns)
    with pytest.raises(Exception):
        embedding_cosine_pairs_lsh(all_null, threshold=0.35).collect()

    # Truly EMPTY input: planes moot, empty output, no crash.
    assert embedding_cosine_pairs_lsh(
        emb.limit(0), threshold=0.35
    ).count() == 0

    # ADVICE r14: an EMPTY-embedding row that happens to be the
    # partition-order-first probe must NOT mask valid rows behind it —
    # dim inference is data-layout-independent. The empty row itself
    # then trips the in-plan guard loudly at execution, same as any
    # other wrong-dim row.
    empty_first = empty.limit(1).select(
        *[(F.col(c) + 20_000_000).alias(c) if c == "vec_id" else F.col(c)
          for c in emb.columns]
    ).select(*emb.columns).union(emb)
    with pytest.raises(Exception) as ei:
        embedding_cosine_pairs_lsh(empty_first, threshold=0.35).collect()
    assert "embedding length" in str(ei.value)
    # With the empty row removed, the same corpus works end-to-end.
    got2 = embedding_cosine_pairs_lsh(
        empty_first.where(F.size("embedding") > 0), threshold=0.35
    ).collect()
    assert isinstance(got2, list)


def test_cosine_lsh_duplicate_vec_id_pairs_match_expression_path(spark, sf_dir):
    """Two distinct rows sharing a vec_id land in the same bucket cell
    (identical embedding -> identical bucket keys); the arrow verify's
    triu pair enumeration must NOT emit the (x, x) id pair that the
    expression pipeline's strict ``vec_a < vec_b`` filter drops — the
    A/B contract holds even on non-unique vec_id input."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(20)
    # the min-vec_id row again: same vec_id AND same embedding
    dup = emb.orderBy("vec_id").limit(1)
    corpus = emb.union(dup)
    ids = [r.vec_id for r in corpus.select("vec_id").collect()]
    assert len(ids) == 21 and len(set(ids)) == 20, "no repeated vec_id"

    fast = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in embedding_cosine_pairs_lsh(corpus, threshold=0.35).collect()
    }
    slow = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in _lsh_expression_pairs(corpus, threshold=0.35).collect()
    }
    assert all(a < b for a, b in fast), "self-pair leaked through"
    assert fast.keys() == slow.keys()
    for k, v in fast.items():
        assert abs(v - slow[k]) < 1e-12, (k, v, slow[k])
