"""LLM-training-data operator registry (SURVEY.md §2B: dedup, similarity
search, text analysis, multimodal columns) over the documents and
embeddings tables.

Oracle policy: everything algorithmically deterministic gets full SQL
parity (including SimHash — its md5-derived bits are reproduced in SQL);
LSH-familia ops (MinHashLSH, BucketedRandomProjectionLSH) are rows-only
with recall asserted against exact baselines in tests.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import _dec_to_double
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import textops as T
from ..operators.textops import LANG_MARKERS
from ..schemas import driver_frame, load_table
from .spec import QuerySpec

_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

# Shared SQL fragments (single source for every oracle that re-derives
# these from raw text — mirrors textops.quality_score_col/fingerprint_col
# on the Spark side).
_SQL_NTOK = f"(CASE WHEN trim(lower(text)) = '' THEN 0 ELSE len({_TOKS}) END)"
_SQL_PUNCT_RATIO = (
    "(CASE WHEN length(text) > 0 THEN "
    "(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE"
    " / length(text) ELSE 0.0 END)"
)
_SQL_MWL = (
    f"(CASE WHEN {_SQL_NTOK} > 0 THEN "
    f"(length(text) - {_SQL_NTOK} + 1)::DOUBLE / {_SQL_NTOK} ELSE 0.0 END)"
)
_SQL_QSCORE = (
    f"CAST(round(CASE WHEN {_SQL_NTOK} BETWEEN 5 AND 5000 THEN 0.4::DOUBLE ELSE 0.0 END"
    f" + CASE WHEN {_SQL_PUNCT_RATIO} < 0.2 THEN 0.3::DOUBLE ELSE 0.0 END"
    f" + CASE WHEN {_SQL_MWL} BETWEEN 3 AND 12 THEN 0.3::DOUBLE ELSE 0.0 END, 1) AS DOUBLE)"
)
_SQL_FP = (
    f"md5(array_to_string(list_sort(list_distinct("
    f"CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END)), ' '))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs(spark, sf_dir)).withColumn(
        "text_len", F.col("text_len").cast("long")
    )


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies,
       CAST(length(text) AS BIGINT) AS text_len
FROM documents GROUP BY text
"""


def dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.hash_dedup(_docs(spark, sf_dir))


DEDUP_HASH_SQL = r"""
SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# The oracles' word-3-gram shingle CTEs: ``toks`` (whitespace tokens of
# each non-blank document) and ``sh`` (its distinct shingles).
_SHINGLES_SQL = rf"""toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS g(i)
)"""


def _shingle_pairs_sql(pairs: str) -> str:
    """_SHINGLES_SQL plus the capped shingle index of
    operators/dedup.ngram_jaccard_pairs: ``sizes`` (shingles per doc),
    ``kept`` (shingles in <= 100 docs), ``shc``, and the CTE named
    ``pairs`` — per doc pair, the count of shared kept shingles."""
    return _SHINGLES_SQL + f""", sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), kept AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100
), shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)
), {pairs} AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shc a JOIN shc b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5, max_df=100)


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_shingle_pairs_sql("pairs")}
SELECT doc_a, doc_b, n_common,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs
    (operators/dedup.containment_pairs): Broder containment
    |A∩B|/|A| in both directions over the same frequency-capped shingle
    index as dedup_ngram_jaccard — the short-doc-quoted-in-long-doc
    case a symmetric Jaccard threshold structurally misses."""
    return D.containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.8, max_df=100)


DEDUP_CONTAINMENT_SQL = f"""
WITH {_shingle_pairs_sql("pairs")}, scored AS (
  SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
         round(n_common::DOUBLE / sa.n_sh, 6) AS containment_a_in_b,
         round(n_common::DOUBLE / sb.n_sh, 6) AS containment_b_in_a,
         round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)
SELECT * FROM scored
WHERE greatest(containment_a_in_b, containment_b_in_a) >= 0.8
"""


def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix
    (operators/dedup.cross_source_overlap): per source pair, the count
    of shared per-document min-shingle fingerprints (a 1-hash MinHash —
    collision probability ≈ Jaccard) with overlap = shared /
    min(|A|, |B|) — the mixture-weighting diagnostic run before fixing
    per-source sampling rates. Exact text equality finds ZERO
    cross-source pairs on this corpus; the min-shingle collision rate
    surfaces the near-dup structure a source-level report needs."""
    return D.cross_source_overlap(_docs(spark, sf_dir), n=3)


DEDUP_CROSS_SOURCE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), sh AS (
  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS g(i)
), fp AS (
  SELECT doc_id, source, MIN(md5(shingle)) AS fp
  FROM sh GROUP BY doc_id, source
), fs AS (
  SELECT DISTINCT source, fp FROM fp
), totals AS (
  SELECT source, COUNT(DISTINCT fp) AS n_fp FROM fs GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(DISTINCT a.fp) AS n_shared_fp
  FROM fs a JOIN fs b USING (fp)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared_fp,
       ta.n_fp AS n_fp_a, tb.n_fp AS n_fp_b,
       round(n_shared_fp::DOUBLE / least(ta.n_fp, tb.n_fp), 6) AS overlap
FROM pairs
JOIN totals ta ON source_a = ta.source
JOIN totals tb ON source_b = tb.source
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_docs(spark, sf_dir), bits=32)


DEDUP_SIMHASH_SQL = rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, t AS tok
  FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> '' AND t <> ''
), h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hv FROM tok
), bits AS (
  SELECT doc_id, b.bit AS bit, ((hv >> b.bit) & 1) * 2 - 1 AS c
  FROM h, UNNEST(generate_series(0, 31)) AS b(bit)
), agg AS (
  SELECT doc_id, bit, SUM(c) AS s FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
         AS simhash
FROM agg GROUP BY doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


# Per-block cap for label-blocked cosine pair generation: labels have
# fixed cardinality, so uncapped pairs grow quadratically with data
# volume. 64 keeps every test-SF block intact
# at sf<=0.01 (max block 63) while flattening the sf0.1 growth (max
# block 218 -> 64, i.e. C(218,2)=23.6k -> C(64,2)=2.0k pairs/block).
# The cap is a deterministic md5(vec_id)-ordered sample replicated
# verbatim in the DuckDB oracles; losses are REPORTED by
# dedup_cosine_threshold_sweep (n_capped_blocks / n_rows_dropped).
_COS_BLOCK_CAP = 64

_COS_CAPPED_CTE = f"""
WITH e0 AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         row_number() OVER (
           PARTITION BY label
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS _rk
  FROM embeddings
), e AS (
  SELECT vec_id, label, emb FROM e0 WHERE _rk <= {_COS_BLOCK_CAP}
)"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_cosine_pairs(
        _emb(spark, sf_dir),
        block_col="label",
        threshold=0.35,
        block_cap=_COS_BLOCK_CAP,
    )


def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucket-blocked variant: pair generation bounded by bucket
    population (geometry), not by a semantic label's skew — the shape
    that survives 100 TB. Recall vs exact all-pairs asserted in tests."""
    return S.embedding_cosine_pairs_lsh(_emb(spark, sf_dir), threshold=0.35)


DEDUP_EMBEDDING_COSINE_SQL = f"""
{_COS_CAPPED_CTE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.35
"""


_STITCH_K = 8


def dedup_boundary_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-stitch detection (operators/dedup.boundary_stitch_pairs):
    pairs where one doc's LAST 8 tokens equal another's FIRST 8 —
    split-document halves that exact dedup can never catch."""
    return D.boundary_stitch_pairs(_docs(spark, sf_dir), k=_STITCH_K)


DEDUP_BOUNDARY_STITCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), base AS (
  SELECT doc_id, tk FROM toks WHERE len(tk) >= {_STITCH_K}
), heads AS (
  SELECT doc_id AS doc_head,
         md5(array_to_string(tk[1:{_STITCH_K}], ' ')) AS h
  FROM base
), tails AS (
  SELECT doc_id AS doc_tail,
         md5(array_to_string(tk[(len(tk) - {_STITCH_K - 1}):len(tk)], ' '))
           AS h
  FROM base
), heads_c AS (
  SELECT doc_head, h FROM heads
  WHERE h IN (SELECT h FROM heads GROUP BY h HAVING COUNT(*) <= 10)
), tails_c AS (
  SELECT doc_tail, h FROM tails
  WHERE h IN (SELECT h FROM tails GROUP BY h HAVING COUNT(*) <= 10)
)
SELECT t.doc_tail, hd.doc_head, t.h AS boundary_md5
FROM tails_c t JOIN heads_c hd USING (h)
WHERE t.doc_tail <> hd.doc_head
"""


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: deterministic k-means partitions the embedding space,
    then within-cluster cosine >= tau marks larger-id vectors as dups
    (operators/similarity.semantic_cluster_dedup). The semantic-level
    complement of dedup_embedding_cosine's label blocking: the blocking
    key is LEARNED from geometry, so it needs no metadata column and
    its population balance is controlled by k."""
    return S.semantic_cluster_dedup(
        _emb(spark, sf_dir), k=8, iters=2, threshold=0.35
    )


def _semantic_dedup_sql(k: int = 8, iters: int = 2,
                        threshold: float = 0.35) -> str:
    ctes, cfinal = _kmeans_ctes(k, iters)
    return ctes + f""", assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT v.vec_id, v.v, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM v, {cfinal} c
  ) WHERE rn = 1
), close AS (
  SELECT b.vec_id AS vec_b, COUNT(*) AS n_close
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
  GROUP BY b.vec_id
)
SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
       (c.n_close IS NOT NULL) AS is_dup,
       COALESCE(c.n_close, CAST(0 AS BIGINT)) AS n_close
FROM assigned s LEFT JOIN close c ON c.vec_b = s.vec_id
"""


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

QUERY_IDS = list(range(10))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(_emb(spark, sf_dir), QUERY_IDS, k=5)


ANN_COSINE_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(q.qe, e.emb), 6) AS cos_sim
  FROM q JOIN e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, cand_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


def ann_truncated_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style two-stage retrieval
    (operators/similarity.truncated_rescore_topk): coarse top-64 on the
    first 32 of 64 dimensions, exact full-dim cosine re-score to top-5 —
    the dimension-axis pruning counterpart of IVF's row-axis pruning
    (MRL embeddings concentrate signal in the prefix, so the coarse
    pass reads half the vector bytes (iid synthetic embeddings; an MRL
    checkpoint supports a far shorter prefix)). Deterministic 6-dp
    scores + cand_id tie-breaks at both stages, so the whole two-stage
    plan value-hash-matches the SQL oracle."""
    return S.truncated_rescore_topk(
        load_table(spark, sf_dir, "embeddings"), list(range(10))
    )


ANN_TRUNCATED_RESCORE_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10
), coarse AS (
  SELECT q.query_id, e.vec_id AS cand_id, q.qe, e.emb,
         round(list_cosine_similarity(q.qe[1:32], e.emb[1:32]), 6) AS coarse_sim
  FROM q JOIN e ON e.vec_id <> q.query_id
), cr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY coarse_sim DESC, cand_id ASC) AS crk
  FROM coarse
), rescored AS (
  SELECT query_id, cand_id, coarse_sim,
         round(list_cosine_similarity(qe, emb), 6) AS cos_sim
  FROM cr WHERE crk <= 64
), ranked AS (
  SELECT query_id, cand_id, coarse_sim, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
  FROM rescored
)
SELECT query_id, cand_id, coarse_sim, cos_sim, rank FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# Retrieval evaluation: recall@k + nDCG@k of the IVF index vs exact top-k
# --------------------------------------------------------------------------

_EVAL_K = 5
# 1/log2(rank+1) DCG discounts as exact integer nano-units, so both
# engines sum BIGINTs (partition-order independent; a double SUM of the
# discounts would be order-sensitive and engine-divergent in the last
# ulp of log2). Computed once at import from the published formula.
_NDCG_W_NANO = {
    r: int(round(1e9 / _math.log2(r + 1))) for r in range(1, _EVAL_K + 1)
}
_IDCG_NANO = sum(_NDCG_W_NANO.values())


def eval_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as a first-class operator: per-query
    recall@5 and (binary-relevance) nDCG@5 of the deterministic IVF
    index (ann_ivf_topk_det) against the exact brute-force cosine
    top-5 (ann_cosine_topk) as ground truth — the eval harness every
    retrieval/RAG data pipeline runs before swapping an index into
    serving, expressed as ONE declarative plan over both retrieval
    paths.

    Determinism: relevance is a 0/1 membership join (no float compare);
    DCG discounts 1/log2(r+1) are embedded as exact integer NANO-UNIT
    literals and summed as BIGINTs, so the only float ops are two final
    divisions by constants — identical cross-engine, and the whole
    metric frame value-hash-matches the composed SQL oracle.

    Scale shape: both retrieval arms are the already-audited plans
    (IVF probes prune to n_probe lists; the exact arm is the oracle
    baseline you'd run on a SAMPLE of queries at 100 TB — queries are
    the tiny side, candidates never leave their buckets); the metric
    join touches k rows per query."""
    emb = _emb(spark, sf_dir)
    approx = S.ivf_ann_topk_det(emb, QUERY_IDS, k=_EVAL_K).select(
        "query_id", "cand_id", "rank"
    )
    exact = S.cosine_topk(emb, QUERY_IDS, k=_EVAL_K).select(
        "query_id", "cand_id", F.lit(1).cast("long").alias("rel")
    )
    w_nano = F.coalesce(
        *[
            F.when(F.col("rank") == r, F.lit(w).cast("long"))
            for r, w in _NDCG_W_NANO.items()
        ]
    )
    hits = approx.join(exact, ["query_id", "cand_id"], "left").select(
        "query_id",
        F.coalesce("rel", F.lit(0).cast("long")).alias("rel"),
        w_nano.alias("w_nano"),
    )
    return hits.groupBy("query_id").agg(
        F.sum("rel").alias("n_overlap"),
        F.round(F.sum("rel").cast("double") / _EVAL_K, 6).alias("recall_at_k"),
        F.round(
            F.sum(F.col("rel") * F.col("w_nano")).cast("double") / _IDCG_NANO, 6
        ).alias("ndcg_at_k"),
    )


def _retrieval_eval_sql(k: int = _EVAL_K, n_queries: int = 10) -> str:
    """Composed oracle: the deterministic-IVF chain's CTEs re-shaped
    into an `approx` CTE, an exact brute-force `exact_top` arm reusing
    the same `v` vector CTE, then the BIGINT nano-unit metric tail."""
    ivf = _ivf_det_sql(n_queries=n_queries, k=k)
    final = "\nSELECT query_id, cand_id, cos_sim, rank FROM ("
    body = ivf.rsplit(final, 1)[0]
    w_case = " ".join(
        f"WHEN {r} THEN {w}" for r, w in _NDCG_W_NANO.items()
    )
    return body + f""", approx AS (
  SELECT query_id, cand_id, rank FROM (
    SELECT query_id, cand_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
    FROM cand
  ) WHERE rank <= {k}
), eq AS (
  SELECT vec_id AS query_id, v AS qe FROM v WHERE vec_id < {n_queries}
), exact_scored AS (
  SELECT eq.query_id, v.vec_id AS cand_id,
         round(list_cosine_similarity(eq.qe, v.v), 6) AS cos_sim
  FROM eq JOIN v ON v.vec_id <> eq.query_id
), exact_top AS (
  SELECT query_id, cand_id, CAST(1 AS BIGINT) AS rel FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM exact_scored
  ) WHERE rk <= {k}
), hits AS (
  SELECT a.query_id,
         COALESCE(e.rel, 0) AS rel,
         CASE a.rank {w_case} END AS w_nano
  FROM approx a LEFT JOIN exact_top e
    ON e.query_id = a.query_id AND e.cand_id = a.cand_id
)
SELECT query_id,
       CAST(SUM(rel) AS BIGINT) AS n_overlap,
       round(CAST(SUM(rel) AS DOUBLE) / {k}, 6) AS recall_at_k,
       round(CAST(SUM(rel * w_nano) AS DOUBLE) / {_IDCG_NANO}, 6) AS ndcg_at_k
FROM hits GROUP BY query_id
"""


def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table DQ report — the vector-column counterpart of
    dq_constraint_report, catching the classic embedding-pipeline
    failures before they poison retrieval: zero vectors (failed encoder
    calls), L2-norm outliers (truncated/corrupt rows; |z| > 3 against
    the label's own exact-decimal moments, the agg_basic_stats recipe),
    and dimension drift (distinct dims per label must be 1).

    Scale shape: one narrow pass computes each vector's norm (sequential
    array fold, rounded to 6 dp); per-label moments are mergeable decimal sums;
    the outlier pass re-joins the tiny per-label stats frame by
    broadcast. Determinism: all moment arithmetic follows the decimal
    conventions of plans/spec.py, so z-flags are engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.round(
        F.sqrt(F.aggregate(v, F.lit(0.0).cast("double"), lambda a, x: a + x * x)),
        6,
    )
    per = emb.select(
        "label", "vec_id", F.size(v).alias("dim"), nrm.alias("nrm")
    )
    ndec = F.col("nrm").cast("decimal(18,6)")
    stats = per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_distinct(F.col("dim")).alias("n_dims_distinct"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        _dec_to_double(F.sum(ndec)).alias("sx"),
        _dec_to_double(
            F.sum((ndec * ndec).cast("decimal(38,12)"))
        ).alias("sxx"),
        F.sum((F.col("nrm") == 0.0).cast("long")).cast("bigint").alias("n_zero"),
    )
    mean = F.col("sx") / F.col("n_vecs")
    std = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_vecs"))
        / (F.col("n_vecs") - 1)
    )
    flagged = (
        per.join(F.broadcast(stats), "label")
        .withColumn(
            "is_outlier",
            F.when(
                F.col("n_vecs") > 1, F.abs(F.col("nrm") - mean) > 3 * std
            ).otherwise(F.lit(False)),
        )
        .groupBy("label")
        .agg(F.sum(F.col("is_outlier").cast("long")).cast("bigint").alias("n_outliers"))
    )
    return stats.join(flagged, "label").select(
        "label",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.col("n_dims_distinct").cast("bigint").alias("n_dims_distinct"),
        "min_norm",
        "max_norm",
        F.round(F.col("sx") / F.col("n_vecs"), 6).alias("avg_norm"),
        "n_zero",
        "n_outliers",
    )


EMBEDDING_NORM_PROFILE_SQL = """
WITH per AS (
  SELECT label, vec_id, len(embedding) AS dim,
         round(sqrt(list_aggregate(
             list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             'sum')), 6) AS nrm
  FROM embeddings
), stats AS (
  SELECT label,
         COUNT(*) AS n_vecs,
         COUNT(DISTINCT dim) AS n_dims_distinct,
         min(nrm) AS min_norm,
         max(nrm) AS max_norm,
         CAST(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(CAST(nrm AS DECIMAL(18,6)) * CAST(nrm AS DECIMAL(18,6))
                           AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM per GROUP BY label
), flagged AS (
  SELECT p.label,
         CAST(SUM(CASE WHEN s.n_vecs > 1
                        AND abs(p.nrm - s.sx / s.n_vecs)
                            > 3 * sqrt((s.sxx - s.sx * s.sx / s.n_vecs)
                                       / (s.n_vecs - 1))
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM per p JOIN stats s USING (label)
  GROUP BY p.label
)
SELECT s.label, CAST(s.n_vecs AS BIGINT) AS n_vecs,
       CAST(s.n_dims_distinct AS BIGINT) AS n_dims_distinct,
       s.min_norm, s.max_norm,
       round(s.sx / s.n_vecs, 6) AS avg_norm,
       s.n_zero, f.n_outliers
FROM stats s JOIN flagged f USING (label)
"""


def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank of the exact-cosine candidate set
    (operators/similarity.mmr_rerank): k greedy selection rounds
    unrolled into one deterministic plan, per-query O(m^2) cost that is
    corpus-size independent — the retrieval-stack tail after
    ann_pq_ivf_adc_topk."""
    return S.mmr_rerank(_emb(spark, sf_dir), QUERY_IDS, k=3, m=8)


def _mmr_sql(k: int = 3, m: int = 8) -> str:
    """Unrolled-greedy MMR oracle over exact-cosine candidates: head
    CTEs build ``cand`` (query_id, cand_id, emb, rel), then the shared
    rounds tail (_mmr_tail_sql) mirrors _mmr_core's loop."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10
), allsc AS (
  SELECT q.query_id, e.vec_id AS cand_id, e.emb,
         CAST(round(list_cosine_similarity(q.qe, e.emb), 6) AS DECIMAL(10,6)) AS rel
  FROM q JOIN e ON e.vec_id <> q.query_id
), cand AS (
  SELECT query_id, cand_id, emb, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, cand_id ASC) AS rn
    FROM allsc) t WHERE rn <= {m}
)""" + _mmr_tail_sql(k)


def _mmr_tail_sql(k: int = 3, cand: str = "cand") -> str:
    """The greedy-MMR selection rounds as CTEs over an upstream ``cand``
    CTE with columns (query_id, cand_id, emb DOUBLE[], rel
    DECIMAL(10,6)) — shared by _mmr_sql and the composed
    retrieval-pipeline oracle (the exact mirror of _mmr_core)."""
    lam = "CAST(0.5 AS DECIMAL(2,1))"
    parts = [f""", pair AS (
  SELECT a.query_id, a.cand_id AS a, b.cand_id AS b,
         CAST(round(list_cosine_similarity(a.emb, b.emb), 6) AS DECIMAL(10,6)) AS sim
  FROM {cand} a JOIN {cand} b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
), sc1 AS (
  SELECT query_id, cand_id, rel,
         CAST({lam} * rel AS DECIMAL(14,7)) AS mmr
  FROM {cand}
), sel1 AS (
  SELECT query_id, cand_id, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY mmr DESC, cand_id ASC) AS rn
    FROM sc1) t WHERE rn = 1
)"""]
    for r in range(2, k + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT query_id, cand_id FROM sel{i}" for i in range(1, r)
        )
        parts.append(f""", selset{r - 1} AS (
  {prev_sel}
), pen{r} AS (
  SELECT p.query_id, p.a AS cand_id, MAX(p.sim) AS pen
  FROM pair p JOIN selset{r - 1} s ON p.query_id = s.query_id AND p.b = s.cand_id
  GROUP BY 1, 2
), sc{r} AS (
  SELECT c.query_id, c.cand_id, c.rel,
         CAST({lam} * c.rel - {lam} * COALESCE(p.pen, CAST(0 AS DECIMAL(10,6)))
              AS DECIMAL(14,7)) AS mmr
  FROM {cand} c LEFT JOIN pen{r} p
    ON p.query_id = c.query_id AND p.cand_id = c.cand_id
  WHERE NOT EXISTS (
    SELECT 1 FROM selset{r - 1} s
    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)
), sel{r} AS (
  SELECT query_id, cand_id, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY mmr DESC, cand_id ASC) AS rn
    FROM sc{r}) t WHERE rn = 1
)""")
    finals = " UNION ALL ".join(
        f"SELECT query_id, CAST({r} AS BIGINT) AS pick_rank, cand_id, "
        f"CAST(CAST(rel AS VARCHAR) AS DOUBLE) AS rel, "
        f"CAST(CAST(mmr AS VARCHAR) AS DOUBLE) AS mmr_score FROM sel{r}"
        for r in range(1, k + 1)
    )
    parts.append(f"\n{finals}")
    return "".join(parts)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_ann_topk(_emb(spark, sf_dir), QUERY_IDS, k=5)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_ann_topk(_emb(spark, sf_dir), QUERY_IDS, k=5)


def ann_ivf_topk_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF ANN (operators/similarity.ivf_ann_topk_det):
    the deterministic Lloyd quantizer replaces MLlib k-means, making the
    whole inverted-file search replayable as SQL — the ANN family's
    hash-green scale path (the dedup_minhash_banded move)."""
    return S.ivf_ann_topk_det(_emb(spark, sf_dir), QUERY_IDS, k=5)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish subword token counts (operators/textops.py
    bpe_token_stats) — the billing/packing cost model of a training
    pipeline, as one native regexp_count pass."""
    return T.bpe_token_stats(_docs(spark, sf_dir))


TEXT_BPE_TOKEN_SQL = rf"""
WITH t AS (
  SELECT doc_id, n_chars,
         CASE WHEN trim(lower(text)) = '' THEN 0 ELSE len({_TOKS}) END AS n_ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+')) AS n_bpe
  FROM documents
)
SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws_tokens, CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
       CASE WHEN n_bpe > 0 THEN CAST(n_chars AS DOUBLE) / n_bpe ELSE 0.0 END
         AS chars_per_bpe_token
FROM t
"""


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE segmentation with a fixed merge table (operators/
    textops.bpe_apply_stats): each (x, y) -> xy merge applied as a plain
    string replace over "(c)"-wrapped symbols, BPE_SWEEPS priority-
    ordered sweeps unrolled into one scalar expression chain — per-doc
    subword counts exactly reproducible in any engine, no UDF, no
    shuffle until the sink. Complements text_bpe_token_count's regex
    approximation with actual merge-table segmentation."""
    return T.bpe_apply_stats(_docs(spark, sf_dir))


def _bpe_seg_sql_expr() -> str:
    """DuckDB mirror of bpe_segment_expr: the same wrapped-symbol
    replace chain (DuckDB replace() is the same left-to-right
    non-overlapping scan as Spark's), unrolled BPE_SWEEPS times.
    Shared by _bpe_apply_sql and windows_batch._token_accounting_sql."""
    s = (
        r"regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),"
        r" '([a-z])', '(\1)', 'g')"
    )
    for _ in range(T.BPE_SWEEPS):
        for a, b in T.BPE_MERGES:
            s = f"replace({s}, '({a})({b})', '({a}{b})')"
    return s


def _bpe_apply_sql() -> str:
    s = _bpe_seg_sql_expr()
    return f"""
WITH seg AS (
  SELECT doc_id,
         {s} AS s,
         length(regexp_replace(lower(text), '[^a-z]+', '', 'g')) AS n_alpha
  FROM documents
)
SELECT doc_id,
       CAST(n_alpha AS BIGINT) AS n_alpha_chars,
       CAST(length(s) - length(replace(s, '(', '')) AS BIGINT) AS n_bpe_tokens,
       CAST(n_alpha - (length(s) - length(replace(s, '(', ''))) AS BIGINT)
         AS n_merges_applied
FROM seg
"""


def text_bpe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table FIT (operators/textops.bpe_fit):
    3 unrolled (pair-count -> global argmax -> apply-merge) rounds over
    the corpus — tokenizer induction as corpus-level aggregation, the
    learning side of text_bpe_apply's serving side."""
    return T.bpe_fit(_docs(spark, sf_dir))


def _bpe_fit_sql(rounds: int = 3) -> str:
    """Unrolled fit oracle: per round one (words, pairs, argmax) CTE
    trio, the merge applied with the same replace() chain semantics."""
    parts = [r"""
WITH s0 AS (
  SELECT regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
                        '([a-z])', '(\1)', 'g') AS s
  FROM documents
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", p{r} AS (
  SELECT l[i] AS a, l[i + 1] AS b, COUNT(*) AS n
  FROM (
    SELECT string_split(trim(w, '()'), ')(') AS l
    FROM s{r - 1}, UNNEST(string_split(s, ' ')) AS t(w)
    WHERE w <> ''
  ) x, UNNEST(generate_series(1, len(l) - 1)) AS g(i)
  GROUP BY 1, 2
), m{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, a AS left_sym, b AS right_sym,
         CAST(n AS BIGINT) AS n_occurrences
  FROM p{r} ORDER BY n DESC, a ASC, b ASC LIMIT 1
)""")
        if r < rounds:
            parts.append(f""", s{r} AS (
  SELECT replace(s, '(' || left_sym || ')(' || right_sym || ')',
                 '(' || left_sym || right_sym || ')') AS s
  FROM s{r - 1} CROSS JOIN m{r}
)""")
    finals = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, rounds + 1))
    parts.append(f"\n{finals}")
    return "".join(parts)


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_stats(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "avg_token_len",
    )


TEXT_TOKEN_STATS_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
              ELSE {_TOKS} END AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       CASE WHEN len(toks) > 0
            THEN round(CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
                       AS DOUBLE) / len(toks), 4)
            ELSE 0.0 END AS avg_token_len
FROM t
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id(_docs(spark, sf_dir))


_MARKER_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in LANG_MARKERS.items() for w in ws
)
# The oracle CTEs of operators/text.lang_id: ``tok`` (whitespace tokens),
# ``votes`` (marker-word hits per doc and language) and ``best`` (rn = 1
# is the most-voted language, ties to the smaller name).
_LANG_VOTES_SQL = rf"""tok AS (
  SELECT doc_id, t FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
), votes AS (
  SELECT doc_id, cand_lang, COUNT(*) AS votes
  FROM tok JOIN (VALUES {_MARKER_VALUES}) m(cand_lang, marker) ON t = marker
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, cand_lang, votes,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY votes DESC, cand_lang ASC) AS rn
  FROM votes
)"""

TEXT_LANG_ID_SQL = f"""
WITH {_LANG_VOTES_SQL}
SELECT d.doc_id,
       COALESCE(b.cand_lang, 'und') AS pred_lang,
       COALESCE(b.votes, 0) AS votes
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
"""


def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as an operator — the confusion matrix of
    the stopword-voting language identifier (text_lang_id) against the
    corpus's labeled ``lang`` column, with per-true-class totals and
    recall shares. Third member of the eval family: retrieval has
    recall/nDCG (eval_retrieval_metrics), forecasting has MAPE/bias
    (timeseries_forecast_backtest), classification has the confusion
    matrix — the exact report a curation stack reads before trusting a
    cheap classifier to route documents (e.g. zh here has no marker
    vocabulary, and its row shows precisely where those docs land).

    Determinism: counts are exact BIGINTs; share = n / n_true is one
    6-dp-rounded IEEE division; matrix cells and class totals come from one
    groupBy plus a per-true-class window (partitioned by true_lang —
    #classes partitions, no global window).

    Scale shape: the predictor's one broadcast-marker join + argmax,
    then a (true, pred) groupBy whose output is #classes² rows."""
    docs = _docs(spark, sf_dir)
    pred = T.lang_id(docs).select("doc_id", "pred_lang")
    joined = docs.select(
        "doc_id", F.col("lang").alias("true_lang")
    ).join(pred, "doc_id")
    conf = joined.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("true_lang")
    return conf.select(
        "true_lang",
        "pred_lang",
        "n",
        F.sum("n").over(wt).alias("n_true"),
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("share_of_true"),
        (F.col("true_lang") == F.col("pred_lang")).alias("is_hit"),
    )


EVAL_LANGID_SQL = f"""
WITH {_LANG_VOTES_SQL}, pred AS (
  SELECT d.doc_id, d.lang AS true_lang,
         COALESCE(b.cand_lang, 'und') AS pred_lang
  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
), conf AS (
  SELECT true_lang, pred_lang, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n,
       CAST(SUM(n) OVER (PARTITION BY true_lang) AS BIGINT) AS n_true,
       round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY true_lang), 6)
         AS share_of_true,
       true_lang = pred_lang AS is_hit
FROM conf
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("len_chars").cast("long").alias("len_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "punct_ratio",
        "upper_ratio",
        "mean_word_len",
        "quality_score",
    )


TEXT_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         CAST(length(text) AS BIGINT) AS n_chars,
         CASE WHEN trim(lower(text)) = '' THEN 0
              ELSE len({_TOKS}) END AS n_tok,
         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
  FROM documents
), r AS (
  SELECT doc_id, text, n_chars, CAST(n_tok AS BIGINT) AS n_tokens,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN n_upper::DOUBLE / n_chars ELSE 0.0 END AS upper_ratio,
         CASE WHEN n_tok > 0 THEN (n_chars - n_tok + 1)::DOUBLE / n_tok ELSE 0.0 END AS mean_word_len
  FROM t
)
SELECT doc_id, n_chars AS len_chars, n_tokens,
       round(punct_ratio, 4) AS punct_ratio,
       round(upper_ratio, 4) AS upper_ratio,
       round(mean_word_len, 4) AS mean_word_len,
       {_SQL_QSCORE} AS quality_score
FROM r
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint(_docs(spark, sf_dir))


TEXT_FINGERPRINT_SQL = rf"""
SELECT doc_id, {_SQL_FP} AS fp
FROM documents
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.tfidf_top_terms(_docs(spark, sf_dir), k=3)


TEXT_TFIDF_SQL = rf"""
WITH tok AS (
  SELECT doc_id, t AS term FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dfx AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfx.df + 1)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfx USING (term), n
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS BIGINT) AS term_rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, term_rank FROM ranked WHERE term_rank <= 3
"""


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------

def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.binary_metadata(_docs(spark, sf_dir)).withColumn(
        "byte_len", F.col("byte_len").cast("long")
    )


MULTIMODAL_BINARY_META_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS content_sha256,
       lower(hex(encode(substring(text, 1, 8)))) AS hex_prefix
FROM documents
"""


def multimodal_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-UDF (mapInPandas) decode plumbing with a deterministic fake
    codec — the one Arrow-boundary operator in the registry, so the
    driver's oracle also validates the Python batch path."""
    return M.fake_decode_image(M.with_binary_payload(_docs(spark, sf_dir)))


MULTIMODAL_DECODE_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
       CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'RGB' ELSE 'L' END AS mode
FROM documents
"""


def multimodal_resize_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched RESIZE stage (operators/multimodal.
    resize_image_stub over the magic-header payloads) — completes the
    brief's decode / feature-extract / resize / frame-sample plumbing
    set with the second mapInPandas boundary the oracle validates:
    aspect-preserving fit into a 224 box (never upscaled) plus a
    strided-byte thumbnail standing in for the resampled pixel buffer,
    all deterministic so DuckDB replays the exact arithmetic via
    hex-string slicing."""
    return M.resize_image_stub(M.with_magic_payload(_docs(spark, sf_dir)))


MULTIMODAL_RESIZE_SQL = """
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN unhex('89504E470D0A1A0A')
                          WHEN 1 THEN unhex('FFD8FFE0')
                          WHEN 2 THEN unhex('474946383761')
                          ELSE unhex('') END) || encode(text) AS payload
  FROM documents
), dims AS (
  SELECT doc_id, payload,
         octet_length(payload) AS blen,
         CAST(octet_length(payload) % 640 + 1 AS INTEGER) AS in_w,
         CAST(octet_length(payload) % 480 + 1 AS INTEGER) AS in_h
  FROM p
), scaled AS (
  SELECT doc_id, payload, blen, in_w, in_h,
         least(224.0 / in_w, 224.0 / in_h, 1.0) AS scale,
         greatest(CAST(1 AS BIGINT), CAST(blen // 32 AS BIGINT)) AS stride
  FROM dims
), thumbed AS (
  SELECT doc_id, in_w, in_h,
         CAST(greatest(1, floor(in_w * scale)) AS INTEGER) AS out_w,
         CAST(greatest(1, floor(in_h * scale)) AS INTEGER) AS out_h,
         stride,
         CAST(least(16, CAST(ceil(blen / CAST(stride AS DOUBLE)) AS BIGINT))
              AS INTEGER) AS thumb_len,
         lower(hex(payload)) AS hx
  FROM scaled
)
SELECT doc_id, in_w, in_h, out_w, out_h, stride,
       array_to_string(
         list_transform(
           CASE WHEN thumb_len > 0 THEN generate_series(0, thumb_len - 1)
                ELSE [] END,
           i -> substr(hx, CAST(i * stride * 2 + 1 AS BIGINT), 2)),
         '') AS thumb_hex,
       thumb_len
FROM thumbed
"""


def multimodal_format_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-number format detection over binary payloads carrying real
    PNG/JPEG/GIF magics (operators/multimodal.with_magic_payload +
    detect_format). Spark sniffs an 8-BYTE binary slice per row; the
    oracle reproduces the same bytes by slicing the hex string (DuckDB
    has no BLOB substring — value-identical)."""
    return M.detect_format(M.with_magic_payload(_docs(spark, sf_dir)))


MULTIMODAL_FORMAT_DETECT_SQL = """
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN unhex('89504E470D0A1A0A')
                          WHEN 1 THEN unhex('FFD8FFE0')
                          WHEN 2 THEN unhex('474946383761')
                          ELSE unhex('') END) || encode(text) AS payload
  FROM documents
), sniff AS (
  SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS byte_len,
         substr(hex(payload), 1, 16) AS prefix_hex
  FROM p
)
SELECT doc_id, byte_len, prefix_hex,
       CASE WHEN prefix_hex LIKE '89504E470D0A1A0A%' THEN 'png'
            WHEN prefix_hex LIKE 'FFD8FF%' THEN 'jpeg'
            WHEN prefix_hex LIKE '474946383761%' THEN 'gif'
            ELSE 'unknown' END AS detected_format
FROM sniff
"""


def multimodal_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-length + distinct-byte + Shannon-entropy stats over the
    first 256 bytes of each binary payload
    (operators/multimodal.byte_entropy) — the no-decode randomness probe
    of a multimodal curation pass."""
    return M.byte_entropy(_docs(spark, sf_dir), max_bytes=256)


MULTIMODAL_BYTE_ENTROPY_SQL = """
WITH sliced AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         regexp_extract_all(substr(hex(encode(text)), 1, 512), '..') AS bp
  FROM documents
), b AS (
  SELECT doc_id, byte_len, u.byte FROM sliced, UNNEST(bp) AS u(byte)
), c AS (
  SELECT doc_id, byte_len, byte, COUNT(*) AS c FROM b GROUP BY 1, 2, 3
)
SELECT doc_id, byte_len, CAST(SUM(c) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
       round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy_bits
FROM c GROUP BY 1, 2
"""


def multimodal_png_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG IHDR metadata extraction from binary payloads with a real
    IHDR chunk (operators/multimodal.with_container_payload +
    png_ihdr_meta): validate magic + chunk type, then read big-endian
    u32 width/height and depth/color from fixed offsets via BINARY
    substring — honest container parsing without a codec library. The
    oracle rebuilds the same payload and slices the same offsets on the
    hex string (byte k..k+m-1 == hex chars 2k-1..2(k+m-1))."""
    return M.png_ihdr_meta(M.with_container_payload(_docs(spark, sf_dir)))


MULTIMODAL_PNG_META_SQL = """
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4
            WHEN 0 THEN unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
                               || lpad(hex(doc_id % 640 + 16), 8, '0')
                               || lpad(hex(doc_id % 480 + 16), 8, '0')
                               || '08' || '02')
            WHEN 1 THEN unhex('FFD8FFE0')
            WHEN 2 THEN unhex('474946383761')
            ELSE unhex('') END) || encode(text) AS payload
  FROM documents
), sniff AS (
  SELECT doc_id, hex(payload) AS h FROM p
)
SELECT doc_id,
       CAST(substr(h, 1, 16) = '89504E470D0A1A0A'
            AND substr(h, 25, 8) = '49484452' AS BIGINT) AS is_png,
       CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
             AND substr(h, 25, 8) = '49484452'
            THEN CAST('0x' || substr(h, 33, 8) AS BIGINT) END AS width,
       CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
             AND substr(h, 25, 8) = '49484452'
            THEN CAST('0x' || substr(h, 41, 8) AS BIGINT) END AS height,
       CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
             AND substr(h, 25, 8) = '49484452'
            THEN CAST('0x' || substr(h, 49, 2) AS BIGINT) END AS bit_depth,
       CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
             AND substr(h, 25, 8) = '49484452'
            THEN CAST('0x' || substr(h, 51, 2) AS BIGINT) END AS color_type
FROM sniff
"""


def multimodal_byte_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square of the byte histogram vs uniform over the first 256
    payload bytes (operators/multimodal.byte_chisq) — the
    compressed-vs-structured classifier that keeps resolving where
    entropy saturates. chi2 = 256 * sum(c^2)/n - n, so the oracle needs
    only per-byte counts (no 256-way spine for unobserved values)."""
    return M.byte_chisq(_docs(spark, sf_dir), max_bytes=256)


MULTIMODAL_BYTE_CHISQ_SQL = """
WITH sliced AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         regexp_extract_all(substr(hex(encode(text)), 1, 512), '..') AS bp
  FROM documents
), b AS (
  SELECT doc_id, byte_len, u.byte FROM sliced, UNNEST(bp) AS u(byte)
), c AS (
  SELECT doc_id, byte_len, byte, COUNT(*)::DOUBLE AS c FROM b GROUP BY 1, 2, 3
)
SELECT doc_id, byte_len, CAST(SUM(c) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
       round(256.0 * SUM(c * c) / SUM(c) - SUM(c), 6) AS chi_square
FROM c GROUP BY 1, 2
"""


def multimodal_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-offset RIFF/WAV metadata over binary payloads carrying real
    44-byte PCM WAV headers (operators/multimodal.with_wav_payload /
    wav_fmt_meta): validate the RIFF+WAVE+fmt tags, parse the
    little-endian u16/u32 fields, derive clip duration — the
    byte-order complement of multimodal_png_meta's big-endian path,
    still O(1) BINARY substring per row."""
    return M.wav_fmt_meta(M.with_wav_payload(_docs(spark, sf_dir)))


def multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash image dedup (operators/multimodal.
    ahash_dedup) over the binary payload's first 64 bytes as the
    stand-in 8x8 grayscale grid — exact-integer mean thresholding,
    one keep-min hash aggregate."""
    return M.ahash_dedup(M.with_binary_payload(_docs(spark, sf_dir)))


_AHASH_BYTES = 64
MULTIMODAL_AHASH_SQL = f"""
WITH b AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(substr(hex(encode(text)), 1, {2 * _AHASH_BYTES}),
                              '..'),
           p2 -> CAST('0x' || p2 AS BIGINT)) AS v
  FROM documents
  WHERE octet_length(encode(text)) >= {_AHASH_BYTES}
), h AS (
  SELECT doc_id,
         array_to_string(list_transform(v,
           x -> CASE WHEN x * {_AHASH_BYTES} > list_sum(v)
                THEN '1' ELSE '0' END), '') AS ahash
  FROM b
)
SELECT ahash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
FROM h GROUP BY ahash
"""


def multimodal_audio_trim_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-trim report per WAV clip (operators/multimodal.
    audio_trim_bounds): first/last non-silent frame from the
    frame-energy stage, kept-span length and retained fraction — the
    step between feature extraction and transcription in an audio
    curation pass."""
    return M.audio_trim_bounds(M.with_wav_payload(_docs(spark, sf_dir)))


def _audio_trim_sql() -> str:
    # deferred: MULTIMODAL_PCM_ENERGY_SQL is defined later in the module
    return f"""
WITH e AS ( {MULTIMODAL_PCM_ENERGY_SQL} ),
agg AS (
  SELECT doc_id, COUNT(*) AS n_frames,
         MIN(CASE WHEN NOT is_silence THEN frame_idx END) AS first_loud,
         MAX(CASE WHEN NOT is_silence THEN frame_idx END) AS last_loud
  FROM e GROUP BY doc_id
)
SELECT doc_id, n_frames, first_loud, last_loud,
       COALESCE(last_loud - first_loud + 1, CAST(0 AS BIGINT)) AS kept_frames,
       round(CAST(COALESCE(last_loud - first_loud + 1, CAST(0 AS BIGINT))
                  AS DOUBLE) / n_frames, 6) AS kept_frac
FROM agg
"""


def multimodal_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + cross-corpus chunk dedup
    (operators/multimodal.cdc_chunk_stats) over the binary payload —
    the rsync/FastCDC boundary-shift-robust dedup primitive for
    binary/media data."""
    return M.cdc_chunk_stats(M.with_binary_payload(_docs(spark, sf_dir)))


def _cdc_sql(max_bytes: int = 256) -> str:
    from ..operators.multimodal import _CDC_MASK, _CDC_MOD, _CDC_POW, _CDC_W

    pows = "[" + ", ".join(str(p) for p in _CDC_POW) + "]"
    return f"""
WITH base AS (
  SELECT doc_id, substr(hex(encode(text)), 1, {2 * max_bytes}) AS h
  FROM documents
), vv AS (
  SELECT doc_id, h,
         list_transform(regexp_extract_all(h, '..'),
                        x -> CAST('0x' || x AS BIGINT)) AS v
  FROM base
), ok AS (
  SELECT doc_id, h, v, CAST(len(v) AS BIGINT) AS n FROM vv
  WHERE len(v) >= {_CDC_W}
), b AS (
  SELECT doc_id, h, n,
         list_filter(generate_series({_CDC_W}, n),
           i -> (list_sum(list_transform(generate_series(0, {_CDC_W - 1}),
                 j -> v[CAST(i - j AS BIGINT)] * ({pows})[j + 1]))
                 % {_CDC_MOD}) % {_CDC_MASK + 1} = 0) AS bpos
  FROM ok
), se AS (
  SELECT doc_id, h,
         list_prepend(CAST(1 AS BIGINT),
                      list_transform(bpos, x -> x + 1)) AS ss,
         list_append(bpos, n) AS ee
  FROM b
), ck AS (
  SELECT doc_id,
         CAST(ee[k] - ss[k] + 1 AS BIGINT) AS chunk_bytes,
         md5(substr(h, CAST(2 * (ss[k] - 1) + 1 AS BIGINT),
                    CAST(2 * (ee[k] - ss[k] + 1) AS BIGINT))) AS chunk_md5
  FROM se, UNNEST(generate_series(1, len(ss))) AS g(k)
  WHERE ss[k] <= ee[k]
), shared AS (
  SELECT chunk_md5,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_chunk
  FROM ck GROUP BY chunk_md5
)
SELECT ck.doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(chunk_bytes) AS BIGINT) AS bytes_chunked,
       CAST(SUM(CASE WHEN n_docs_with_chunk > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks
FROM ck JOIN shared USING (chunk_md5)
GROUP BY ck.doc_id
"""


def multimodal_pcm_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level RMS/peak/silence features over the WAV fixture's
    8-bit PCM samples (operators/multimodal.pcm_frame_energy) — codec-
    free audio feature extraction; the silence gate of an audio
    curation pass. The oracle reads the same sample bytes straight from
    encode(text) because with_wav_payload's PCM section is, by
    construction, the UTF-8 text bytes."""
    return M.pcm_frame_energy(M.with_wav_payload(_docs(spark, sf_dir)))


_PCM_FRAME = 16
MULTIMODAL_PCM_ENERGY_SQL = f"""
WITH pcm AS (
  SELECT doc_id,
         regexp_extract_all(substr(hex(encode(text)), 1, 512), '..') AS bp
  FROM documents WHERE doc_id % 4 = 1
), f AS (
  SELECT doc_id, CAST(g.f AS BIGINT) AS frame_idx,
         list_transform(bp[(g.f*{_PCM_FRAME}+1):((g.f+1)*{_PCM_FRAME})],
                        p2 -> CAST('0x' || p2 AS BIGINT)) AS vals
  FROM pcm, UNNEST(generate_series(0, len(bp)//{_PCM_FRAME} - 1)) AS g(f)
  WHERE len(bp) >= {_PCM_FRAME}
), e AS (
  SELECT doc_id, frame_idx,
         round(sqrt(CAST(list_sum(list_transform(vals,
               v -> (v-128)*(v-128))) AS DOUBLE) / {_PCM_FRAME}.0), 6) AS rms,
         CAST(list_max(list_transform(vals, v -> abs(v-128))) AS BIGINT)
           AS peak_dev
  FROM f
)
SELECT doc_id, frame_idx, rms, peak_dev, (rms < 8.0) AS is_silence FROM e
"""


def _wav_le_sql(expr: str, nbytes: int) -> str:
    """Little-endian hex of an integer SQL expression (LSB-first byte
    pairs) — mirrors operators/multimodal._le_hex."""
    return " || ".join(
        f"lpad(hex((({expr}) >> {8 * i}) & 255), 2, '0')" for i in range(nbytes)
    )


def _wav_le_uint_sql(pos: int, nbytes: int) -> str:
    """Read an LSB-first unsigned int from the hexed payload ``h`` at
    1-based byte offset ``pos`` — mirrors wav_fmt_meta's le_uint."""
    return (
        "("
        + " + ".join(
            f"CAST('0x' || substr(h, {2 * (pos + i) - 1}, 2) AS BIGINT) * {256 ** i}"
            for i in range(nbytes)
        )
        + ")"
    )


def _wav_meta_sql() -> str:
    is_wav = "substr(h, 1, 8) = '52494646' AND substr(h, 17, 16) = '57415645666D7420'"
    fields = {
        "channels": _wav_le_uint_sql(23, 2),
        "sample_rate": _wav_le_uint_sql(25, 4),
        "byte_rate": _wav_le_uint_sql(29, 4),
        "bits_per_sample": _wav_le_uint_sql(35, 2),
        "data_len": _wav_le_uint_sql(41, 4),
    }
    dl, br = fields["data_len"], fields["byte_rate"]
    selects = ",\n       ".join(
        f"CASE WHEN {is_wav} THEN {expr} END AS {name}"
        for name, expr in fields.items()
    )
    return f"""
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4
            WHEN 0 THEN unhex('89504E470D0A1A0A')
            WHEN 1 THEN unhex('52494646'
              || {_wav_le_sql("octet_length(encode(text)) + 36", 4)}
              || '57415645' || '666D7420' || '10000000' || '0100'
              || {_wav_le_sql("doc_id % 3 + 1", 2)}
              || {_wav_le_sql("doc_id % 8 * 1000 + 8000", 4)}
              || {_wav_le_sql("(doc_id % 8 * 1000 + 8000) * (doc_id % 3 + 1)", 4)}
              || {_wav_le_sql("doc_id % 3 + 1", 2)}
              || '0800' || '64617461'
              || {_wav_le_sql("octet_length(encode(text))", 4)})
            WHEN 2 THEN unhex('474946383761')
            ELSE unhex('') END) || encode(text) AS payload
  FROM documents
), sniff AS (
  SELECT doc_id, hex(payload) AS h FROM p
)
SELECT doc_id,
       CAST({is_wav} AS BIGINT) AS is_wav,
       {selects},
       CASE WHEN ({is_wav}) AND {br} > 0
            THEN CAST((({dl}) * 1000 - (({dl}) * 1000) % ({br})) / ({br}) AS BIGINT)
       END AS duration_ms
FROM sniff
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over video-like binary payloads (every 4th 16-byte
    frame -> content hash) via mapInPandas — operators/multimodal.py
    frame_sample. Oracle slices the same bytes with VARCHAR substring
    (documents.text is all-ASCII, so char positions == byte positions)."""
    return M.frame_sample(M.with_binary_payload(_docs(spark, sf_dir)))


MULTIMODAL_FRAME_SQL = """
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       md5(substring(text, CAST(i*16+1 AS BIGINT), CAST(16 AS BIGINT))) AS frame_md5
FROM documents, UNNEST(generate_series(0, CAST(ceil(length(text)/16.0) AS BIGINT)-1, 4)) AS g(i)
WHERE text IS NOT NULL AND length(text) > 0
"""


def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with FULL SQL parity
    (operators/dedup.minhash_banded_pairs): md5-derived min-hash
    signatures built per row, band keys bucketed, in-bucket pair
    emission with the max_bucket cap. The from-first-principles twin of
    dedup_minhash_lsh (MLlib, rows-only) — same banding theory, but
    every signature is reproducible in DuckDB, so the driver gets a
    value-hash row for the MinHash family too."""
    return D.minhash_banded_pairs(_docs(spark, sf_dir))


# Shared CTE chain text -> shingles -> minhash signatures -> band keys:
# ONE definition consumed by the pair oracle (DEDUP_MINHASH_BANDED_SQL)
# and the bucket-load audit oracle (DEDUP_LSH_BUCKET_STATS_SQL), exactly
# as the Spark side shares operators/dedup._banded_keys.
_MINHASH_BANDKEYS_CTE = f"""
WITH {_SHINGLES_SQL}, xs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x
  FROM sh
), sigs AS (
  SELECT doc_id, h, min(((2*h+1)*x + (1000003*h+12345)) % 2147483647) AS sig_h
  FROM xs, UNNEST(generate_series(0, 15)) AS hh(h)
  GROUP BY doc_id, h
), sigarr AS (
  SELECT doc_id, array_agg(sig_h ORDER BY h) AS sig FROM sigs GROUP BY doc_id
), bandkeys AS (
  SELECT doc_id, sig, b AS band, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS band_key
  FROM sigarr, UNNEST(generate_series(0, 3)) AS bb(b)
)"""

DEDUP_MINHASH_BANDED_SQL = rf"""
{_MINHASH_BANDKEYS_CTE}, buckets AS (
  SELECT band, band_key FROM bandkeys GROUP BY 1, 2
  HAVING COUNT(*) BETWEEN 2 AND 100
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_filter(generate_series(1, 16), i -> a.sig[i] = b.sig[i]))::DOUBLE / 16 AS est_jaccard
FROM bandkeys a
JOIN bandkeys b USING (band, band_key)
JOIN buckets USING (band, band_key)
WHERE a.doc_id < b.doc_id
"""


def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-load audit (operators/dedup.minhash_bucket_stats) —
    per band: bucket count, singleton count, max bucket size, the
    exact candidate-pair count the in-bucket emission will generate
    (Σ C(size,2) over joinable buckets), and what the frequency cap
    drops. The pre-flight governance report for the MinHash family:
    at 100 TB you read THIS before launching the dedup join, because
    pair emission is quadratic in bucket size. Shares _banded_keys
    with dedup_minhash_banded, so the audit describes the exact
    buckets that pass will join through."""
    return D.minhash_bucket_stats(_docs(spark, sf_dir))


DEDUP_LSH_BUCKET_STATS_SQL = rf"""
{_MINHASH_BANDKEYS_CTE}, sizes AS (
  SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS sz
  FROM bandkeys GROUP BY 1, 2
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singleton,
       MAX(sz) AS max_bucket_size,
       COALESCE(CAST(SUM(CASE WHEN sz BETWEEN 2 AND 100
                         THEN sz * (sz - 1) // 2 END) AS BIGINT), 0)
         AS n_candidate_pairs,
       COALESCE(CAST(SUM(CASE WHEN sz > 100 THEN 1 END) AS BIGINT), 0)
         AS n_capped_buckets,
       COALESCE(CAST(SUM(CASE WHEN sz > 100 THEN sz END) AS BIGINT), 0)
         AS n_docs_in_capped
FROM sizes
GROUP BY band
ORDER BY band
"""


def dedup_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload dedup (operators/dedup.binary_payload_dedup over
    operators/multimodal.with_magic_payload): exact sha256 collapse of
    byte-identical blobs, then MinHash+LSH banding over byte 8-gram
    shingles of the representatives — the pre-decode image/audio dedup
    stage of a multimodal ingest, composing two existing families.
    Payloads carry the magic headers, so two docs with identical TEXT but
    different doc_id%4 headers are NOT byte-duplicates — this is genuinely
    byte-level, not text dedup in disguise. Full SQL parity: digests are
    sha256-over-hex and shingle hashes are pure conv()/'0x'-parse integer
    arithmetic on the hex encoding (no per-window md5), identical in
    DuckDB."""
    return D.binary_payload_dedup(M.with_magic_payload(_docs(spark, sf_dir)))


DEDUP_BINARY_PAYLOAD_SQL = r"""
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN unhex('89504E470D0A1A0A')
                          WHEN 1 THEN unhex('FFD8FFE0')
                          WHEN 2 THEN unhex('474946383761')
                          ELSE unhex('') END) || encode(text) AS payload
  FROM documents
), dig AS (
  SELECT doc_id, sha256(hex(payload)) AS digest, payload FROM p
), groups AS (
  SELECT digest, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_members
  FROM dig GROUP BY digest
), exact AS (
  SELECT 'exact_sha256' AS method, keep_doc_id AS doc_a,
         CAST(NULL AS BIGINT) AS doc_b, CAST(n_members AS BIGINT) AS n_members,
         CAST(NULL AS DOUBLE) AS est_jaccard
  FROM groups WHERE n_members >= 2
), reps AS (
  SELECT d.doc_id, hex(d.payload) AS hx
  FROM dig d JOIN groups g ON d.doc_id = g.keep_doc_id
  WHERE octet_length(d.payload) >= 8
), ws AS (
  -- hex(substr(payload, i, 4)) = substr(hex(payload), 2i-1, 8): the
  -- Spark side slices the BINARY payload; identical window bigints.
  SELECT doc_id,
         (2 * ('0x' || substr(hx, i, 8))::BIGINT
          + ('0x' || substr(hx, i + 8, 8))::BIGINT) % 2147483647 AS w
  FROM reps, UNNEST(generate_series(1, len(hx) - 15, 2)) AS g(i)
), xs AS (
  SELECT doc_id, (w * w + 1566083941 * w) % 2147483647 AS x FROM ws
), sigs AS (
  SELECT doc_id, h, min(((2*h+1)*x + (1000003*h+12345)) % 2147483647) AS sig_h
  FROM xs, UNNEST(generate_series(0, 15)) AS hh(h)
  GROUP BY doc_id, h
), sigarr AS (
  SELECT doc_id, array_agg(sig_h ORDER BY h) AS sig FROM sigs GROUP BY doc_id
), bandkeys AS (
  SELECT doc_id, sig, b AS band, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS band_key
  FROM sigarr, UNNEST(generate_series(0, 3)) AS bb(b)
), buckets AS (
  SELECT band, band_key FROM bandkeys GROUP BY 1, 2
  HAVING COUNT(*) BETWEEN 2 AND 100
), near_all AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_filter(generate_series(1, 16), i -> a.sig[i] = b.sig[i]))::DOUBLE / 16
           AS est_jaccard
  FROM bandkeys a
  JOIN bandkeys b USING (band, band_key)
  JOIN buckets USING (band, band_key)
  WHERE a.doc_id < b.doc_id
)
SELECT * FROM exact
UNION ALL
SELECT 'minhash_bytes' AS method, doc_a, doc_b,
       CAST(NULL AS BIGINT) AS n_members, est_jaccard
FROM near_all WHERE est_jaccard >= 0.5
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the Jaccard pair
    graph (iterative min-label propagation, operators/components.py) —
    the step that turns pairwise matches into 'keep one per cluster'.
    Oracle: transitive closure via a recursive CTE."""
    from ..operators.components import connected_components

    edges = D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5, max_df=100)
    return connected_components(edges).select("node", F.col("comp").alias("component"))


# Shared recursive-CTE block: Jaccard pair graph -> transitive closure ->
# per-node component label (compv). Used by DEDUP_COMPONENTS_SQL and
# DEDUP_KEEP_BEST_SQL.
_JACCARD_COMPONENTS_CTES = f"""
WITH RECURSIVE
{_shingle_pairs_sql("cand")}, pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.5
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), compv AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component
  FROM reach GROUP BY a
)"""

DEDUP_COMPONENTS_SQL = _JACCARD_COMPONENTS_CTES + """
SELECT node, component FROM compv
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution by QUALITY, not min-id — the rule
    production corpus curation actually applies (keep the best-scoring
    member of each duplicate cluster, Gopher/FineWeb-style), composing
    three existing families with no new primitives: the Jaccard pair
    graph (dedup_ngram_jaccard), connected components
    (operators/components.py), and the heuristic quality score
    (operators/textops.quality_score_col). Docs outside any pair are
    their own singleton cluster (cluster = doc_id). Ties on the
    (deliberately coarse, 1-dp) score break on min doc_id via a
    two-level max-then-filter — the same argmax-by-join shape both
    engines compute identically.

    100 TB shape: inherits the pair graph's frequency-capped inverted
    index and the components loop's driver-bounded iteration; the
    quality score is one codegen stage; cluster resolution shuffles
    |docs| (cluster, q) rows once."""
    from ..operators.components import connected_components

    docs = _docs(spark, sf_dir)
    edges = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100)
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), "comp"
    )
    labeled = (
        docs.select("doc_id", T.quality_score_col(F.col("text")).alias("q"))
        .join(comp, "doc_id", "left")
        .select("doc_id", "q", F.coalesce("comp", "doc_id").alias("cluster"))
    )
    grouped = labeled.groupBy("cluster").agg(
        F.max("q").alias("best_quality"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    return (
        labeled.join(grouped, "cluster")
        .filter(F.col("q") == F.col("best_quality"))
        .groupBy("cluster", "best_quality", "n_members")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "keep_doc_id",
            "best_quality",
            "n_members",
        )
    )


DEDUP_KEEP_BEST_SQL = _JACCARD_COMPONENTS_CTES + f"""
, scored AS (
  SELECT doc_id, {_SQL_QSCORE} AS q FROM documents
), labeled AS (
  SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS cluster, s.q
  FROM scored s LEFT JOIN compv c ON c.node = s.doc_id
), grouped AS (
  SELECT cluster, MAX(q) AS best_quality, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM labeled GROUP BY cluster
)
SELECT CAST(g.cluster AS BIGINT) AS cluster,
       MIN(l.doc_id) AS keep_doc_id,
       g.best_quality,
       g.n_members
FROM grouped g
JOIN labeled l ON l.cluster = g.cluster AND l.q = g.best_quality
GROUP BY g.cluster, g.best_quality, g.n_members
"""


def text_winnow_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document sketch: the 8 smallest shingle hashes
    (md5-derived, so both engines agree bit-for-bit) joined into a
    compact fingerprint — the MOSS-style rolling/min-hash selection that
    lets near-dup candidates compare k small ints instead of documents."""
    sh = D.ngram_shingles(_docs(spark, sf_dir), n=3)
    h = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    return (
        sh.select("doc_id", h.alias("h"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.slice(F.sort_array(F.collect_list("h")), 1, 8), ","
            ).alias("sketch"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
    )


TEXT_WINNOW_SQL = f"""
WITH {_SHINGLES_SQL}, hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h FROM sh
)
SELECT doc_id,
       array_to_string(list_sort(list(h))[1:8], ',') AS sketch,
       COUNT(*) AS n_shingles
FROM hashed GROUP BY doc_id
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: per-label element-wise centroid via posexplode
    + (label, dim) average — the building block of IVF training and
    cluster drift monitoring, as plain relational ops."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        ex.groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"), F.count(F.lit(1)).alias("n"))
        .withColumn("dim", F.col("dim").cast("long"))
    )


def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (k=8, 2 Lloyd iterations) over the
    embedding column (operators/similarity.kmeans_lloyd) — a driver
    loop of one flat pass per iteration with the k centroids held on
    the driver between passes, oracle-checked against the same iterations unrolled
    as DuckDB CTEs. Returns the final (vec_id, cluster) assignment."""
    return S.kmeans_lloyd(_emb(spark, sf_dir), k=8, iters=2)


_KMEANS_DIST = (
    "round(list_sum(list_transform(generate_series(1, len(v.v)), "
    "i -> (v.v[i]-c.c[i])*(v.v[i]-c.c[i]))), 6)"
)


def _kmeans_ctes(k: int, iters: int) -> tuple[str, str]:
    """Shared unrolled-Lloyd CTE chain: one (a_t, c_t) pair per
    iteration, argmin via row_number over (rounded distance, cluster).
    Returns (cte_sql, final_centroid_cte_name) — used by both the plain
    k-means oracle and the deterministic-IVF oracle."""
    sql = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster, v AS c FROM v WHERE vec_id < {k}
)"""
    prev = "c0"
    for t in range(1, iters + 1):
        sql += f""", a{t} AS (
  SELECT vec_id, v, cluster FROM (
    SELECT v.vec_id, v.v, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM v, {prev} c
  ) WHERE rn = 1
), c{t} AS (
  SELECT cluster, array_agg(cv ORDER BY pos) AS c FROM (
    SELECT cluster, i AS pos, round(avg(v[i]), 6) AS cv
    FROM a{t}, UNNEST(generate_series(1, len(v))) AS g(i)
    GROUP BY cluster, i
  ) GROUP BY cluster
)"""
        prev = f"c{t}"
    return sql, prev


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    ctes, cfinal = _kmeans_ctes(k, iters)
    return ctes + f"""
SELECT vec_id, cluster FROM (
  SELECT v.vec_id, c.cluster,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
  FROM v, {cfinal} c
) WHERE rn = 1
"""


def _ivf_det_sql(n_queries: int = 10, k: int = 5, n_centroids: int = 8,
                 iters: int = 2, n_probe: int = 4) -> str:
    """Deterministic-IVF oracle: replay the unrolled-Lloyd quantizer,
    assign inverted lists, keep each query's n_probe nearest centroids,
    exact-cosine re-rank inside the probed lists only."""
    ctes, cfinal = _kmeans_ctes(n_centroids, iters)
    return ctes + f""", assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT v.vec_id, v.v, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM v, {cfinal} c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM assigned WHERE vec_id < {n_queries}
), probes AS (
  SELECT query_id, qv, cluster FROM (
    SELECT q.query_id, q.qv, c.cluster,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(q.qv)),
                   i -> (q.qv[i]-c.c[i])*(q.qv[i]-c.c[i]))), 6), c.cluster) AS rn
    FROM q, {cfinal} c
  ) WHERE rn <= {n_probe}
), cand AS (
  SELECT p.query_id, a.vec_id AS cand_id,
         round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
  FROM probes p JOIN assigned a USING (cluster)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT query_id, cand_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
  FROM cand
) WHERE rank <= {k}
"""


EMBEDDING_CENTROIDS_SQL = """
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
       round(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v,
       COUNT(*) AS n
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
GROUP BY label, i
"""


_STD_UNIT = 1_000_000


def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (whitening-lite) of the embedding
    table — the preprocessing step before PQ codebook fit or cosine
    bucketing when dimensions have wildly different scales: fit
    per-dim (mean, population std), apply z = (x - mean)/std, report
    per-vector z-profile (sum/min/max) as the application checksum.

    Determinism recipe: the FIT runs on integer MICRO-UNITS
    (floor(x·1e6) — floor, not round: round() ties half-up on the JVM
    and half-even in DuckDB) with (n, Σm, Σm²) BIGINT/HUGEINT moment
    algebra — the agg_variance_partial_merge recipe — so mean and std
    round to identical doubles on both engines; the APPLY then divides
    identical doubles. Std==0 dims z to 0.0 by definition.

    100 TB shape: fit = one posexplode + ONE mergeable (dim)-keyed
    aggregate to #dims rows (broadcast back); apply is a narrow per-row
    array transform after a #dims-row broadcast join; the final
    per-vector aggregate is mergeable. Nothing scales beyond linear
    passes + an O(dims) frame."""
    U = _STD_UNIT
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = emb.select("vec_id", F.posexplode("v").alias("dim", "val"))
    m = F.floor(F.col("val") * U).cast("long")
    moments = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(m).alias("s1"),
        F.sum(m * m).alias("s2"),
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("s2").cast(dec)
        - F.col("s1").cast(dec) * F.col("s1").cast(dec)
    )
    stats = moments.select(
        "dim",
        F.round(F.col("s1").cast("double") / (F.col("n") * F.lit(float(U))), 6).alias("mean"),
        F.round(
            F.sqrt(num.cast("double")) / (F.col("n").cast("double") * F.lit(float(U))),
            6,
        ).alias("std"),
    )
    z = F.when(
        F.col("std") > 0, (F.col("val") - F.col("mean")) / F.col("std")
    ).otherwise(F.lit(0.0))
    return (
        dims.join(F.broadcast(stats), "dim")
        .select("vec_id", z.alias("z"))
        .groupBy("vec_id")
        .agg(
            # z_sum stays in exact micro-units: a raw double SUM would
            # be partition-order dependent, and dividing back to a
            # double lands exactly on round()'s tie grid (where JVM
            # HALF_UP and DuckDB binary rounding disagree — this bit us
            # at 4 dp on one vector); min/max are order-free
            F.sum(F.floor(F.col("z") * U).cast("long")).alias("z_sum_micro"),
            F.round(F.min("z"), 4).alias("z_min"),
            F.round(F.max("z"), 4).alias("z_max"),
        )
    )


EMBEDDING_STANDARDIZE_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), d AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] AS val,
         CAST(floor(v[i] * {_STD_UNIT}) AS BIGINT) AS m
  FROM v, UNNEST(generate_series(1, len(v))) AS g(i)
), mo AS (
  SELECT dim, COUNT(*) AS n, CAST(SUM(m) AS BIGINT) AS s1,
         CAST(SUM(m * m) AS BIGINT) AS s2
  FROM d GROUP BY dim
), st AS (
  SELECT dim,
         round(CAST(s1 AS DOUBLE) / (n * {_STD_UNIT}.0), 6) AS mean,
         round(sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
                         AS DOUBLE))
               / (CAST(n AS DOUBLE) * {_STD_UNIT}.0), 6) AS std
  FROM mo
), z AS (
  SELECT vec_id,
         CASE WHEN std > 0 THEN (val - mean) / std ELSE 0.0 END AS z
  FROM d JOIN st USING (dim)
)
SELECT vec_id,
       CAST(SUM(CAST(floor(z * {_STD_UNIT}) AS BIGINT)) AS BIGINT)
         AS z_sum_micro,
       round(MIN(z), 4) AS z_min,
       round(MAX(z), 4) AS z_max
FROM z GROUP BY vec_id
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 min-max quantization (the storage-compression step
    a 100 TB embedding store runs before ANN indexing): codes =
    floor((x - lo) / scale) clamped to [0, 255], shifted to int8 range.
    All native array lambdas — no UDF; floor() on identical IEEE doubles
    is engine-portable (unlike round(), which ties differently across
    engines). Emits per-vector code stats, not the codes themselves, so
    the oracle compares compact rows."""
    emb = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    lo = F.array_min(v)
    hi = F.array_max(v)
    scale = (hi - lo) / F.lit(256.0)
    code = lambda x: F.least(  # noqa: E731
        F.lit(255), F.greatest(F.lit(0), F.floor((x - lo) / scale).cast("int"))
    )
    q = F.when(hi > lo, F.transform(v, lambda x: code(x) - 128)).otherwise(
        F.transform(v, lambda x: F.lit(-128))
    )
    return emb.select(
        "vec_id",
        lo.alias("lo"),
        hi.alias("hi"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(q).cast("int").alias("q_min"),
        F.array_max(q).cast("int").alias("q_max"),
    )


EMBEDDING_QUANTIZE_SQL = """
WITH base AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         list_aggregate(CAST(embedding AS DOUBLE[]), 'min') AS lo,
         list_aggregate(CAST(embedding AS DOUBLE[]), 'max') AS hi
  FROM embeddings
), coded AS (
  SELECT vec_id, lo, hi,
         CASE WHEN hi > lo THEN
           list_transform(v, x -> CAST(least(255, greatest(0,
             CAST(floor((x - lo) / ((hi - lo) / 256.0)) AS INT))) - 128 AS INT))
         ELSE list_transform(v, x -> CAST(-128 AS INT)) END AS q
  FROM base
)
SELECT vec_id, lo, hi,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_aggregate(q, 'min') AS INT) AS q_min,
       CAST(list_aggregate(q, 'max') AS INT) AS q_max
FROM coded
"""


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling operator (data-quality sweep a training-data
    pipeline runs before ingestion): per-source row count, null/empty
    text count, char-length stats, distinct languages."""
    d = _docs(spark, sf_dir)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("text").isNull() | (F.trim("text") == ""), 1).otherwise(0)
        ).cast("long").alias("n_empty_text"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


PROFILE_DOCUMENTS_SQL = """
SELECT source,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty_text,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM-data curation: quality-filter -> language-filter ->
    fingerprint dedup -> per-source yield report — the composition shape
    of a real pretraining-data pass as ONE declarative plan.

    Quality score and fingerprint are ROW-LOCAL expressions (withColumn,
    fused into the scan stage); only language-ID genuinely needs a join
    (its votes come from an explode + broadcast-join aggregation). The
    shuffles are: lang votes, the fingerprint dedup, and the final
    rollup.

    Dedup is a row_number window over fp, NOT a min(doc_id) aggregate
    semi-joined back: the join form references `enriched` twice, and
    Spark has no common-subplan reuse — the whole quality/lang subtree
    would execute twice (this was the one documented spot where caching
    seemed warranted; the window form makes it moot — one pass, one
    shuffle, same keep-min-doc_id semantics)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    lang = T.lang_id(d).select("doc_id", "pred_lang")
    enriched = (
        d.withColumn("quality_score", T.quality_score_col(F.col("text")))
        .withColumn("fp", T.fingerprint_col(F.col("text")))
        .join(lang, "doc_id")
        .filter((F.col("quality_score") >= 0.7) & (F.col("pred_lang") == "en"))
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = enriched.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


CURATION_PIPELINE_SQL = rf"""
WITH {_LANG_VOTES_SQL}, lang AS (
  SELECT d.doc_id, COALESCE(b.cand_lang, 'und') AS pred_lang
  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
), enriched AS (
  SELECT d.doc_id, d.source, d.n_chars, {_SQL_FP} AS fp
  FROM documents d
  JOIN lang ON d.doc_id = lang.doc_id
  WHERE {_SQL_QSCORE} >= 0.7 AND lang.pred_lang = 'en'
), keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM enriched GROUP BY fp
)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM enriched WHERE doc_id IN (SELECT doc_id FROM keepers)
GROUP BY source
"""


# --------------------------------------------------------------------------
# Corpus statistics: unigram-LM quality score + collocation PMI
# --------------------------------------------------------------------------

# Single source for the parameters used by BOTH the Spark call and the
# SQL oracle (hardcoding defaults in the SQL desynchronizes silently).
_LOGPROB_VOCAB_K = 1024
_PMI_MIN_COUNT = 5
_PMI_TOP_K = 20


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.unigram_logprob_score(_docs(spark, sf_dir), vocab_k=_LOGPROB_VOCAB_K)


TEXT_UNIGRAM_LOGPROB_SQL = f"""
WITH tok AS (
  SELECT doc_id, t AS term FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
), counts AS (
  SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
), total AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM counts
), vocab AS (
  SELECT term, cnt FROM (
    SELECT term, cnt,
           row_number() OVER (ORDER BY cnt DESC, term ASC) AS vr
    FROM counts
  ) WHERE vr <= {_LOGPROB_VOCAB_K}
)
SELECT doc_id, COUNT(*) AS n_tok,
       round(AVG(ln(COALESCE(v.cnt, 1)::DOUBLE / n_total)), 6) AS avg_logprob
FROM tok LEFT JOIN vocab v USING (term) CROSS JOIN total
GROUP BY doc_id
"""


def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bigram_pmi_topk(
        _docs(spark, sf_dir), min_count=_PMI_MIN_COUNT, k=_PMI_TOP_K
    )


TEXT_BIGRAM_PMI_SQL = f"""
WITH toks AS (
  SELECT tk FROM (SELECT {_TOKS} AS tk FROM documents WHERE trim(text) <> '')
  WHERE len(tk) > 1
), pairs AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
), big AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM pairs GROUP BY w1, w2
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
), uni AS (
  SELECT t AS term, COUNT(*) AS c_t
  FROM documents, UNNEST({_TOKS}) AS u(t) WHERE trim(text) <> ''
  GROUP BY t
), totals AS (
  SELECT CAST(SUM(c_t) AS DOUBLE) AS n_tok FROM uni
), nb AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_bg FROM pairs
)
SELECT w1, w2, c_xy,
       round(ln((c_xy::DOUBLE / n_bg)
                / ((ux.c_t::DOUBLE / n_tok) * (uy.c_t::DOUBLE / n_tok))), 6)
         AS pmi
FROM big JOIN uni ux ON big.w1 = ux.term
         JOIN uni uy ON big.w2 = uy.term
CROSS JOIN totals CROSS JOIN nb
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {_PMI_TOP_K}
"""

def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL dedup: canonicalize crawl-style URLs (case, default
    port, trailing slash, tracking params, param order, fragment) with
    pure string/array expressions, then ONE hash aggregate on the
    canonical key (operators/dedup.canonical_url_col). The URL column is
    a deterministic fixture (documents ships none) mirrored by the
    oracle."""
    return D.url_canonical_dedup(D.with_url_column(_docs(spark, sf_dir)))


_URL_K = "CAST(doc_id % 37 AS VARCHAR)"
DEDUP_URL_CANONICALIZE_SQL = f"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
    || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
    || (CASE WHEN doc_id % 3 = 1 THEN upper(source) ELSE source END)
    || '.example.com'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/docs/' || {_URL_K}
    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
    || (CASE doc_id % 4
         WHEN 0 THEN '?utm_source=feed&id=' || {_URL_K} || '&v=2'
         WHEN 1 THEN '?v=2&id=' || {_URL_K}
         WHEN 2 THEN '?id=' || {_URL_K} || '&v=2&utm_campaign=c7'
         ELSE '?id=' || {_URL_K} || '&v=2' END)
    || (CASE WHEN doc_id % 2 = 1
         THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
    AS url
  FROM documents
), comp AS (
  SELECT doc_id, url,
    string_split(string_split(url, '#')[1], '?')[1] AS base,
    COALESCE(string_split(string_split(url, '#')[1], '?')[2], '') AS query
  FROM u
), kept AS (
  SELECT doc_id, url, base,
    list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT starts_with(p, 'utm_')
           AND NOT starts_with(p, 'fbclid'))) AS kq
  FROM comp
), canon AS (
  SELECT doc_id, url,
    lower(regexp_extract(base, '^([A-Za-z]+)://', 1)) || '://'
    || regexp_replace(lower(regexp_extract(base, '^[A-Za-z]+://([^/]+)', 1)),
                      ':(443|80)$', '')
    || regexp_replace(regexp_extract(base, '^[A-Za-z]+://[^/]+(/.*)?$', 1),
                      '/$', '')
    || (CASE WHEN len(kq) > 0 THEN '?' || array_to_string(kq, '&')
        ELSE '' END) AS canonical_url
  FROM kept
)
SELECT canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
FROM canon GROUP BY canonical_url
"""

_BACKOFF_MIN_COUNT = 3
_BACKOFF_ALPHA = 0.4


def text_perplexity_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under a pruned corpus bigram LM with stupid
    backoff (operators/textops.bigram_backoff_score) — the CCNet-style
    perplexity quality gate; penalizes incoherent token order, not just
    rare vocabulary like text_unigram_logprob."""
    return T.bigram_backoff_score(
        _docs(spark, sf_dir),
        min_count=_BACKOFF_MIN_COUNT,
        alpha=_BACKOFF_ALPHA,
    )


_BACKOFF_LP = f"""CASE WHEN b.c_xy IS NOT NULL
             THEN ln(b.c_xy::DOUBLE / cu.c_t)
             ELSE ln({_BACKOFF_ALPHA} * cn.c_t::DOUBLE / n_tok) END"""

TEXT_PERPLEXITY_BACKOFF_SQL = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), pairs AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM base, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) > 1
), big AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM pairs GROUP BY w1, w2
  HAVING COUNT(*) >= {_BACKOFF_MIN_COUNT}
), uni AS (
  SELECT t AS term, COUNT(*) AS c_t
  FROM documents, UNNEST({_TOKS}) AS u(t) WHERE trim(text) <> ''
  GROUP BY t
), totals AS (
  SELECT CAST(SUM(c_t) AS DOUBLE) AS n_tok FROM uni
)
SELECT doc_id, COUNT(*) AS n_bg,
       CAST(SUM(CASE WHEN b.c_xy IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_backoff,
       round(AVG({_BACKOFF_LP}), 6) AS avg_logprob,
       round(exp(-AVG({_BACKOFF_LP})), 4) AS ppl
FROM pairs p
LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
JOIN uni cu ON cu.term = p.w1
JOIN uni cn ON cn.term = p.w2
CROSS JOIN totals
GROUP BY doc_id
"""


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: m=4 subspace codebooks (k=4 each) fit with
    the deterministic Lloyd fit k-means also runs, per-vector code words +
    total squared reconstruction error (operators/similarity.pq_codes).
    The compression step before ADC-style ANN at 100 TB: m·log2(k) bits
    per vector instead of 4·dims bytes."""
    return S.pq_codes(_emb(spark, sf_dir), m=4, k=4, iters=1)


def _pq_ctes(m: int, k: int, iters: int, base: str = "v",
             lead: str = "WITH ") -> str:
    """Shared PQ oracle CTE chain: per-subspace unrolled Lloyd fits
    (same 6-dp rounding recipe as _kmeans_ctes) ending in one
    f{{s}}(vec_id, code_s, err_s) CTE per subspace — used by the
    pq_codes, ADC-search, and IVF-PQ oracles. ``base``/``lead`` let the
    chain splice into another WITH list (the IVF-PQ oracle also embeds
    _kmeans_ctes, whose base CTE is already named ``v``)."""
    sql = f"""{lead}{base} AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vfull,
         CAST(len(embedding) // {m} AS INTEGER) AS w
  FROM embeddings
)"""
    for s in range(m):
        sql += f""", vs{s} AS (
  SELECT vec_id, vfull[({s}*w+1):(({s}+1)*w)] AS v FROM {base}
), c0_{s} AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster, v AS c FROM vs{s} WHERE vec_id < {k}
)"""
        for t in range(1, iters + 1):
            sql += f""", a{t}_{s} AS (
  SELECT vec_id, v, cluster FROM (
    SELECT v.vec_id, v.v, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM vs{s} v, c{t - 1}_{s} c
  ) WHERE rn = 1
), c{t}_{s} AS (
  SELECT cluster, array_agg(cv ORDER BY pos) AS c FROM (
    SELECT cluster, i AS pos, round(avg(v[i]), 6) AS cv
    FROM a{t}_{s}, UNNEST(generate_series(1, len(v))) AS g(i)
    GROUP BY cluster, i
  ) GROUP BY cluster
)"""
        sql += f""", f{s} AS (
  SELECT vec_id, CAST(cluster AS BIGINT) AS code_{s}, d AS err_{s} FROM (
    SELECT v.vec_id, c.cluster, {_KMEANS_DIST} AS d,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM vs{s} v, c{iters}_{s} c
  ) WHERE rn = 1
)"""
    return sql


def _pq_sql(m: int = 4, k: int = 4, iters: int = 1) -> str:
    """Oracle for embedding_pq_codes: the shared CTE chain, then join
    the m code/err branches on vec_id (decimal-exact error sum)."""
    sql = _pq_ctes(m, k, iters)
    codes = ", ".join(f"code_{s}" for s in range(m))
    errs = " + ".join(f"CAST(err_{s} AS DECIMAL(18,6))" for s in range(m))
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    return sql + f"""
SELECT vec_id, {codes},
       CAST(CAST(({errs}) AS VARCHAR) AS DOUBLE) AS recon_err
FROM f0 {joins}
"""


_ADC_N_QUERIES = 10
_ADC_TOP_K = 5


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k search over PQ-compressed vectors
    (operators/similarity.pq_adc_topk): each query builds an
    m×k distance table against the codebooks; candidate distance = sum
    of m table lookups by stored code word — full corpus vectors never
    touched at query time. Fully deterministic (Lloyd
    quantizer, decimal sums, cand_id tie-break), so unlike the LSH ANN
    entries this approximate search is value-hash oracle-able."""
    return S.pq_adc_topk(
        _emb(spark, sf_dir), query_ids=list(range(_ADC_N_QUERIES)), k=_ADC_TOP_K
    )


def _pq_adc_sql(n_queries: int = _ADC_N_QUERIES, topk: int = _ADC_TOP_K,
                m: int = 4, k: int = 4, iters: int = 1) -> str:
    """ADC oracle: the shared PQ CTE chain, then (codes, per-query
    distance tables, table-lookup sum, total-ordered top-k)."""
    return _pq_ctes(m, k, iters) + f""", codes AS (
  {_adc_codes_union(m)}
), qd AS (
  {_adc_qd_union(m, iters, n_queries)}
), cand AS (
  SELECT q.query_id, codes.vec_id AS cand_id, CAST(q.qd AS DECIMAL(18,6)) AS dd
  FROM qd q JOIN codes ON q.s = codes.s AND q.cluster = codes.cluster
  WHERE codes.vec_id <> q.query_id
), agg AS (
  SELECT query_id, cand_id, CAST(CAST(SUM(dd) AS VARCHAR) AS DOUBLE) AS adc_dist
  FROM cand GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_dist, rank FROM (
  SELECT query_id, cand_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist ASC, cand_id ASC) AS BIGINT) AS rank
  FROM agg
) WHERE rank <= {topk}
"""


def ann_pq_ivf_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/similarity.pq_ivf_adc_topk): coarse-quantizer
    pruning to n_probe inverted lists composed with ADC code-table
    ranking inside the probed lists — the production ANN index
    (FAISS IVFADC), fully deterministic and value-hash oracle-able
    because both quantizers are the deterministic Lloyd fit."""
    return S.pq_ivf_adc_topk(
        _emb(spark, sf_dir), query_ids=list(range(_ADC_N_QUERIES)), k=_ADC_TOP_K
    )


def ann_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full serving stack
    (operators/similarity.retrieval_pipeline_topk): IVF-PQ candidate
    generation -> exact-cosine re-scoring of the m finalists -> greedy
    MMR diversification — the ANN family's curation_pipeline. Every
    stage is deterministic, so the composition replays as a single SQL
    oracle."""
    return S.retrieval_pipeline_topk(
        _emb(spark, sf_dir), query_ids=list(range(_ADC_N_QUERIES)), k=3, m=8
    )


def _retrieval_pipeline_sql(k: int = 3, m: int = 8) -> str:
    """Composed oracle: the IVF-PQ chain's CTEs (ending in ivf_topk)
    + exact-cosine candidate re-scoring + the shared MMR rounds tail."""
    ivf = _pq_ivf_adc_sql(topk=m)
    final = "SELECT query_id, cand_id, adc_dist, rank FROM ivf_topk"
    body = ivf.rsplit(final, 1)[0]
    return body + f""", mmr_cand AS (
  SELECT t.query_id, t.cand_id, cv.v AS emb,
         CAST(round(list_cosine_similarity(q.qv, cv.v), 6) AS DECIMAL(10,6)) AS rel
  FROM ivf_topk t
  JOIN v cv ON cv.vec_id = t.cand_id
  JOIN ivf_q q ON q.query_id = t.query_id
)""" + _mmr_tail_sql(k, cand="mmr_cand")


def _adc_codes_union(m: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, code_{s} AS cluster FROM f{s}"
        for s in range(m)
    )


def _adc_qd_union(m: int, iters: int, n_queries: int) -> str:
    dist = ("round(list_sum(list_transform(generate_series(1, len(v.v)), "
            "i -> (v.v[i]-c.c[i])*(v.v[i]-c.c[i]))), 6)")
    return " UNION ALL ".join(
        f"SELECT v.vec_id AS query_id, {s} AS s, c.cluster, {dist} AS qd\n"
        f"  FROM vs{s} v, c{iters}_{s} c WHERE v.vec_id < {n_queries}"
        for s in range(m)
    )


def _pq_ivf_adc_sql(n_queries: int = _ADC_N_QUERIES, topk: int = _ADC_TOP_K,
                    n_centroids: int = 8, coarse_iters: int = 2,
                    n_probe: int = 4, m: int = 4, k: int = 4,
                    pq_iters: int = 1) -> str:
    """IVF-PQ oracle: the coarse unrolled-Lloyd chain (_kmeans_ctes,
    base CTE ``v``) + the PQ chain (base ``pqv``), then inverted-list
    assignment, probe pruning, and ADC restricted to probed lists."""
    coarse, cfinal = _kmeans_ctes(n_centroids, coarse_iters)
    return (coarse
            + _pq_ctes(m, k, pq_iters, base="pqv", lead=", ")
            + f""", ivf_assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_KMEANS_DIST}, c.cluster) AS rn
    FROM v, {cfinal} c
  ) WHERE rn = 1
), ivf_q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {n_queries}
), ivf_probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, c.cluster,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(q.qv)),
                   i -> (q.qv[i]-c.c[i])*(q.qv[i]-c.c[i]))), 6), c.cluster) AS rn
    FROM ivf_q q, {cfinal} c
  ) WHERE rn <= {n_probe}
), codes AS (
  {_adc_codes_union(m)}
), qd AS (
  {_adc_qd_union(m, pq_iters, n_queries)}
), cand AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM ivf_probes p JOIN ivf_assigned a USING (cluster)
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT c.query_id, c.cand_id, CAST(q.qd AS DECIMAL(18,6)) AS dd
  FROM cand c
  JOIN codes k ON k.vec_id = c.cand_id
  JOIN qd q ON q.query_id = c.query_id AND q.s = k.s AND q.cluster = k.cluster
), agg AS (
  SELECT query_id, cand_id, CAST(CAST(SUM(dd) AS VARCHAR) AS DOUBLE) AS adc_dist
  FROM scored GROUP BY 1, 2
)
, ivf_topk AS (
  SELECT query_id, cand_id, adc_dist, rank FROM (
    SELECT query_id, cand_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, cand_id ASC) AS BIGINT) AS rank
    FROM agg
  ) WHERE rank <= {topk}
)
SELECT query_id, cand_id, adc_dist, rank FROM ivf_topk
""")


_BM25_TERMS = ("spark", "join", "dup")  # common / common / rare (df 25)
_BM25_K = 20
_BM25_K1, _BM25_B = 1.2, 0.75


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (operators/textops.bm25_topk): top-20
    documents for a fixed mixed-idf query — the classic term search a
    corpus store serves next to the ANN entries. Deterministic: 6-dp
    contributions, decimal sums, (score desc, doc_id) total order."""
    return T.bm25_topk(
        _docs(spark, sf_dir), list(_BM25_TERMS), k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_sql(terms=_BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), dl AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, t AS term, COUNT(*) AS tf
  FROM toks, UNNEST(tk) AS u(t)
  WHERE t IN ({in_list})
  GROUP BY 1, 2
), dfx AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       CAST(CAST(SUM(CAST(round(
         ln((s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl)), 6)
         AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS bm25
FROM tf
JOIN dfx USING (term)
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id ASC
LIMIT {k}
"""


_FEATHASH_DIMS = 16


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick vectorizer (Weinberger et al. 2009): term
    counts bucketed by md5 hash mod dims — the fixed-width featurizer
    that needs NO vocabulary build (no global pass, no broadcast dict),
    which is what makes it the 100 TB choice for text→vector. Output is
    the sparse COO form (doc_id, bucket, cnt) — exactly how a sparse
    feature matrix is stored at scale; zero buckets are absent by
    construction. One explode + one (doc, bucket) hash-aggregate, same
    md5-prefix integer idiom as the SimHash oracle."""
    tok = T.explode_tokens(_docs(spark, sf_dir))
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % _FEATHASH_DIMS
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


TEXT_FEATURE_HASHING_SQL = f"""
SELECT doc_id,
       CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {_FEATHASH_DIMS} AS bucket,
       COUNT(*) AS cnt
FROM documents, UNNEST({_TOKS}) AS u(t)
WHERE trim(text) <> ''
GROUP BY 1, 2
"""


# Fixed logistic-regression weights over the _FEATHASH_DIMS hashed
# buckets + bias — the fastText-style learned quality filter of public
# LLM pipelines (CCNet, fastText lid/quality) reduced to its serving
# form: a linear model APPLIED distributed with broadcast-literal
# weights. Fitting happens driver-side on a labeled sample in a real
# pipeline; fixed literals here keep the entry exactly reproducible.
# Exact DECIMAL(8,4) values: the dot product and the threshold compare
# are bit-identical in any engine (sigmoid is monotone, so gating on
# logit >= 0 IS gating on probability >= 0.5 — no transcendental in the
# comparable output).
_QMODEL_W: list[str] = [
    "0.0450", "-0.1200", "0.0825", "0.0100", "-0.0675", "0.1500",
    "-0.0250", "0.0925", "0.0375", "-0.1850", "0.0600", "-0.0475",
    "0.1125", "-0.0950", "0.0275", "0.0725",
]
# bias ≈ -median(dot) on the test corpus so the gate splits it roughly
# in half — a degenerate all-pass/all-fail classifier would exercise
# nothing (the exact value is arbitrary; determinism, not accuracy, is
# what the entry certifies)
_QMODEL_BIAS = "0.7250"


def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: hashed term counts (the
    text_feature_hashing vectorizer) dotted with a fixed logistic
    weight vector — the classifier gate of a curation pipeline. Weights
    ride as a LITERAL array (element_at, no join, no vocabulary
    broadcast); the only shuffle is the (doc_id, bucket) count
    aggregate, and every doc comes back (empty docs score bias-only)."""
    docs = _docs(spark, sf_dir)
    tok = T.explode_tokens(docs)
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % _FEATHASH_DIMS
    )
    feats = tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_arr = F.array(*[F.lit(w).cast("decimal(8,4)") for w in _QMODEL_W])
    dots = (
        feats.select(
            "doc_id",
            "cnt",
            (F.col("cnt") * F.element_at(w_arr, F.col("bucket").cast("int") + 1)).alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("c").alias("dot"),
        )
    )
    bias = F.lit(_QMODEL_BIAS).cast("decimal(8,4)")
    logit_dec = bias + F.coalesce(F.col("dot"), F.lit("0").cast("decimal(8,4)"))
    return (
        docs.select("doc_id")
        .join(dots, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
            logit_dec.cast("string").cast("double").alias("logit"),
            (logit_dec >= 0).alias("quality_pass"),
        )
    )


def _qmodel_sql() -> str:
    vals = ", ".join(
        f"({i}, CAST({w} AS DECIMAL(8,4)))" for i, w in enumerate(_QMODEL_W)
    )
    return f"""
WITH feats AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {_FEATHASH_DIMS} AS bucket,
         COUNT(*) AS cnt
  FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
  GROUP BY 1, 2
), w AS (
  SELECT * FROM (VALUES {vals}) AS v(bucket, wt)
), dots AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         SUM(cnt * wt) AS dot
  FROM feats JOIN w USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(n_features, 0) AS n_features,
       CAST(CAST(CAST({_QMODEL_BIAS} AS DECIMAL(8,4))
                 + COALESCE(dot, CAST(0 AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE)
         AS logit,
       (CAST({_QMODEL_BIAS} AS DECIMAL(8,4))
        + COALESCE(dot, CAST(0 AS DECIMAL(8,4))) >= 0) AS quality_pass
FROM documents d LEFT JOIN dots USING (doc_id)
"""


_ZIPF_K = 1000


def text_zipf_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus frequency spectrum: OLS of
    ln(freq) on ln(rank) for the top-K tokens — the companion
    diagnostic to text_vocab_growth (Heaps = vocabulary GROWTH, Zipf =
    frequency DECAY; a natural corpus fits slope ≈ −1, and a corpus of
    templated/duplicated text bends the tail). Ranks come from ONE
    TakeOrdered(K) over the mergeable token-count aggregate; the fit
    runs on the ≤ K-row frame with the decimal-moment OLS recipe
    (agg_regression_stats) — logs rounded to 12 first, because ln() is
    a libm call whose last ulp differs across engines, then EXACT
    decimal sums, then identical double arithmetic.

    100 TB shape: token counts are one map-side-combinable hash-agg;
    TakeOrdered never global-sorts; everything after is O(K)."""
    freq = (
        T.explode_tokens(_docs(spark, sf_dir))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(_ZIPF_K)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = freq.withColumn("rank", F.row_number().over(w).cast("bigint"))
    x = F.round(F.log(F.col("rank").cast("double")), 12)
    y = F.round(F.log(F.col("freq").cast("double")), 12)
    dec = "decimal(24,10)"
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fit"),
        _dec_to_double(F.sum(x.cast(dec))).alias("sx"),
        _dec_to_double(F.sum(y.cast(dec))).alias("sy"),
        _dec_to_double(F.sum(F.round(x * y, 10).cast(dec))).alias("sxy"),
        _dec_to_double(F.sum(F.round(x * x, 10).cast(dec))).alias("sxx"),
        _dec_to_double(F.sum(F.round(y * y, 10).cast(dec))).alias("syy"),
    )
    nd = F.col("n_fit").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / varx_n
    return m.select(
        "n_fit",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6)
        .alias("intercept"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
    )


def _zipf_sql() -> str:
    return f"""
WITH tf AS (
  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
  GROUP BY 1
), top AS (
  SELECT tok, freq FROM tf ORDER BY freq DESC, tok LIMIT {_ZIPF_K}
), ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
  FROM top
), pts AS (
  SELECT round(ln(CAST(rank AS DOUBLE)), 12) AS x,
         round(ln(CAST(freq AS DOUBLE)), 12) AS y
  FROM ranked
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fit,
    CAST(CAST(SUM(CAST(x AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(SUM(CAST(y AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(SUM(CAST(round(x * y, 10) AS DECIMAL(24,10))) AS VARCHAR)
         AS DOUBLE) AS sxy,
    CAST(CAST(SUM(CAST(round(x * x, 10) AS DECIMAL(24,10))) AS VARCHAR)
         AS DOUBLE) AS sxx,
    CAST(CAST(SUM(CAST(round(y * y, 10) AS DECIMAL(24,10))) AS VARCHAR)
         AS DOUBLE) AS syy
  FROM pts
)
SELECT n_fit,
       round((n_fit * sxy - sx * sy) / (n_fit * sxx - sx * sx), 6)
         AS zipf_slope,
       round((sy - ((n_fit * sxy - sx * sy) / (n_fit * sxx - sx * sx)) * sx)
             / n_fit, 6) AS intercept,
       round((n_fit * sxy - sx * sy) * (n_fit * sxy - sx * sy)
             / ((n_fit * sxx - sx * sx) * (n_fit * syy - sy * sy)), 6)
         AS r2
FROM m
"""


_COVERAGE_KS = [16, 64, 256, 1024, 4096]


def text_token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design coverage curve: for vocabulary budgets K in
    {16, 64, 256, 1024, 4096}, what fraction of all token OCCURRENCES
    the K most frequent types cover — the "how big must the vocab be"
    curve read before fitting a tokenizer (text_bpe_fit's budget
    question, answered from data). Exact integers until one final
    division.

    100 TB shape: ONE mergeable token-count hash-agg feeds both the
    TakeOrdered(max K) head and the 1-row total; the per-budget
    conditional sums run on the ≤ max-K frame; the total attaches as a
    1-row broadcast (QPM recipe)."""
    return coverage_curve(token_freq(_docs(spark, sf_dir)))


def token_freq(docs: DataFrame) -> DataFrame:
    """(tok, freq): token occurrence counts — the batch count, and the
    streaming sink's per-batch partial."""
    return (
        T.explode_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def coverage_curve(freq: DataFrame) -> DataFrame:
    """The coverage report of a (tok, freq) table: per budget K, the
    occurrences the K most frequent types cover. Read off the batch
    count and off the streaming twin's merged state alike."""
    totals = freq.agg(
        F.sum("freq").cast("bigint").alias("total_occurrences"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    top = freq.orderBy(F.desc("freq"), F.asc("tok")).limit(max(_COVERAGE_KS))
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = top.withColumn("rank", F.row_number().over(w).cast("bigint"))
    per_k = (
        ranked.select(
            F.explode(
                F.array(*[F.lit(k).cast("bigint") for k in _COVERAGE_KS])
            ).alias("k"),
            "rank", "freq",
        )
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("freq").cast("bigint").alias("covered_occurrences"),
            F.count(F.lit(1)).cast("bigint").alias("types_in_budget"),
        )
    )
    return (
        per_k.crossJoin(F.broadcast(totals))
        .select(
            "k", "types_in_budget", "covered_occurrences",
            "total_occurrences", "vocab_size",
            F.round(
                F.col("covered_occurrences").cast("double")
                / F.col("total_occurrences"), 6,
            ).alias("coverage"),
        )
        .orderBy("k")
    )


def _coverage_sql() -> str:
    ks = ", ".join(str(k) for k in _COVERAGE_KS)
    return f"""
WITH tf AS (
  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, UNNEST({_TOKS}) AS u(t)
  WHERE trim(text) <> ''
  GROUP BY 1
), totals AS (
  SELECT CAST(SUM(freq) AS BIGINT) AS total_occurrences,
         CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM tf
), top AS (
  SELECT tok, freq FROM tf ORDER BY freq DESC, tok LIMIT {max(_COVERAGE_KS)}
), ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank FROM top
), per_k AS (
  SELECT k, CAST(SUM(freq) AS BIGINT) AS covered_occurrences,
         CAST(COUNT(*) AS BIGINT) AS types_in_budget
  FROM ranked, UNNEST([{ks}]) AS u(k)
  WHERE rank <= k
  GROUP BY k
)
SELECT CAST(k AS BIGINT) AS k, types_in_budget, covered_occurrences,
       total_occurrences, vocab_size,
       round(covered_occurrences::DOUBLE / total_occurrences, 6) AS coverage
FROM per_k CROSS JOIN totals
ORDER BY k
"""


def text_gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-based quality gate (Rae et al. 2021 table A1;
    operators/textops.gopher_quality_filters): word-count bounds, mean
    word length, symbol-to-word ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, distinct-stopword presence — each metric
    with its pass flag plus the conjunction. Map-only (array lambdas,
    no explode/shuffle): the shape of a pre-filter that runs on ALL
    of a 100 TB crawl before anything expensive."""
    return T.gopher_quality_filters(_docs(spark, sf_dir))


def _gopher_sql() -> str:
    from ..operators.textops import (
        GOPHER_ALPHA_MIN,
        GOPHER_BULLET_MAX,
        GOPHER_ELLIPSIS_MAX,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_MAX,
        GOPHER_MWL_MIN,
        GOPHER_STOP_MIN,
        GOPHER_STOPWORDS,
        GOPHER_SYMBOL_MAX,
    )

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
              ELSE {_TOKS} END AS tk,
         str_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_words,
    CASE WHEN len(tk) > 0 THEN round(
      COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)::DOUBLE
      / len(tk), 6) ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(tk) > 0 THEN round(
      ((length(text) - length(replace(text, '#', '')))
       + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
      / len(tk), 6) ELSE 0.0 END AS symbol_to_word_ratio,
    round(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))
          ::DOUBLE / len(lines), 6) AS bullet_line_frac,
    round(len(list_filter(lines,
                          l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
          ::DOUBLE / len(lines), 6) AS ellipsis_line_frac,
    CASE WHEN len(tk) > 0 THEN round(
      len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))::DOUBLE
      / len(tk), 6) ELSE 0.0 END AS alpha_word_frac,
    CAST(len(list_intersect(list_distinct(tk), [{stops}])) AS BIGINT)
      AS stopword_hits
  FROM base
)
SELECT doc_id, n_words, mean_word_len, symbol_to_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       stopword_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AS word_count_ok,
       (mean_word_len >= {GOPHER_MWL_MIN}
        AND mean_word_len <= {GOPHER_MWL_MAX}) AS mwl_ok,
       symbol_to_word_ratio < {GOPHER_SYMBOL_MAX} AS symbol_ok,
       bullet_line_frac < {GOPHER_BULLET_MAX} AS bullet_ok,
       ellipsis_line_frac < {GOPHER_ELLIPSIS_MAX} AS ellipsis_ok,
       alpha_word_frac > {GOPHER_ALPHA_MIN} AS alpha_ok,
       stopword_hits >= {GOPHER_STOP_MIN} AS stopword_ok,
       ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
        AND (mean_word_len >= {GOPHER_MWL_MIN}
             AND mean_word_len <= {GOPHER_MWL_MAX})
        AND symbol_to_word_ratio < {GOPHER_SYMBOL_MAX}
        AND bullet_line_frac < {GOPHER_BULLET_MAX}
        AND ellipsis_line_frac < {GOPHER_ELLIPSIS_MAX}
        AND alpha_word_frac > {GOPHER_ALPHA_MIN}
        AND stopword_hits >= {GOPHER_STOP_MIN}) AS gopher_pass
FROM m
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (operators/textops.
    readability_score) — vowel-group syllable proxy, terminal-
    punctuation sentence proxy, exact integer counts into one map-only
    expression."""
    return T.readability_score(_docs(spark, sf_dir))


def _readability_sql() -> str:
    from ..operators.textops import (
        READABILITY_SENTENCE_RE,
        READABILITY_VOWEL_RE,
    )

    nw = f"len({_TOKS})"
    ns = (f"greatest(len(regexp_extract_all(lower(text), "
          f"'{READABILITY_SENTENCE_RE}')), 1)")
    sy = (f"greatest(len(regexp_extract_all(lower(text), "
          f"'{READABILITY_VOWEL_RE}')), 1)")
    flesch = (f"round(206.835 - 1.015 * (CAST({nw} AS DOUBLE)"
              f" / CAST({ns} AS DOUBLE))"
              f" - 84.6 * (CAST({sy} AS DOUBLE) / CAST({nw} AS DOUBLE)), 4)")
    return f"""
SELECT doc_id,
       CAST({nw} AS BIGINT) AS n_words,
       CAST({ns} AS BIGINT) AS n_sentences,
       CAST({sy} AS BIGINT) AS n_syllables,
       {flesch} AS flesch,
       ({flesch} >= 60.0) AS is_easy
FROM documents
WHERE trim(text) <> ''
"""


_CODE_SNIPPET = (
    "\ndef compute(x):\n    return x * 2;\nclass T {\n    var y = (x < 3);\n}"
)


def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing gate (operators/textops.code_detect) over
    the documents corpus with a deterministic code-block injection
    fixture (doc_id % 13 == 0 gets a snippet appended — the corpus
    ships pure prose, so both classes are live)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(_CODE_SNIPPET)),
        ).otherwise(F.col("text")),
    )
    return T.code_detect(docs)


def _code_detect_sql() -> str:
    from ..operators.textops import (
        CODE_INDENT_RE,
        CODE_KEYWORD_RE,
        CODE_SYMBOL_RE,
    )

    snippet_sql = _CODE_SNIPPET.replace("\n", "' || chr(10) || '")
    return rf"""
WITH fixed AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0
              THEN text || '{snippet_sql}'
              ELSE text END AS text
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{CODE_SYMBOL_RE}')) AS BIGINT)
           AS n_symbols,
         CAST(len(regexp_extract_all(text, '{CODE_KEYWORD_RE}')) AS BIGINT)
           AS kw_hits,
         CAST(len(regexp_extract_all(text, '{CODE_INDENT_RE}')) AS BIGINT)
           AS indent_lines,
         length(text) AS L
  FROM fixed
)
SELECT doc_id, n_symbols,
       CASE WHEN L > 0 THEN round(n_symbols / CAST(L AS DOUBLE), 6)
            ELSE 0.0 END AS symbol_ratio,
       kw_hits, indent_lines,
       (CASE WHEN L > 0 THEN round(n_symbols / CAST(L AS DOUBLE), 6)
             ELSE 0.0 END >= 0.02 AND kw_hits >= 1) AS is_code
FROM m
"""


_CALIB_BINS = 10
_CALIB_QTH = 0.7


def eval_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability binning of the learned quality model against the
    rule-based quality heuristic — the calibration member of the eval
    family (retrieval -> recall/nDCG, classification -> confusion,
    forecasting -> MAPE, scoring -> THIS): docs are bucketed into
    fixed-width bins over the model's logit range (bounds from a 1-row
    broadcast, the QPM recipe) and each bin reports its observed
    positive rate under the heuristic label (quality_score >= 0.7) —
    the reliability-diagram frame a score consumer uses to pick a
    threshold. The logit stays a logit (no sigmoid): exp() is a libm
    call whose last ulp differs across engines, while the decimal
    logit, the binning arithmetic, and the decimal-sum mean are
    bit-identical.

    100 TB shape: scoring + labeling are the quality_model plan (one
    (doc,bucket) aggregate) plus narrow expressions; the report is ONE
    mergeable aggregate to at most `_CALIB_BINS` rows."""
    scored = text_quality_model(spark, sf_dir).select("doc_id", "logit")
    labels = _docs(spark, sf_dir).select(
        "doc_id",
        (T.quality_score_col(F.col("text")) >= _CALIB_QTH).alias("label"),
    )
    j = scored.join(labels, "doc_id")
    bounds = j.agg(F.min("logit").alias("mn"), F.max("logit").alias("mx"))
    B = _CALIB_BINS
    x = F.col("logit")
    bin_ = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((x - F.col("mn")) * B / (F.col("mx") - F.col("mn"))),
            F.lit(B - 1),
        )
    ).cast("long")
    from ..functions.numeric import davg

    return (
        j.crossJoin(F.broadcast(bounds))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("label").cast("long")).alias("n_pos"),
            F.round(davg("logit"), 6).alias("mean_logit"),
        )
        .withColumn(
            "pos_rate",
            F.round(F.col("n_pos").cast("double") / F.col("n"), 6),
        )
    )


def _calibration_sql() -> str:
    from ..functions.numeric import sql_davg

    B = _CALIB_BINS
    return f"""
WITH j AS (
  SELECT s.doc_id, s.logit, ({_SQL_QSCORE} >= {_CALIB_QTH}) AS label
  FROM ( {_qmodel_sql()} ) s JOIN documents d ON s.doc_id = d.doc_id
), b AS (
  SELECT min(logit) AS mn, max(logit) AS mx FROM j
)
SELECT CAST(CASE WHEN mx = mn THEN 0
            ELSE least(floor((logit - mn) * {B} / (mx - mn)), {B - 1})
       END AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       round({sql_davg("logit")}, 6) AS mean_logit,
       round(SUM(CASE WHEN label THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         AS pos_rate
FROM j CROSS JOIN b
GROUP BY 1
"""


_BRIER_BINS = 10
_BRIER_LO, _BRIER_HI = -2.0, 2.0  # logit->score squash range


def _model_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned quality model's logit per document next to the
    heuristic gate's 0/1 label ``y`` (quality score >= 0.7) — the
    scored frame of the calibration and ranking evaluation entries."""
    scored = text_quality_model(spark, sf_dir).select("doc_id", "logit")
    labels = _docs(spark, sf_dir).select(
        "doc_id",
        (T.quality_score_col(F.col("text")) >= _CALIB_QTH)
        .cast("long").alias("y"),
    )
    return scored.join(labels, "doc_id")


def _calibrated(spark: SparkSession, sf_dir: str, *keep: str):
    """(rows, bin) for the calibration summaries: ``rows`` holds the
    ``keep`` columns, the probability p = clip((logit+2)/4) rounded to
    6 dp and the label y; ``bin`` is p's equal-width _BRIER_BINS bin
    as a column expression over ``rows``."""
    p = F.round(
        F.least(
            F.greatest(
                (F.col("logit") - _BRIER_LO) / (_BRIER_HI - _BRIER_LO),
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
        6,
    )
    binc = F.least(
        F.floor(F.col("p") * _BRIER_BINS), F.lit(_BRIER_BINS - 1)
    ).cast("long")
    return _model_scored(spark, sf_dir).select(*keep, p.alias("p"), "y"), binc


def _score_buckets(per_score: DataFrame) -> DataFrame:
    """``per_score`` (per distinct logit counts) with each logit's
    fixed-width bucket among 256 under STATIC min/max bounds (a 1-row
    broadcast attach) — the two-phase ranking grid of eval_model_auc,
    eval_average_precision and eval_model_gains_deciles: cumulatives
    run across the 256-row bucket frame, then within each bucket."""
    bounds = per_score.agg(
        F.min("logit").alias("lo"), F.max("logit").alias("hi")
    )
    B = 256
    bucket = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(B - 1),
            F.floor(
                (F.col("logit") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * B
            ).cast("int"),
        ),
    ).otherwise(F.lit(0))
    return per_score.crossJoin(F.broadcast(bounds)).select(
        *per_score.columns, bucket.alias("bucket")
    )


def _score_bounds_sql(counts: str) -> str:
    """The oracle CTEs of _model_scored and of its per-score counts:
    ``m`` (the model), ``scored`` (logit + label), ``per_score``
    (``counts`` per distinct logit) and ``bounds`` (its min/max)."""
    return f"""
WITH m AS ( {_qmodel_sql()} ), scored AS (
  SELECT m.logit, CASE WHEN {_SQL_QSCORE} >= 0.7 THEN 1 ELSE 0 END AS y
  FROM m JOIN documents d ON m.doc_id = d.doc_id
), per_score AS (
  SELECT logit, {counts}
  FROM scored GROUP BY logit
), bounds AS (SELECT MIN(logit) AS lo, MAX(logit) AS hi FROM per_score)"""


def _score_buckets_sql(counts: str, cols: str) -> str:
    """_score_bounds_sql plus ``withb``: the ``cols`` of per_score and
    the logit's bucket among 256 (the oracle of _score_buckets)."""
    return _score_bounds_sql(counts) + f""",
withb AS (
  SELECT logit, {cols},
         CASE WHEN hi > lo
              THEN least(255, CAST(floor((logit - lo) / (hi - lo) * 256)
                                   AS INTEGER))
              ELSE 0 END AS bucket
  FROM per_score CROSS JOIN bounds
)"""


# The per_score counts of the AUC, AP and PR-curve oracles.
_POS_NEG_SQL = """CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg"""


def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the quality
    model against the heuristic label: BRIER = RELIABILITY −
    RESOLUTION + UNCERTAINTY, the one-line diagnosis of WHERE a
    probabilistic scorer loses points (mis-calibrated vs
    non-discriminating vs irreducible base-rate noise) — the summary
    companion to eval_score_calibration's per-bin reliability table.
    The probability is a piecewise-LINEAR min-max squash of the
    decimal logit onto [0,1] (clip((logit+2)/4)), not a sigmoid —
    same determinism call as the calibration entry: exp() is a libm
    call whose last ulp differs across engines, while clip/divide are
    exact IEEE. The within-bin-variance residual of the 3-term
    identity is reported as decomposition_gap (exactly the within-bin
    variance term the binned decomposition drops).

    Determinism: p rounded to 6 → DECIMAL sums; every per-bin double
    term is rounded to 12 and decimal-summed over the 10-bin frame, so
    no double accumulates in engine-dependent order.

    100 TB shape: scoring is the quality-model plan; then ONE
    mergeable (bin) aggregate to 10 rows, a 1-row totals broadcast
    back onto them (QPM recipe), and a 10-row final fold."""
    rows, binc = _calibrated(spark, sf_dir, "doc_id")
    pd6 = "decimal(12,6)"
    pd12 = "decimal(24,12)"
    bins = rows.groupBy(binc.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        _dec_to_double(F.sum(F.col("p").cast(pd6))).alias("sum_p"),
        F.sum("y").cast("bigint").alias("sum_y"),
        _dec_to_double(
            F.sum(F.round((F.col("p") - F.col("y"))
                          * (F.col("p") - F.col("y")), 12).cast(pd12))
        ).alias("sum_sqerr"),
    )
    totals = bins.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.sum("sum_y").cast("bigint").alias("n_pos"),
    )
    withg = bins.crossJoin(F.broadcast(totals))
    ybar = F.col("n_pos").cast("double") / F.col("n")
    pbar_b = F.col("sum_p") / F.col("n_b")
    ybar_b = F.col("sum_y").cast("double") / F.col("n_b")
    final = withg.agg(
        F.max("n").alias("n"),
        _dec_to_double(
            F.sum(F.round(F.col("sum_sqerr"), 12).cast(pd12))
        ).alias("brier_sum"),
        _dec_to_double(
            F.sum(
                F.round(
                    F.col("n_b") * (pbar_b - ybar_b) * (pbar_b - ybar_b), 12
                ).cast(pd12)
            )
        ).alias("rel_sum"),
        _dec_to_double(
            F.sum(
                F.round(
                    F.col("n_b") * (ybar_b - ybar) * (ybar_b - ybar), 12
                ).cast(pd12)
            )
        ).alias("res_sum"),
        F.max("n_pos").alias("n_pos"),
    )
    nD = F.col("n").cast("double")
    brier = F.col("brier_sum") / nD
    rel = F.col("rel_sum") / nD
    res = F.col("res_sum") / nD
    unc = (F.col("n_pos") / nD) * (1 - F.col("n_pos") / nD)
    return final.select(
        "n",
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(brier - (rel - res + unc), 6).alias("decomposition_gap"),
    )


def _calib_bins_sql() -> str:
    """The calibration oracles' CTEs: ``j`` (squashed probability ``p``
    and gate label ``y`` per document) and ``bins`` (per probability
    bin: ``n_b``, ``sum_p``, ``sum_y`` and the squared error
    ``sum_sqerr``)."""
    B, lo, hi = _BRIER_BINS, _BRIER_LO, _BRIER_HI
    return f"""j AS (
  SELECT round(least(greatest((s.logit - {lo}) / ({hi} - {lo}), 0.0), 1.0), 6)
           AS p,
         CAST({_SQL_QSCORE} >= {_CALIB_QTH} AS BIGINT) AS y
  FROM ( {_qmodel_sql()} ) s JOIN documents d ON s.doc_id = d.doc_id
), bins AS (
  SELECT CAST(least(floor(p * {B}), {B - 1}) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(CAST(SUM(CAST(p AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE)
           AS sum_p,
         CAST(SUM(y) AS BIGINT) AS sum_y,
         CAST(CAST(SUM(CAST(round((p - y) * (p - y), 12)
                            AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE)
           AS sum_sqerr
  FROM j GROUP BY 1
)"""


def _brier_sql() -> str:
    return f"""
WITH {_calib_bins_sql()}, totals AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(sum_y) AS BIGINT) AS n_pos
  FROM bins
), final AS (
  SELECT MAX(n) AS n, MAX(n_pos) AS n_pos,
    CAST(CAST(SUM(CAST(round(sum_sqerr, 12) AS DECIMAL(24,12)))
              AS VARCHAR) AS DOUBLE) AS brier_sum,
    CAST(CAST(SUM(CAST(round(n_b * (sum_p / n_b - sum_y::DOUBLE / n_b)
                             * (sum_p / n_b - sum_y::DOUBLE / n_b), 12)
                       AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS rel_sum,
    CAST(CAST(SUM(CAST(round(n_b * (sum_y::DOUBLE / n_b - n_pos::DOUBLE / n)
                             * (sum_y::DOUBLE / n_b - n_pos::DOUBLE / n), 12)
                       AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS res_sum
  FROM bins CROSS JOIN totals
)
SELECT n,
       round(brier_sum / n, 6) AS brier,
       round(rel_sum / n, 6) AS reliability,
       round(res_sum / n, 6) AS resolution,
       round((n_pos::DOUBLE / n) * (1 - n_pos::DOUBLE / n), 6)
         AS uncertainty,
       round(brier_sum / n - (rel_sum / n - res_sum / n
             + (n_pos::DOUBLE / n) * (1 - n_pos::DOUBLE / n)), 6)
         AS decomposition_gap
FROM final
"""


def eval_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE/MCE — the one-number calibration summary quoted in model
    cards (Guo et al. 2017): over the same 10 equal-width probability
    bins as eval_brier_decomposition, ECE = Σ (n_b/N)·|p̄_b − ȳ_b| and
    MCE = max_b |p̄_b − ȳ_b|. Completes the calibration trio: the
    reliability TABLE (eval_score_calibration), the Murphy
    DECOMPOSITION (eval_brier_decomposition), and THIS scalar. Same
    libm-free linear logit squash (_calibrated), same decimal-sum
    determinism.

    100 TB shape: one mergeable (bin) aggregate to 10 rows, a 10-row
    fold; the scoring plan dominates and is shared machinery."""
    rows, binc = _calibrated(spark, sf_dir)
    bins = rows.groupBy(binc.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        _dec_to_double(F.sum(F.col("p").cast("decimal(12,6)"))).alias("sum_p"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    gap = F.abs(
        F.col("sum_p") / F.col("n_b")
        - F.col("sum_y").cast("double") / F.col("n_b")
    )
    final = bins.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_nonempty_bins"),
        _dec_to_double(
            F.sum(F.round(F.col("n_b") * gap, 12).cast("decimal(24,12)"))
        ).alias("wsum"),
        F.max(F.round(gap, 9)).alias("mce"),
    )
    return final.select(
        "n", "n_nonempty_bins",
        F.round(F.col("wsum") / F.col("n"), 6).alias("ece"),
        F.round("mce", 6).alias("mce"),
    )


def _ece_sql() -> str:
    return f"""
WITH {_calib_bins_sql()}, final AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_nonempty_bins,
         CAST(CAST(SUM(CAST(round(n_b * abs(sum_p / n_b
                                            - sum_y::DOUBLE / n_b), 12)
                            AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE)
           AS wsum,
         MAX(round(abs(sum_p / n_b - sum_y::DOUBLE / n_b), 9)) AS mce
  FROM bins
)
SELECT n, n_nonempty_bins, round(wsum / n, 6) AS ece, round(mce, 6) AS mce
FROM final
"""


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source — subword tokens emitted per
    whitespace word, THE cross-segment tokenizer-quality metric in
    multilingual LLM evals (fertility ≈ 1 is efficient; a segment
    tokenizing at 3× pays 3× the context budget): per source, exact
    total BPE-ish and whitespace token counts, their ratio, and chars
    per subword token. Rolls up text_bpe_token_count's per-doc cost
    model to the segment report a tokenizer/mixture decision reads.

    100 TB shape: one map-only token-count pass + one (source)
    mergeable hash-agg; two final divisions."""
    docs = _docs(spark, sf_dir)
    counted = T.bpe_token_stats(docs).join(
        docs.select("doc_id", "source", "n_chars"), "doc_id"
    )
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_ws_tokens").cast("bigint").alias("ws_tokens"),
            F.sum("n_bpe_tokens").cast("bigint").alias("bpe_tokens"),
            F.sum(
                F.when(F.col("n_bpe_tokens") > 0, F.col("n_chars"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("chars_in_tokenized"),
        )
        .select(
            "source", "n_docs", "ws_tokens", "bpe_tokens",
            F.round(
                F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6
            ).alias("fertility"),
            F.round(
                F.col("chars_in_tokenized").cast("double")
                / F.col("bpe_tokens"), 6,
            ).alias("chars_per_token"),
        )
    )


TEXT_FERTILITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN trim(lower(text)) = '' THEN 0 ELSE len({_TOKS}) END AS n_ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+'))
           AS n_bpe
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       round(SUM(n_bpe)::DOUBLE / SUM(n_ws), 6) AS fertility,
       round(SUM(CASE WHEN n_bpe > 0 THEN n_chars ELSE 0 END)::DOUBLE
             / SUM(n_bpe), 6) AS chars_per_token
FROM t
GROUP BY source
"""


# thresholds as exact integer PERCENTS — a double literal round-trips
# differently through DuckDB's DECIMAL UNNEST vs Spark's double array
# and hash-mismatches; pct/100.0 is the same IEEE double in both
_COS_SWEEP_PCTS = [20, 35, 50, 65, 80, 95]


def dedup_cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold governance — "how many pairs would each
    cosine cutoff merge?": cumulative candidate-pair counts at
    thresholds 0.20..0.95 over the SAME label-blocked candidate set
    dedup_embedding_cosine prunes from, plus each stratum's mean
    similarity. The capacity-planning sweep you read before picking a
    semantic dedup threshold (the cosine analog of
    dedup_lsh_bucket_stats): a cutoff that merges half the corpus is
    visible here BEFORE the merge runs.

    100 TB shape: the pair generation is CAPPED per block — a
    deterministic md5-ordered sample of at most _COS_BLOCK_CAP rows per
    label, so each block contributes at most C(cap, 2) pairs no matter how
    large the data grows — then ONE conditional-sum hash-agg over the
    thresholds. What the cap dropped is REPORTED, not hidden:
    n_capped_blocks / n_rows_dropped ride on every row (the
    dedup_lsh_bucket_stats n_capped_buckets move), so the capacity-planning
    read sees exactly how much of the corpus the sweep sampled away."""
    emb = _emb(spark, sf_dir)
    pairs = S.embedding_cosine_pairs(
        emb, block_col="label", threshold=-1.0, block_cap=_COS_BLOCK_CAP
    )
    # 1-row loss frame: O(#labels) agg -> broadcast-bounds attach
    losses = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("cnt") > _COS_BLOCK_CAP, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_capped_blocks"),
            F.coalesce(
                F.sum(
                    F.greatest(F.col("cnt") - F.lit(_COS_BLOCK_CAP), F.lit(0))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_rows_dropped"),
        )
    )
    rows = pairs.select(
        F.explode(
            F.array(*[F.lit(t).cast("bigint") for t in _COS_SWEEP_PCTS])
        ).alias("threshold_pct"),
        "cos_sim",
    ).filter(F.col("cos_sim") >= F.col("threshold_pct") / F.lit(100.0))
    return (
        rows.groupBy("threshold_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                _dec_to_double(
                    F.sum(F.col("cos_sim").cast("decimal(12,6)"))
                ) / F.count(F.lit(1)),
                6,
            ).alias("mean_cos_sim"),
        )
        .crossJoin(F.broadcast(losses))
        .orderBy("threshold_pct")
    )


def _cos_sweep_sql() -> str:
    ts = ", ".join(str(t) for t in _COS_SWEEP_PCTS)
    return f"""
{_COS_CAPPED_CTE}, pairs AS (
  SELECT round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
), losses AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN cnt > {_COS_BLOCK_CAP} THEN 1
                           ELSE 0 END), 0) AS BIGINT) AS n_capped_blocks,
         CAST(COALESCE(SUM(CASE WHEN cnt > {_COS_BLOCK_CAP}
                           THEN cnt - {_COS_BLOCK_CAP} ELSE 0 END), 0)
              AS BIGINT) AS n_rows_dropped
  FROM (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label)
)
SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(CAST(SUM(CAST(cos_sim AS DECIMAL(12,6))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS mean_cos_sim,
       losses.n_capped_blocks, losses.n_rows_dropped
FROM pairs, UNNEST([{ts}]) AS u(threshold_pct), losses
WHERE cos_sim >= threshold_pct / 100.0
GROUP BY threshold_pct, losses.n_capped_blocks, losses.n_rows_dropped
ORDER BY threshold_pct
"""


_SPAN_N = 8


def dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal: every corpus-wide repeated 8-gram is cut
    at every occurrence but its first, and documents are reassembled —
    the distributed form of Lee et al. 2022 substring dedup (see
    operators/dedup.span_dedup for the 100 TB shuffle analysis)."""
    return D.span_dedup(_docs(spark, sf_dir), n=_SPAN_N)


DEDUP_SPAN_NGRAM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''
), inst AS (
  SELECT doc_id, i AS start, md5(array_to_string(tk[i:i+{_SPAN_N - 1}], ' ')) AS sh
  FROM toks, UNNEST(generate_series(1, len(tk) - {_SPAN_N - 1})) AS g(i)
  WHERE len(tk) >= {_SPAN_N}
), ranked AS (
  SELECT doc_id, start,
         ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, start) AS rn
  FROM inst
), cov AS (
  SELECT DISTINCT doc_id, start + o AS pos
  FROM ranked, UNNEST(generate_series(0, {_SPAN_N - 1})) AS u(o)
  WHERE rn >= 2
), words AS (
  SELECT doc_id, i AS pos, tk[i] AS word
  FROM toks, UNNEST(generate_series(1, len(tk))) AS g(i)
), kept AS (
  SELECT w.doc_id, w.pos, w.word FROM words w
  WHERE NOT EXISTS (
    SELECT 1 FROM cov c WHERE c.doc_id = w.doc_id AND c.pos = w.pos)
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         array_to_string(list(word ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_words,
       CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM toks t LEFT JOIN rebuilt r USING (doc_id)
"""


def dedup_typo_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy dedup via FastSS deletion neighborhoods
    (Bocek et al.) — the entity-resolution primitive for typo'd keys
    (names, SKUs, usernames) where MinHash shingles are too coarse:
    two strings are within edit distance 1 iff they collide on a
    deletion variant (itself, or itself minus one character), so the
    candidate join is a plain EQUI-join on variant keys instead of an
    n² distance matrix; survivors verify with one levenshtein() call.

    Fixture: supplier names ('Supplier#000000042' — the numeric tails
    make real distance-1 neighbors at every SF). 100 TB shape: ~len+1
    variants exploded per key (linear), hub variants frequency-capped
    at max_df=50 (same rule as the n-gram inverted index), ONE equi
    shuffle join on short string keys, verification row-local. The n²
    alternative is structurally absent."""
    names = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_name").alias("name"))
        .distinct()
    )
    # the string itself + every single-character deletion
    variants = names.select(
        "name",
        F.explode(
            F.expr(
                "concat(array(name), transform(sequence(1, length(name)),"
                " i -> concat(substring(name, 1, i - 1),"
                "             substring(name, i + 1, length(name) - i))))"
            )
        ).alias("v"),
    ).distinct()
    capped = (
        variants.groupBy("v")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("v")
    )
    a = variants.join(capped, "v")
    b = a.select(F.col("v"), F.col("name").alias("name_b"))
    return (
        a.join(b, "v")
        .filter(F.col("name") < F.col("name_b"))
        .select(
            F.col("name").alias("name_a"),
            "name_b",
            F.levenshtein("name", "name_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
        .distinct()
    )


DEDUP_TYPO_SQL = """
WITH names AS (
  SELECT DISTINCT s_name AS name FROM supplier
), vars AS (
  SELECT DISTINCT name, v FROM (
    SELECT name,
           unnest(list_prepend(name,
             list_transform(range(1, length(name) + 1),
               i -> substr(name, 1, i - 1) || substr(name, i + 1)))) AS v
    FROM names)
), capped AS (
  SELECT v FROM vars GROUP BY v HAVING COUNT(*) <= 50
)
SELECT DISTINCT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM vars a
JOIN capped USING (v)
JOIN vars b USING (v)
WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 1
"""


def eval_quality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two quality raters — the model-governance
    check a curation pipeline runs before swapping its heuristic gate
    for a learned one: rater A = the hashed-feature logistic model
    (text_quality_model's quality_pass), rater B = the heuristic
    quality score at threshold 0.7. Reports the full 2x2 confusion plus
    observed/expected agreement and kappa in ONE row; every double
    derives from exact integer cell counts, so both engines divide
    identical numbers.

    100 TB shape: the model arm is the existing mergeable
    (doc, bucket) aggregate; the heuristic arm is a row-local
    expression; the confusion matrix is one 4-cell mergeable aggregate
    — nothing downstream exceeds O(1)."""
    model = text_quality_model(spark, sf_dir).select(
        "doc_id", F.col("quality_pass").cast("int").alias("a")
    )
    heur = _docs(spark, sf_dir).select(
        "doc_id",
        (T.quality_score_col(F.col("text")) >= 0.7).cast("int").alias("b"),
    )
    j = model.join(heur, "doc_id")
    cells = j.agg(
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    n11, n10 = F.col("n11").cast("double"), F.col("n10").cast("double")
    n01, n00 = F.col("n01").cast("double"), F.col("n00").cast("double")
    n = n11 + n10 + n01 + n00
    po = (n11 + n00) / n
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    kappa = F.when(pe < 1.0, (po - pe) / (1 - pe)).otherwise(F.lit(0.0))
    return cells.select(
        "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(kappa, 6).alias("kappa"),
    )


def _quality_agreement_sql() -> str:
    return f"""
WITH m AS ( {_qmodel_sql()} ), r AS (
  SELECT m.doc_id,
         CASE WHEN m.quality_pass THEN 1 ELSE 0 END AS a,
         CASE WHEN {_SQL_QSCORE} >= 0.7 THEN 1 ELSE 0 END AS b
  FROM m JOIN documents d ON m.doc_id = d.doc_id
), cells AS (
  SELECT CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM r
)
SELECT n11, n10, n01, n00,
       round((n11 + n00)::DOUBLE
             / (n11 + n10 + n01 + n00)::DOUBLE, 6) AS p_observed,
       round(((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
              + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
             / ((n11 + n10 + n01 + n00)::DOUBLE
                * (n11 + n10 + n01 + n00)::DOUBLE), 6) AS p_expected,
       CASE WHEN ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                  + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
                 / ((n11 + n10 + n01 + n00)::DOUBLE
                    * (n11 + n10 + n01 + n00)::DOUBLE) < 1.0
            THEN round(((n11 + n00)::DOUBLE / (n11 + n10 + n01 + n00)::DOUBLE
                        - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                           + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
                          / ((n11 + n10 + n01 + n00)::DOUBLE
                             * (n11 + n10 + n01 + n00)::DOUBLE))
                       / (1 - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                               + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
                              / ((n11 + n10 + n01 + n00)::DOUBLE
                                 * (n11 + n10 + n01 + n00)::DOUBLE)), 6)
            ELSE 0.0 END AS kappa
FROM cells
"""


def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level segmentation stats — the per-doc report a
    chunking/curation stage reads before deciding split points: split
    on terminal-punctuation runs ([.!?]+), drop whitespace-only
    fragments, and report sentence count, total words across
    sentences, mean words per sentence (exact integer division, round
    6), and the longest sentence's word count. Regexes stay in the
    Java∩DuckDB common dialect so the oracle mirrors them verbatim.

    100 TB shape: map-only row-local array expressions — zero
    Exchange; the plan is a scan + project."""
    docs = _docs(spark, sf_dir)
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda s: F.trim(s) != "",
    )
    words_per = F.transform(
        sents, lambda s: F.size(F.split(F.trim(s), r"\s+"))
    )
    n_sent = F.size(sents)
    n_words = F.aggregate(
        words_per, F.lit(0).cast("long"), lambda a, x: a + x
    )
    return docs.select(
        "doc_id",
        n_sent.cast("long").alias("n_sentences"),
        n_words.alias("n_sentence_words"),
        F.when(
            n_sent > 0,
            F.round(n_words.cast("double") / n_sent.cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("mean_words_per_sentence"),
        F.coalesce(F.array_max(words_per), F.lit(0)).cast("long").alias(
            "max_sentence_words"
        ),
    )


TEXT_SENTENCE_STATS_SQL = r"""
WITH s AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[.!?]+'),
                     x -> trim(x) <> '') AS sents
  FROM documents
), w AS (
  SELECT doc_id, sents,
         list_transform(sents,
           x -> len(regexp_split_to_array(trim(x), '\s+'))) AS wp
  FROM s
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(COALESCE(list_sum(wp), 0) AS BIGINT) AS n_sentence_words,
       CASE WHEN len(sents) > 0
            THEN round(COALESCE(list_sum(wp), 0)::DOUBLE / len(sents), 6)
            ELSE 0.0 END AS mean_words_per_sentence,
       CAST(COALESCE(list_max(wp), 0) AS BIGINT) AS max_sentence_words
FROM w
"""


def eval_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the learned quality model against the heuristic
    gate's labels — the rank-sum (Mann–Whitney) form with the standard
    average-rank tie convention: AUC = Σ_s n_pos(s)·(cum_neg_below(s) +
    n_neg(s)/2) / (N_pos·N_neg) over DISTINCT scores s ascending. The
    logit scores tie heavily by construction (sums of a few fixed
    weights), so the tie handling is load-bearing, not decorative.

    Scale shape (the dataset_shuffle_shards two-phase-ranking recipe):
    scores collapse to per-distinct-score counts (one mergeable agg);
    distinct scores land in 256 fixed-width buckets under STATIC
    min/max bounds (1-row attach, waived); the cross-bucket cumulative
    runs over the 256-row bucket frame (waived O(1) window) and the
    within-bucket cumulative over per-bucket partitions — no global
    ordering over raw rows anywhere. ONE result row; every double
    derives from exact integer counts."""
    per_score = _model_scored(spark, sf_dir).groupBy("logit").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
    )
    withb = _score_buckets(per_score)
    per_bucket = withb.groupBy("bucket").agg(
        F.sum("n_neg").alias("bucket_neg")
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_base = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bucket_neg").over(w_bucket), F.lit(0)).alias(
            "neg_before_bucket"
        ),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("logit")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = (
        withb.join(F.broadcast(bucket_base), "bucket")
        .withColumn(
            "neg_below",
            F.col("neg_before_bucket")
            + F.coalesce(F.sum("n_neg").over(w_in), F.lit(0)),
        )
        .select(
            (
                F.col("n_pos").cast("double")
                * (
                    F.col("neg_below").cast("double")
                    + F.col("n_neg").cast("double") / 2
                )
            ).alias("t"),
            "n_pos",
            "n_neg",
        )
    )
    denom = F.sum("n_pos").cast("double") * F.sum("n_neg").cast("double")
    return terms.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        # AUC is undefined with a single-class label set (possible at
        # tiny SFs) — report NULL, matching the oracle's NULLIF
        F.round(F.sum("t") / F.nullif(denom, F.lit(0.0)), 6).alias("auc"),
    )


def _model_auc_sql() -> str:
    return _score_buckets_sql(_POS_NEG_SQL, "n_pos, n_neg") + f""", per_bucket AS (
  SELECT bucket, SUM(n_neg) AS bucket_neg FROM withb GROUP BY bucket
), bucket_base AS (
  SELECT bucket,
         COALESCE(SUM(bucket_neg) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_before_bucket
  FROM per_bucket
), terms AS (
  SELECT w.n_pos, w.n_neg,
         w.n_pos::DOUBLE *
         ((b.neg_before_bucket
           + COALESCE(SUM(w.n_neg) OVER (PARTITION BY w.bucket
               ORDER BY w.logit
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          )::DOUBLE + w.n_neg::DOUBLE / 2) AS t
  FROM withb w JOIN bucket_base b USING (bucket)
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       round(SUM(t) / NULLIF(SUM(n_pos)::DOUBLE * SUM(n_neg)::DOUBLE, 0.0),
             6) AS auc
FROM terms
"""


def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-wise average precision (area under the PR step curve) of
    the learned quality model vs the heuristic gate — the companion
    ranking metric to eval_model_auc (AUC is threshold-free rank
    quality; AP weights precision AT the positives, the retrieval
    community's headline number): AP = Σ_blocks pos_b · P@block_b /
    N_pos over DISTINCT scores descending, where P@block is the
    precision at the block's END (every tie gets the block-end
    precision — the pessimistic tie convention, stated because the
    logits tie heavily by construction).

    Determinism (the integer-quantum discipline of the nano-unit DCG
    terms in eval_retrieval_metrics): per-block terms are
    pos_b · ((TP_b · 1e12) DIV total_b) — exact pico-unit BIGINTs
    (bounds: TP·1e12 ≤ 5e15 and pos·quotient ≤ 5e15 at sf0.1; at
    larger corpora lower the quantum) — summed as DECIMAL(38,0), so
    the sum is order-free and both engines divide the same exact
    integer by N_pos at the end. Scale shape: eval_model_auc's —
    per-distinct-score collapse, the _score_buckets grid with DESC
    two-phase cumulatives, no global ordering over raw rows."""
    per_score = _model_scored(spark, sf_dir).groupBy("logit").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
    )
    withb = _score_buckets(per_score)
    per_bucket = withb.groupBy("bucket").agg(
        F.sum("n_pos").alias("bucket_pos"),
        F.sum("n_neg").alias("bucket_neg"),
    )
    w_above = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_base = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bucket_pos").over(w_above), F.lit(0)).alias(
            "pos_above"
        ),
        F.coalesce(F.sum("bucket_neg").over(w_above), F.lit(0)).alias(
            "neg_above"
        ),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("logit").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        withb.join(F.broadcast(bucket_base), "bucket")
        .withColumn(
            "tp",
            F.col("pos_above")
            + F.coalesce(F.sum("n_pos").over(w_in), F.lit(0))
            + F.col("n_pos"),
        )
        .withColumn(
            "total",
            F.col("tp")
            + F.col("neg_above")
            + F.coalesce(F.sum("n_neg").over(w_in), F.lit(0))
            + F.col("n_neg"),
        )
    )
    term = (
        F.col("n_pos")
        * F.expr("(tp * 1000000000000L) DIV total")
    ).cast("decimal(38,0)")
    return cum.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            _dec_to_double(F.sum(term))
            / 1_000_000_000_000
            / F.sum("n_pos").cast("double"),
            6,
        ).alias("avg_precision"),
    )


def _avg_precision_sql() -> str:
    return _score_buckets_sql(_POS_NEG_SQL, "n_pos, n_neg") + f""", per_bucket AS (
  SELECT bucket, SUM(n_pos) AS bucket_pos, SUM(n_neg) AS bucket_neg
  FROM withb GROUP BY bucket
), bucket_base AS (
  SELECT bucket,
         COALESCE(SUM(bucket_pos) OVER (ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS pos_above,
         COALESCE(SUM(bucket_neg) OVER (ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_above
  FROM per_bucket
), cum AS (
  SELECT w.n_pos, w.n_neg,
         b.pos_above
         + COALESCE(SUM(w.n_pos) OVER (PARTITION BY w.bucket
             ORDER BY w.logit DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + w.n_pos AS tp,
         b.pos_above + b.neg_above
         + COALESCE(SUM(w.n_pos + w.n_neg) OVER (PARTITION BY w.bucket
             ORDER BY w.logit DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + w.n_pos + w.n_neg AS total
  FROM withb w JOIN bucket_base b USING (bucket)
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       round(CAST(CAST(SUM(CAST(n_pos * ((tp * 1000000000000) // total)
                             AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
             / 1000000000000 / SUM(n_pos)::DOUBLE, 6) AS avg_precision
FROM cum
"""


def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first transform every
    web-crawl curation pipeline applies: drop tags, decode the five
    core character entities, collapse runs of whitespace, and report
    how much markup was removed. The HTML fixture wraps each document
    deterministically (doc_id residues pick the wrapper: <p>/<div> +
    <b> islands, a <script> block that must vanish ENTIRELY — tag AND
    content — and &amp;-escaped text), so stripping has real work to
    undo at every SF and the oracle mirrors the wrap + strip
    expression-for-expression.

    100 TB shape: map-only row-local regexp chain — zero Exchange.
    Regexes stay in the Java∩DuckDB common dialect."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    open_tag = (
        F.when(d % 3 == 0, F.lit("<p class=\"x\">"))
        .when(d % 3 == 1, F.lit("<div id='a'>"))
        .otherwise(F.lit("<article>"))
    )
    close_tag = (
        F.when(d % 3 == 0, F.lit("</p>"))
        .when(d % 3 == 1, F.lit("</div>"))
        .otherwise(F.lit("</article>"))
    )
    script = F.when(
        d % 4 == 0,
        F.lit("<script>var x = 1 &amp;&amp; 2;</script>"),
    ).otherwise(F.lit(""))
    amp_text = F.when(d % 2 == 0, F.lit(" Fish &amp; chips &lt;here&gt;")).otherwise(
        F.lit("")
    )
    html = F.concat(
        open_tag,
        F.regexp_replace(F.col("text"), r"(\w+) (\w+) ", r"$1 <b>$2</b> "),
        amp_text,
        script,
        close_tag,
    )
    no_script = F.regexp_replace(
        html, r"<script[^>]*>.*?</script>", " "
    )
    no_tags = F.regexp_replace(no_script, r"<[^>]+>", " ")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(no_tags, "&amp;", "&"),
                    "&lt;", "<",
                ),
                "&gt;", ">",
            ),
            "&quot;", "\"",
        ),
        "&#39;", "'",
    )
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return docs.select(
        "doc_id",
        F.length(html).cast("long").alias("n_html_chars"),
        F.length(clean).cast("long").alias("n_clean_chars"),
        clean.alias("clean_text"),
    )


TEXT_HTML_STRIP_SQL = r"""
WITH wrapped AS (
  SELECT doc_id,
    (CASE doc_id % 3 WHEN 0 THEN '<p class="x">'
                     WHEN 1 THEN '<div id=''a''>'
                     ELSE '<article>' END)
    || regexp_replace(text, '(\w+) (\w+) ', '\1 <b>\2</b> ', 'g')
    || (CASE WHEN doc_id % 2 = 0 THEN ' Fish &amp; chips &lt;here&gt;'
        ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0
        THEN '<script>var x = 1 &amp;&amp; 2;</script>' ELSE '' END)
    || (CASE doc_id % 3 WHEN 0 THEN '</p>'
                        WHEN 1 THEN '</div>'
                        ELSE '</article>' END) AS html
  FROM documents
), stripped AS (
  SELECT doc_id, html,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', ''''),
      '\s+', ' ', 'g')) AS clean
  FROM wrapped
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS n_html_chars,
       CAST(length(clean) AS BIGINT) AS n_clean_chars,
       clean AS clean_text
FROM stripped
"""


def multimodal_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64 transport-encoding round-trip over binary payloads — the
    wire format every API-boundary ingest (webhooks, JSON event
    streams, model-serving payloads) forces onto binary columns:
    encode the magic-header payload to base64 text, decode it back,
    and prove losslessness by comparing sha256 digests of the original
    and the round-tripped bytes. Output carries the b64 length (≈ 4/3
    the byte length, padded) so size-planning math is visible too.

    100 TB shape: map-only row-local codec expressions — zero
    Exchange. DuckDB mirrors with to_base64/from_base64; Spark's
    base64() folds output with \\r\\n every 76 chars (MIME), so the
    expression strips the folds to the canonical unwrapped form both
    engines agree on."""
    pay = M.with_magic_payload(_docs(spark, sf_dir)).select("doc_id", "payload")
    b64 = F.regexp_replace(F.base64("payload"), r"[\r\n]", "")
    return pay.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.length(b64).cast("long").alias("n_b64_chars"),
        F.sha2(F.hex("payload"), 256).alias("digest_orig"),
        F.sha2(F.hex(F.unbase64(b64)), 256).alias("digest_roundtrip"),
        (
            F.sha2(F.hex("payload"), 256)
            == F.sha2(F.hex(F.unbase64(b64)), 256)
        ).alias("lossless"),
    )


MULTIMODAL_B64_SQL = """
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN unhex('89504E470D0A1A0A')
                          WHEN 1 THEN unhex('FFD8FFE0')
                          WHEN 2 THEN unhex('474946383761')
                          ELSE unhex('') END) || encode(text) AS payload
  FROM documents
), enc AS (
  SELECT doc_id, payload, to_base64(payload) AS b64 FROM p
)
SELECT doc_id,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       CAST(length(b64) AS BIGINT) AS n_b64_chars,
       sha256(hex(payload)) AS digest_orig,
       sha256(hex(from_base64(b64))) AS digest_roundtrip,
       sha256(hex(payload)) = sha256(hex(from_base64(b64))) AS lossless
FROM enc
"""


def dataset_kfold_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment + per-fold
    balance report — the split mechanics an eval harness needs beyond
    the train/val/test hash split: fold = md5-uniform of doc_id over
    k=5 (content-independent, so re-runs and backfills land identically),
    and the report proves the folds are usable (row count, token sum,
    per-source min/max share) in one glance. Output is the per-(fold,
    source) grid so imbalance is visible at the grain that matters for
    stratified training.

    100 TB shape: fold assignment is a row-local md5 expression; the
    report is ONE mergeable (fold, source) aggregate."""
    docs = _docs(spark, sf_dir)
    k = 5
    fold = (
        F.conv(F.substring(F.md5(F.concat(F.lit("fold:"),
                                          F.col("doc_id").cast("string"))), 1, 8),
               16, 10).cast("long") % k
    )
    ntok = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    return (
        docs.select(
            fold.alias("fold"),
            "source",
            ntok.alias("ntok"),
        )
        .groupBy("fold", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.min("ntok").cast("bigint").alias("min_tokens"),
            F.max("ntok").cast("bigint").alias("max_tokens"),
        )
    )


DATASET_KFOLD_SQL = r"""
SELECT ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         % 5 AS fold,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+')))
            AS BIGINT) AS n_tokens,
       CAST(MIN(len(regexp_split_to_array(trim(lower(text)), '\s+')))
            AS BIGINT) AS min_tokens,
       CAST(MAX(len(regexp_split_to_array(trim(lower(text)), '\s+')))
            AS BIGINT) AS max_tokens
FROM documents
GROUP BY 1, 2
"""


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring against a seen corpus — the freshness
    gate an incremental crawl applies before paying to keep a document
    (a doc whose 3-grams are all already in the corpus adds nothing
    even if it is not an exact/near duplicate of any single doc): the
    even-doc_id half plays the SEEN corpus, and every odd-doc_id doc
    reports how many of its distinct 3-gram shingles are absent from
    it.

    100 TB shape: the seen side is a distinct-shingle key table (never
    documents); scoring is ONE left equi-join on shingle keys + one
    mergeable per-doc aggregate — dedup_ngram_jaccard's index shape
    without the pair stage. Docs shorter than 3 tokens have no
    shingles and produce no row (the ngram_shingles contract)."""
    sh = D.ngram_shingles(_docs(spark, sf_dir), 3)
    seen = (
        sh.filter(F.col("doc_id") % 2 == 0).select("shingle").distinct()
        .withColumn("_seen", F.lit(1))
    )
    new = sh.filter(F.col("doc_id") % 2 == 1)
    return (
        new.join(seen, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.col("_seen").isNull().cast("long")).cast("bigint").alias(
                "n_novel"
            ),
        )
        .withColumn(
            "novelty",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ),
        )
    )


TEXT_NGRAM_NOVELTY_SQL = f"""
WITH {_SHINGLES_SQL}, seen AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0
), newsh AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1
)
SELECT n.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN s.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(SUM(CASE WHEN s.shingle IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS novelty
FROM newsh n LEFT JOIN seen s USING (shingle)
GROUP BY n.doc_id
"""


def eval_pr_curve_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 ladder over nine fixed score thresholds —
    the operating-point table that turns eval_model_auc's single
    number into a deployable cutoff choice: thresholds are the 10%
    grid points of the observed logit RANGE (static min/max bounds —
    the calibrated-bounds move the quantile/histogram family uses),
    predictions are logit >= t, labels are the heuristic gate at 0.7.

    100 TB shape: per-distinct-score counts (one mergeable agg) cross
    the 9-row threshold frame — O(|distinct scores| x 9) — then one
    9-group aggregate; every metric derives from exact integer
    TP/FP/FN cells."""
    per_score = (
        _model_scored(spark, sf_dir)
        .groupBy("logit")
        .agg(
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
        )
    )
    bounds = per_score.agg(
        F.min("logit").alias("lo"), F.max("logit").alias("hi")
    )
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("i"))
    thr = grid.crossJoin(F.broadcast(bounds)).select(
        "i",
        (
            F.col("lo")
            + F.col("i").cast("double") * (F.col("hi") - F.col("lo")) / 10
        ).alias("t"),
    )
    cells = (
        per_score.crossJoin(F.broadcast(thr))
        .groupBy("i", "t")
        .agg(
            F.sum(F.when(F.col("logit") >= F.col("t"), F.col("n_pos"))
                  .otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when(F.col("logit") >= F.col("t"), F.col("n_neg"))
                  .otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when(F.col("logit") < F.col("t"), F.col("n_pos"))
                  .otherwise(0)).cast("bigint").alias("fn"),
        )
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    prec = tp / F.nullif(tp + fp, F.lit(0.0))
    rec = tp / F.nullif(tp + fn, F.lit(0.0))
    f1 = 2 * tp / F.nullif(2 * tp + fp + fn, F.lit(0.0))
    return cells.select(
        F.col("i").cast("long").alias("threshold_idx"),
        F.round("t", 6).alias("threshold"),
        "tp", "fp", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def _pr_curve_sql() -> str:
    return _score_bounds_sql(_POS_NEG_SQL) + f""",
thr AS (
  SELECT i, lo + i::DOUBLE * (hi - lo) / 10 AS t
  FROM generate_series(1, 9) AS g(i) CROSS JOIN bounds
), cells AS (
  SELECT i, t,
         CAST(SUM(CASE WHEN logit >= t THEN n_pos ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN logit >= t THEN n_neg ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN logit < t THEN n_pos ELSE 0 END) AS BIGINT) AS fn
  FROM per_score CROSS JOIN thr
  GROUP BY i, t
)
SELECT CAST(i AS BIGINT) AS threshold_idx, round(t, 6) AS threshold,
       tp, fp, fn,
       round(tp::DOUBLE / NULLIF(tp + fp, 0), 6) AS precision,
       round(tp::DOUBLE / NULLIF(tp + fn, 0), 6) AS recall,
       round(2 * tp::DOUBLE / NULLIF(2 * tp + fp + fn, 0), 6) AS f1
FROM cells
"""


def multimodal_npy_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumPy .npy container metadata parse
    (operators/multimodal.npy_header_meta over with_npy_payload): the
    tensor-interchange sibling of the PNG IHDR / RIFF WAV parsers —
    magic/version validation, little-endian header length, descr/shape
    regex extraction, data-length-vs-shape check, and a planted
    big-endian id recovered from the data region. The fixture
    alternates '<f8'/'<f4' dtypes so the itemsize arithmetic is
    exercised."""
    return M.npy_header_meta(M.with_npy_payload(_emb(spark, sf_dir)))


def _npy_meta_sql() -> str:
    from ..operators.multimodal import _npy_header

    h8, h4 = M._npy_header("<f8", 64), _npy_header("<f4", 64)

    def preamble_hex(h: str) -> str:
        return (
            "934E554D50590100"
            + f"{len(h) % 256:02X}{len(h) // 256:02X}"
            + h.encode().hex().upper()
        )

    return f"""
WITH p AS (
  SELECT vec_id,
         (CASE WHEN vec_id % 2 = 0 THEN unhex('{preamble_hex(h8)}')
               ELSE unhex('{preamble_hex(h4)}') END)
         || unhex(lpad(ltrim(hex(vec_id), '0'), 16, '0'))
         || (CASE WHEN vec_id % 2 = 0 THEN unhex(repeat('00', 504))
             ELSE unhex(repeat('00', 248)) END) AS payload
  FROM embeddings
), hx AS (
  SELECT vec_id, payload, hex(payload) AS h FROM p
), parsed AS (
  SELECT vec_id, payload, h,
         substr(h, 1, 12) = '934E554D5059' AS magic_ok,
         ('0x' || substr(h, 13, 2))::BIGINT AS ver_major,
         ('0x' || substr(h, 17, 2))::BIGINT
           + 256 * ('0x' || substr(h, 19, 2))::BIGINT AS header_len
  FROM hx
), meta AS (
  SELECT vec_id, payload, h, magic_ok, ver_major, header_len,
         decode(unhex(substr(h, 21, CAST(header_len * 2 AS INTEGER))))
           AS header
  FROM parsed
)
SELECT vec_id, magic_ok, ver_major, header_len,
       regexp_extract(header, '''descr'': ''([^'']+)''', 1) AS dtype,
       CAST(regexp_extract(header, '''shape'': \\((\\d+),', 1) AS BIGINT)
         AS shape,
       (octet_length(payload) - 10 - header_len)
         = CAST(regexp_extract(header, '''shape'': \\((\\d+),', 1) AS BIGINT)
           * CAST(regexp_extract(
               regexp_extract(header, '''descr'': ''([^'']+)''', 1),
               '(\\d+)$', 1) AS BIGINT) AS data_len_ok,
       ('0x' || substr(h, CAST(21 + header_len * 2 AS INTEGER), 16))::BIGINT
         = vec_id AS data_roundtrip_ok
FROM meta
"""


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve — the tokenizer-budgeting
    report an LLM-data pipeline runs before fixing a vocab size: order
    the corpus by a deterministic md5 shuffle key and report, at ten
    equal-size corpus checkpoints, how many DISTINCT tokens the prefix
    has introduced. Sub-linear growth between checkpoints is the
    empirical Heaps exponent; a near-linear tail means the corpus keeps
    minting tokens (noise, mojibake, or ids) and a bigger vocab buys
    little.

    Scale shape: document positions come from the 256-bucket two-phase
    ranking (dataset_shuffle_shards' recipe — NO global sort over
    docs); each token reduces to its FIRST-SEEN position (one mergeable
    min aggregate — the analytics_dau_cumulative move, so the prefix
    vocab is never re-distincted per checkpoint); the checkpoint index
    is closed-form integer arithmetic (k_min = ceil(10·(pos+1)/N)) and
    the only windows run over the 256-bucket offsets frame and the
    10-row checkpoint grid."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    keyed = docs.select(
        "doc_id", "text",
        F.md5(F.concat(F.lit("heaps:"), F.col("doc_id").cast("string"))).alias(
            "shuf"
        ),
    ).withColumn(
        "bucket", F.conv(F.substring("shuf", 1, 2), 16, 10).cast("int")
    )
    per_bucket = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
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
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    toks = (
        ranked.select(
            "pos", F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.min("pos").alias("first_pos"))
    )
    per_k = (
        toks.crossJoin(F.broadcast(total))
        .select(
            # exact integer ceil: DIV, not double division (a double
            # quotient truncated can misround vs DuckDB's //)
            F.expr(
                "CAST((10 * (first_pos + 1) + n_total - 1) DIV n_total"
                " AS BIGINT)"
            ).alias("k_min"),
            "n_total",
        )
        .groupBy("k_min", "n_total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    grid = (
        total.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("checkpoint"),
            "n_total",
        )
        .join(
            per_k.withColumnRenamed("k_min", "checkpoint"),
            ["checkpoint", "n_total"],
            "left",
        )
        .withColumn("n_new", F.coalesce("n_new", F.lit(0).cast("bigint")))
    )
    w_cum = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return grid.select(
        F.col("checkpoint").cast("bigint").alias("checkpoint"),
        F.floor(F.col("n_total") * F.col("checkpoint") / 10)
        .cast("bigint")
        .alias("n_docs"),
        F.sum("n_new").over(w_cum).cast("bigint").alias("vocab_size"),
    )


TEXT_VOCAB_GROWTH_SQL = rf"""
WITH docs0 AS (
  SELECT doc_id, text FROM documents WHERE trim(text) <> ''
), keyed AS (
  SELECT doc_id, text,
         md5('heaps:' || CAST(doc_id AS VARCHAR)) AS shuf,
         ('0x' || substr(md5('heaps:' || CAST(doc_id AS VARCHAR)), 1, 2))
           ::INTEGER AS bucket
  FROM docs0
), per_bucket AS (
  SELECT bucket, COUNT(*) AS bn FROM keyed GROUP BY bucket
), offsets AS (
  SELECT bucket,
         COALESCE(SUM(bn) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM per_bucket
), ranked AS (
  SELECT k.doc_id, k.text,
         o.base + ROW_NUMBER() OVER (PARTITION BY k.bucket
                                     ORDER BY k.shuf, k.doc_id) - 1 AS pos
  FROM keyed k JOIN offsets o USING (bucket)
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM docs0
), toks AS (
  SELECT tok, MIN(pos) AS first_pos
  FROM (
    SELECT DISTINCT r.pos, u.tok
    FROM ranked r, UNNEST({_TOKS.replace("text", "r.text")}) AS u(tok)
  ) GROUP BY tok
), per_k AS (
  SELECT CAST((10 * (first_pos + 1) + n_total - 1) // n_total AS BIGINT)
           AS k_min,
         n_total, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM toks CROSS JOIN total
  GROUP BY 1, 2
), grid AS (
  SELECT g.checkpoint, t.n_total, COALESCE(p.n_new, 0) AS n_new
  FROM UNNEST(generate_series(1, 10)) AS g(checkpoint)
  CROSS JOIN total t
  LEFT JOIN per_k p ON p.k_min = g.checkpoint AND p.n_total = t.n_total
)
SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
       CAST(floor(n_total * checkpoint / 10) AS BIGINT) AS n_docs,
       CAST(SUM(n_new) OVER (ORDER BY checkpoint
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM grid
"""


def multimodal_tiff_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF/EXIF container metadata parse
    (operators/multimodal.tiff_header_meta over with_tiff_payload): the
    DUAL-ENDIAN member of the container-parser family — PNG is fixed
    big-endian, RIFF/WAV fixed little-endian, .npy little-endian, but
    TIFF declares its own byte order ('II' vs 'MM') and every later
    field read must branch on it. The fixture alternates endianness by
    doc_id parity and varies the first-IFD offset (8 + doc_id % 5 pad)
    so the parser must follow the offset field, then walks the IFD
    entries for ImageWidth/ImageLength and checks the next-IFD
    terminator."""
    return M.tiff_header_meta(M.with_tiff_payload(_docs(spark, sf_dir)))


def _tiff_meta_sql() -> str:
    def h(v: str, n: int) -> str:
        return f"lpad(ltrim(hex({v}), '0'), {n}, '0')"

    def le32(v: str) -> str:
        b = h(v, 8)
        return (f"(substr({b},7,2)||substr({b},5,2)"
                f"||substr({b},3,2)||substr({b},1,2))")

    def be32(v: str) -> str:
        return h(v, 8)

    w, ht, off = "(doc_id % 241 + 16)", "(doc_id % 181 + 16)", "(doc_id % 5 + 8)"
    pad = "repeat('00', CAST(doc_id % 5 AS INTEGER))"
    # constant entry fields: tag/type LONG/count-1 in each byte order
    le_ifd = (f"'0200' || '0001' || '0400' || '01000000' || {le32(w)}"
              f" || '0101' || '0400' || '01000000' || {le32(ht)}"
              f" || '00000000'")
    be_ifd = (f"'0002' || '0100' || '0004' || '00000001' || {be32(w)}"
              f" || '0101' || '0004' || '00000001' || {be32(ht)}"
              f" || '00000000'")

    def u16(bytepos: str) -> str:
        """Endian-aware u16 at 1-based byte position (hex pos 2b-1)."""
        p = f"CAST(2*({bytepos}) - 1 AS INTEGER)"
        return (f"(CASE WHEN le THEN ('0x'||substr(h,{p}+2,2)"
                f"||substr(h,{p},2))::BIGINT "
                f"ELSE ('0x'||substr(h,{p},4))::BIGINT END)")

    def u32(bytepos: str) -> str:
        p = f"CAST(2*({bytepos}) - 1 AS INTEGER)"
        return (f"(CASE WHEN le THEN ('0x'||substr(h,{p}+6,2)"
                f"||substr(h,{p}+4,2)||substr(h,{p}+2,2)"
                f"||substr(h,{p},2))::BIGINT "
                f"ELSE ('0x'||substr(h,{p},8))::BIGINT END)")

    return f"""
WITH p AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0
               THEN unhex('49492A00' || {le32(off)} || {pad} || {le_ifd})
               ELSE unhex('4D4D002A' || {be32(off)} || {pad} || {be_ifd})
          END) || encode(text) AS payload
  FROM documents
), hx AS (
  SELECT doc_id, hex(payload) AS h FROM p
), bo AS (
  SELECT doc_id, h, substr(h, 1, 4) = '4949' AS le FROM hx
), hdr AS (
  SELECT doc_id, h, le,
         {u16("3")} AS magic,
         {u32("5")} AS ifd_off
  FROM bo
), cnt AS (
  SELECT doc_id, h, le, magic, ifd_off,
         {u16("ifd_off + 1")} AS n_entries
  FROM hdr
), ent AS (
  SELECT doc_id,
         {u16("ifd_off + 3 + 12*i")} AS tag,
         {u32("ifd_off + 11 + 12*i")} AS value
  FROM cnt, UNNEST(generate_series(0, n_entries - 1)) AS g(i)
), dims AS (
  SELECT doc_id,
         MAX(CASE WHEN tag = 256 THEN value END) AS width,
         MAX(CASE WHEN tag = 257 THEN value END) AS height
  FROM ent GROUP BY doc_id
)
SELECT c.doc_id, le AS is_little_endian, magic = 42 AS magic_ok,
       ifd_off AS ifd_offset, n_entries, width, height,
       {u32("ifd_off + 3 + 12*n_entries")} = 0 AS last_ifd
FROM cnt c JOIN dims d ON c.doc_id = d.doc_id
"""


def multimodal_tar_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ustar (POSIX tar) archive indexing
    (operators/multimodal.tar_index over with_tar_payload): the
    VARIABLE-OFFSET member of the container-parser family — member k's
    position exists only after parsing members 0..k-1's sizes, so the
    parser walks (parse octal size → advance 512 + 512·ceil(size/512)),
    unrolled for the fixture's 3 members. Per member it recomputes the
    full 512-byte header checksum (checksum field as spaces, per spec)
    against the stored value and md5s the data region. Training
    corpora ship as tar shards (WebDataset et al.), so this is the
    no-decode index pass such a reader runs.

    The oracle is the closed-form SPEC of the expected index (names,
    size formulas, block-arithmetic offsets, data md5 over the same
    rpad construction) rather than a parse replay — hash parity proves
    the build+walk+verify round-trips to ground truth; Python tarfile
    cross-validates the fixture bytes in tests."""
    return M.tar_index(M.with_tar_payload(_docs(spark, sf_dir)))


MULTIMODAL_TAR_INDEX_SQL = """
WITH m AS (
  SELECT doc_id, text, 0 AS member_idx, 'member0.txt' AS name,
         CAST(doc_id % 300 + 100 AS BIGINT) AS size,
         CAST(0 AS BIGINT) AS byte_offset
  FROM documents
  UNION ALL
  SELECT doc_id, text, 1, 'member1.txt',
         CAST(doc_id % 800 + 400 AS BIGINT),
         CAST(1024 AS BIGINT)
  FROM documents
  UNION ALL
  SELECT doc_id, text, 2, 'member2.txt', CAST(50 AS BIGINT),
         CAST(1536 + 512 * ((doc_id % 800 + 400 + 511) // 512) AS BIGINT)
  FROM documents
)
SELECT doc_id, CAST(member_idx AS BIGINT) AS member_idx, name, size,
       byte_offset, TRUE AS checksum_ok, TRUE AS magic_ok,
       md5(rpad(substring(text, 1, 10), CAST(size AS INTEGER), 'x'))
         AS data_md5
FROM m
"""


_MOJIBAKE_MAP = [
    ("Ã©", "é"),        # Ã©  -> é
    ("Ã¼", "ü"),        # Ã¼  -> ü
    ("â€™", "’"),  # â€™ -> ’
    ("â€“", "–"),  # â€“ -> –
]


def text_mojibake_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair — the ftfy-style pass every web-crawl corpus
    needs (UTF-8 bytes mis-decoded as Latin-1 leave 'Ã©' where 'é'
    belongs): fix the four most common double-encoding artifacts with
    chained replaces and report how many were repaired per doc. The
    fixture plants the artifacts deterministically (doc_id residues
    pick which suffix corrupts), so the fix has measurable work at
    every SF and the oracle mirrors both plant and repair verbatim.

    100 TB shape: map-only row-local string replaces — zero Exchange."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    suffix = (
        F.when(d % 4 == 0, F.lit(" cafÃ© rÃ©sumÃ©"))
        .when(d % 4 == 1, F.lit(" MÃ¼nchenâ€™s"))
        .when(d % 4 == 2, F.lit(" 2019â€“2020"))
        .otherwise(F.lit(""))
    )
    dirty = F.concat(F.col("text"), suffix)
    n_bad = sum(
        (
            (F.length(dirty) - F.length(F.replace(dirty, F.lit(bad))))
            / len(bad)
            for bad, _ in _MOJIBAKE_MAP
        ),
        F.lit(0),
    ).cast("long")
    clean = dirty
    for bad, good in _MOJIBAKE_MAP:
        clean = F.replace(clean, F.lit(bad), F.lit(good))
    return docs.select(
        "doc_id",
        n_bad.alias("n_mojibake"),
        F.length(dirty).cast("long").alias("n_dirty_chars"),
        F.length(clean).cast("long").alias("n_clean_chars"),
        clean.alias("clean_text"),
    )


def _mojibake_sql() -> str:
    plant = (
        "(CASE doc_id % 4"
        " WHEN 0 THEN ' cafÃ© rÃ©sumÃ©'"
        " WHEN 1 THEN ' MÃ¼nchenâ€™s'"
        " WHEN 2 THEN ' 2019â€“2020'"
        " ELSE '' END)"
    )
    dirty = f"(text || {plant})"
    n_bad_terms = " + ".join(
        f"(length({dirty}) - length(replace({dirty}, '{bad}', ''))) / {len(bad)}"
        for bad, _ in _MOJIBAKE_MAP
    )
    clean = dirty
    for bad, good in _MOJIBAKE_MAP:
        clean = f"replace({clean}, '{bad}', '{good}')"
    return f"""
SELECT doc_id,
       CAST({n_bad_terms} AS BIGINT) AS n_mojibake,
       CAST(length({dirty}) AS BIGINT) AS n_dirty_chars,
       CAST(length({clean}) AS BIGINT) AS n_clean_chars,
       {clean} AS clean_text
FROM documents
"""


def eval_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Family-level dedup quality harness: plant a ground-truth duplicate
    structure over the documents corpus, run THREE dedup methods over the
    SAME planted corpus, and report per-method precision/recall/F1 — the
    auditable accuracy evidence the individual entries' fixtures give only
    per-method, in the role eval_retrieval_metrics plays for the ANN family.

    Planted corpus: every doc with doc_id%17==0 gains an EXACT copy
    (member_id = doc_id + 1e6) and every doc with doc_id%10==0 and
    >= 5 tokens gains a NEAR-DUP variant (member_id = doc_id + 2e6,
    text = the first floor(4n/5) tokens re-joined — 3-gram shingle
    Jaccard ~= 0.8). Ground truth = all in-group pairs: (base, copy),
    (base, variant), and (copy, variant) where both exist. Evaluation
    restricts predicted pairs to those touching a planted member
    (doc_b >= 1e6), so pre-existing near-dups inside the natural corpus
    are out of scope for both truth and predictions.

    Methods (shared cores with their standalone entries, identical
    parameters): `exact` — same-text pairing (dedup_exact's criterion;
    misses the near-dups by design, its recall IS the exact-method
    ceiling); `ngram_jaccard` — operators/dedup.ngram_jaccard_pairs
    (n=3, threshold 0.5, max_df 100; exact similarity, the recall
    reference); `minhash_banded` — operators/dedup.minhash_banded_pairs
    (16 hashes, 4 bands, est_jaccard >= 0.5; the probabilistic scale
    path whose measured recall/precision this report makes visible).
    The semantic arm (SemDeDup) is embedding-modal and has its own
    planted-identical-vectors spec test + eval_retrieval_metrics-style
    evidence; a text-derived fake embedding here would measure the
    fake, not the method.

    Determinism: both engines build byte-identical corpora (integer
    token-prefix arithmetic), identical MinHash signatures (md5-derived
    universal hashes — dedup_minhash_banded's scheme), and integer
    tp/n_pred/n_truth, so precision = tp/n_pred, recall = tp/n_truth,
    f1 = 2*tp/(n_pred+n_truth) are engine-exact doubles rounded at 6dp.
    100 TB shape: inherits each method's own scale discipline
    (hash-agg, frequency-capped inverted index, banded buckets); the
    exact arm joins on raw text only because the harness corpus is the
    planted sample — a production exact pass joins on sha256 digests
    (dedup_hash)."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    tk = T.tokens(F.col("text"))
    n_tok = F.size(tk)
    keep = F.greatest(F.lit(1), F.floor(n_tok * 4 / 5).cast("int"))
    base = docs.select(F.col("doc_id").alias("member_id"), "text")
    copies = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("member_id"), "text"
    )
    variants = docs.filter((F.col("doc_id") % 10 == 0) & (n_tok >= 5)).select(
        (F.col("doc_id") + 2_000_000).alias("member_id"),
        F.array_join(F.slice(tk, 1, keep), " ").alias("text"),
    )
    corpus = base.unionByName(copies).unionByName(variants)
    # Pin (the cached-loop rule, applied to a fan-out): the planted
    # corpus feeds FOUR consumers (both sides of the exact arm, the
    # jaccard arm, the minhash arm), each of which otherwise re-derives
    # the tokenize+union subtree from the scan. One localCheckpoint
    # materializes it once per invocation (never across runs).
    # eager=False: plan construction stays side-effect-free
    # (explain-only consumers run no materialization job); the pin
    # materializes on the query's own first action instead.
    corpus = corpus.localCheckpoint(eager=False)

    has_copy = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
    has_var = docs.filter((F.col("doc_id") % 10 == 0) & (n_tok >= 5)).select(
        "doc_id"
    )
    truth = (
        has_copy.select(
            F.col("doc_id").alias("a"),
            (F.col("doc_id") + 1_000_000).alias("b"),
        )
        .unionByName(
            has_var.select(
                F.col("doc_id").alias("a"),
                (F.col("doc_id") + 2_000_000).alias("b"),
            )
        )
        .unionByName(
            has_copy.join(has_var, "doc_id").select(
                (F.col("doc_id") + 1_000_000).alias("a"),
                (F.col("doc_id") + 2_000_000).alias("b"),
            )
        )
    )

    planted = F.col("b") >= 1_000_000
    exact_pred = (
        corpus.select(F.col("member_id").alias("a"), "text")
        .join(corpus.select(F.col("member_id").alias("b"), "text"), "text")
        .filter((F.col("a") < F.col("b")) & planted)
        .select("a", "b")
    )
    as_docs = corpus.withColumnRenamed("member_id", "doc_id")
    jac_pred = (
        D.ngram_jaccard_pairs(as_docs, n=3, threshold=0.5, max_df=100)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(planted)
    )
    mh_pred = (
        D.minhash_banded_pairs(as_docs, num_hashes=16, bands=4, max_bucket=100)
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(planted)
    )

    preds = (
        exact_pred.select(F.lit("exact").alias("method"), "a", "b")
        .unionByName(
            jac_pred.select(F.lit("ngram_jaccard").alias("method"), "a", "b")
        )
        .unionByName(
            mh_pred.select(F.lit("minhash_banded").alias("method"), "a", "b")
        )
    )
    stats = (
        preds.join(
            truth.withColumn("is_tp", F.lit(1)), ["a", "b"], "left"
        )
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pred"),
            F.sum(F.coalesce("is_tp", F.lit(0))).cast("bigint").alias("tp"),
        )
    )
    methods = driver_frame(
        spark, [("exact",), ("ngram_jaccard",), ("minhash_banded",)], "method string"
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    out = (
        methods.join(stats, "method", "left")
        .withColumn("n_pred", F.coalesce("n_pred", F.lit(0).cast("bigint")))
        .withColumn("tp", F.coalesce("tp", F.lit(0).cast("bigint")))
        .crossJoin(F.broadcast(n_truth))
    )
    return out.select(
        "method",
        "n_truth",
        "n_pred",
        "tp",
        F.round(
            F.when(
                F.col("n_pred") > 0,
                F.col("tp").cast("double") / F.col("n_pred"),
            ),
            6,
        ).alias("precision"),
        F.round(F.col("tp").cast("double") / F.col("n_truth"), 6).alias(
            "recall"
        ),
        F.round(
            2 * F.col("tp").cast("double")
            / (F.col("n_pred") + F.col("n_truth")),
            6,
        ).alias("f1"),
    )


EVAL_DEDUP_QUALITY_SQL = rf"""
WITH docs0 AS (
  SELECT doc_id, text FROM documents WHERE trim(text) <> ''
), toks0 AS (
  SELECT doc_id, text, {_TOKS} AS tk FROM docs0
), members AS (
  SELECT doc_id AS member_id, text FROM docs0
  UNION ALL
  SELECT doc_id + 1000000, text FROM docs0 WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(tk[1:greatest(1, (4 * len(tk)) // 5)], ' ')
  FROM toks0 WHERE doc_id % 10 = 0 AND len(tk) >= 5
), truth AS (
  SELECT doc_id AS a, doc_id + 1000000 AS b
  FROM docs0 WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, doc_id + 2000000
  FROM toks0 WHERE doc_id % 10 = 0 AND len(tk) >= 5
  UNION ALL
  SELECT doc_id + 1000000, doc_id + 2000000
  FROM toks0 WHERE doc_id % 17 = 0 AND doc_id % 10 = 0 AND len(tk) >= 5
), exact_pred AS (
  SELECT x.member_id AS a, y.member_id AS b
  FROM members x JOIN members y ON x.text = y.text
  WHERE x.member_id < y.member_id AND y.member_id >= 1000000
), mtoks AS (
  SELECT member_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk
  FROM members WHERE trim(text) <> ''
), msh AS (
  SELECT DISTINCT member_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM mtoks, UNNEST(generate_series(1, len(tk) - 2)) AS g(i)
), sizes AS (
  SELECT member_id, COUNT(*) AS n_sh FROM msh GROUP BY member_id
), kept AS (
  SELECT shingle FROM msh GROUP BY shingle HAVING COUNT(*) <= 100
), shc AS (
  SELECT msh.member_id, msh.shingle FROM msh JOIN kept USING (shingle)
), jpairs AS (
  SELECT x.member_id AS a, y.member_id AS b, COUNT(*) AS n_common
  FROM shc x JOIN shc y USING (shingle)
  WHERE x.member_id < y.member_id
  GROUP BY 1, 2
), jac_pred AS (
  SELECT a, b FROM jpairs
  JOIN sizes sa ON a = sa.member_id
  JOIN sizes sb ON b = sb.member_id
  WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
    AND b >= 1000000
), mxs AS (
  SELECT member_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x
  FROM msh
), sigs AS (
  SELECT member_id, h,
         min(((2*h+1)*x + (1000003*h+12345)) % 2147483647) AS sig_h
  FROM mxs, UNNEST(generate_series(0, 15)) AS hh(h)
  GROUP BY member_id, h
), sigarr AS (
  SELECT member_id, array_agg(sig_h ORDER BY h) AS sig FROM sigs
  GROUP BY member_id
), bandkeys AS (
  SELECT member_id, sig, b AS band,
         md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS band_key
  FROM sigarr, UNNEST(generate_series(0, 3)) AS bb(b)
), buckets AS (
  SELECT band, band_key FROM bandkeys GROUP BY 1, 2
  HAVING COUNT(*) BETWEEN 2 AND 100
), mh_pred AS (
  SELECT DISTINCT x.member_id AS a, y.member_id AS b
  FROM bandkeys x
  JOIN bandkeys y USING (band, band_key)
  JOIN buckets USING (band, band_key)
  WHERE x.member_id < y.member_id AND y.member_id >= 1000000
    AND len(list_filter(generate_series(1, 16),
                        i -> x.sig[i] = y.sig[i]))::DOUBLE / 16 >= 0.5
), preds AS (
  SELECT 'exact' AS method, a, b FROM exact_pred
  UNION ALL SELECT 'ngram_jaccard', a, b FROM jac_pred
  UNION ALL SELECT 'minhash_banded', a, b FROM mh_pred
), truth_n AS (
  SELECT COUNT(*) AS n_truth FROM truth
), stats AS (
  SELECT method, COUNT(*) AS n_pred,
         SUM(CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END) AS tp
  FROM preds p LEFT JOIN truth t ON p.a = t.a AND p.b = t.b
  GROUP BY method
), m AS (
  SELECT UNNEST(['exact', 'ngram_jaccard', 'minhash_banded']) AS method
)
SELECT m.method,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
       round(CASE WHEN COALESCE(n_pred, 0) > 0
                  THEN COALESCE(tp, 0)::DOUBLE / n_pred END, 6)
         AS "precision",
       round(COALESCE(tp, 0)::DOUBLE / n_truth, 6) AS recall,
       round(2 * COALESCE(tp, 0)::DOUBLE / (COALESCE(n_pred, 0) + n_truth), 6)
         AS f1
FROM m LEFT JOIN stats USING (method) CROSS JOIN truth_n
"""


_PPJ_TAU_NUM, _PPJ_TAU_DEN = 19, 20   # tau = 0.95, kept as a ratio


def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS set-similarity self-join via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08): every document pair with word-set Jaccard >= tau (19/20),
    with NO frequency cap. dedup_ngram_jaccard stays tractable by
    DROPPING shingles with df > max_df (lossy for pathological
    corpora); this entry is the exact counterpart, stacking the three
    classic lossless prunes:

    1. PREFIX filter — order each set's tokens by (global df ASC,
       token); if J(x,y) >= tau then |x∩y| >= ceil(tau·|x|), so the
       intersection cannot fit in the last ceil(tau·|x|)-1 tokens and
       the first |x| - ceil(tau·|x|) + 1 tokens of BOTH sets must
       share a token. Only prefixes are indexed/joined.
    2. SIZE filter — J >= tau forces tau·max(|x|,|y|) <= min(|x|,|y|),
       checked as DEN·min >= NUM·max (exact integers, no float
       boundary).
    3. POSITIONAL filter (PPJoin proper) — a candidate seen at prefix
       positions (px, py) has overlap upper bound
       1 + min(|x|-px, |y|-py); J >= tau needs overlap
       alpha = ceil(NUM·(|x|+|y|) / (NUM+DEN)), so require
       (NUM+DEN)·ubound >= NUM·(|x|+|y|) — again exact integers.

    Plus the duplicate-cluster collapse from the PPJoin follow-ups:
    IDENTICAL token sets group first (one representative each), the
    filtered join runs over DISTINCT sets, within-group pairs emit
    J = 1 directly (no verification), and qualifying set pairs expand
    to doc pairs output-bound. On this corpus (a ~270-doc identical
    template cluster) the collapse + positional filter are what keep
    the candidate set small.

    100 TB shape: the global token order needs NO rank — (df, token)
    IS the total order, so prefixes come from one array_sort over
    struct(df, tok); the join shuffles only the ~(1-tau) prefix slice
    of the DISTINCT-set incidence; verification touches surviving
    candidates only (array_intersect over the two sorted arrays);
    exact-dup clusters never re-verify. Output is the true pair set —
    Θ(Σ cluster²) is inherent to pair semantics; at extreme cluster
    sizes emit the (set_rep, member) star instead."""
    NUM, DEN = _PPJ_TAU_NUM, _PPJ_TAU_DEN
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    dts = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            )
        ).alias("tset"),
    )
    sets = dts.groupBy("tset").agg(
        F.min("doc_id").alias("sid"),
        F.sort_array(F.collect_list("doc_id")).alias("members"),
    )
    stoks = sets.select(
        "sid", F.explode("tset").alias("tok"), F.size("tset").alias("n")
    )
    dfreq = stoks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        stoks.join(dfreq, "tok")
        .groupBy("sid", "n")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s.tok,
            ).alias("ts")
        )
    )
    # prefix length = n - ceil(tau*n) + 1, ceil done in integers
    plen = (
        F.col("n") - F.floor((F.lit(NUM) * F.col("n") + DEN - 1) / DEN) + 1
    ).cast("int")
    pref = ordered.select(
        "sid", "n",
        F.posexplode(F.slice("ts", 1, plen)).alias("pos0", "tok"),
    ).select("sid", "n", "tok", (F.col("pos0") + 1).alias("pos"))
    a, b = pref.alias("a"), pref.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    ub = 1 + F.least(na - F.col("a.pos"), nb - F.col("b.pos"))
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.sid") < F.col("b.sid"))
            & (F.lit(DEN) * F.least(na, nb) >= F.lit(NUM) * F.greatest(na, nb))
            & (F.lit(NUM + DEN) * ub >= F.lit(NUM) * (na + nb)),
        )
        .select(
            F.col("a.sid").alias("sid_a"), F.col("b.sid").alias("sid_b")
        )
        .distinct()
    )
    sa = sets.select(F.col("sid").alias("sid_a"),
                     F.col("tset").alias("ts_a"),
                     F.col("members").alias("m_a"))
    sb = sets.select(F.col("sid").alias("sid_b"),
                     F.col("tset").alias("ts_b"),
                     F.col("members").alias("m_b"))
    verified = (
        cand.join(sa, "sid_a")
        .join(sb, "sid_b")
        .select(
            "m_a", "m_b",
            F.size(F.array_intersect("ts_a", "ts_b"))
            .cast("long").alias("n_common"),
            F.size("ts_a").alias("n_a"), F.size("ts_b").alias("n_b"),
        )
        .filter(
            F.lit(DEN) * F.col("n_common")
            >= F.lit(NUM) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    cross = verified.select(
        F.explode("m_a").alias("da"), "m_b", "n_common", "n_a", "n_b"
    ).select(
        F.explode("m_b").alias("db"), "da", "n_common",
        (F.col("n_a") + F.col("n_b") - F.col("n_common")).alias("u"),
    ).select(
        F.least("da", "db").alias("doc_a"),
        F.greatest("da", "db").alias("doc_b"),
        "n_common",
        F.round(F.col("n_common").cast("double") / F.col("u"), 6)
        .alias("jaccard"),
    )
    pair_arrays = D.bucket_pairs(
        F.col("members"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    within = (
        sets.filter(F.size("members") >= 2)
        .select(F.size("tset").cast("long").alias("n_common"),
                F.explode(pair_arrays).alias("p"))
        .select("p.doc_a", "p.doc_b", "n_common",
                F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


# Oracle = the BRUTE-FORCE inverted-index join over ALL tokens of ALL
# docs (every pair with J >= tau > 0 shares a token, so this is
# exhaustive) — an equivalence proof that the prefix/size/positional
# filters and the identical-set collapse lose nothing, not a mirror.
DEDUP_PREFIX_FILTER_SQL = rf"""
WITH toks AS (
  SELECT doc_id, list_distinct({_TOKS}) AS tk
  FROM documents WHERE trim(text) <> ''
), t AS (
  SELECT doc_id, u.tok FROM toks, UNNEST(tk) AS u(tok)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
  FROM t a JOIN t b USING (tok)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(nc AS BIGINT) AS n_common,
       round(nc::DOUBLE / (sa.n + sb.n - nc), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE {_PPJ_TAU_DEN} * nc >= {_PPJ_TAU_NUM} * (sa.n + sb.n - nc)
"""


_OUTLIER_U = 1_000_000
_OUTLIER_TOPK = 5


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise candidates by centroid distance — the embedding-side
    mislabel detector every curated training set runs (Northcutt's
    confident-learning intuition in its cheapest form): per label, the
    top-k vectors FARTHEST from their own label's centroid. All
    arithmetic is exact: micro-unit integer components xu, per-label
    integer sums S_d, and the n-scaled squared distance
    D2 = Σ_d (n·xu_d − S_d)²  (= n²·U²·‖x − μ‖², so ranking by D2 is
    ranking by true distance) — every comparison is integer, so the
    top-k is deterministic across engines, and the reported distance
    only converts to double at the very end (string-cast convention).

    100 TB shape: one (label, dim) hash-agg for the sums (explode is
    64× but mergeable map-side), the #labels-row centroid-sum frame
    broadcast back, D2 via zip_with/aggregate on the UNEXPLODED
    vectors, and a per-LABEL window for the top-k. Digit budget:
    |n·xu| < 3×10⁹ per component keeps each square < 10¹⁹ and the
    64-dim D2 < 10²¹ ≪ 10³⁸."""
    emb = _emb(spark, sf_dir)
    U = _OUTLIER_U
    xu = emb.select(
        "vec_id", "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * U).cast("long"),
        ).alias("xu"),
    )
    sums = (
        xu.select("label", F.posexplode("xu").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda t: t.s,
            ).alias("sa"),
            F.max("n").alias("n"),
        )
    )
    dec = "decimal(38,0)"
    diff = F.zip_with(
        F.col("xu"), F.col("sa"), lambda x, s: F.col("n") * x - s
    )
    d2 = F.aggregate(
        diff,
        F.lit(0).cast(dec),
        lambda acc, v: acc + v.cast("decimal(19,0)") * v.cast("decimal(19,0)"),
    )
    scored = xu.join(F.broadcast(sums), "label").select(
        "label", "vec_id", "n", d2.alias("d2")
    )
    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _OUTLIER_TOPK)
        .select(
            "label",
            F.col("rank").cast("bigint").alias("rank"),
            "vec_id",
            F.round(
                F.sqrt(F.col("d2").cast("string").cast("double"))
                / (F.col("n").cast("double") * U),
                6,
            ).alias("dist_to_centroid"),
        )
    )


EMBEDDING_LABEL_OUTLIERS_SQL = f"""
WITH xu AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {_OUTLIER_U}) AS HUGEINT)) AS xu
  FROM embeddings
), cnt AS (
  SELECT label, CAST(COUNT(*) AS HUGEINT) AS n FROM xu GROUP BY label
), ex AS (
  SELECT label, u.i AS dim, xu[u.i] AS v
  FROM xu, UNNEST(generate_series(1, len(xu))) AS u(i)
), s AS (
  SELECT label, dim, SUM(v) AS s FROM ex GROUP BY 1, 2
), sa AS (
  SELECT label, list(s ORDER BY dim) AS sa FROM s GROUP BY label
), d AS (
  SELECT xu.vec_id, xu.label, cnt.n,
         list_sum(list_transform(generate_series(1, len(xu.xu)),
           i -> (cnt.n * xu.xu[i] - sa.sa[i])
              * (cnt.n * xu.xu[i] - sa.sa[i]))) AS d2
  FROM xu JOIN cnt USING (label) JOIN sa USING (label)
), r AS (
  SELECT label, vec_id, n, d2,
         row_number() OVER (PARTITION BY label
                            ORDER BY d2 DESC, vec_id) AS rank
  FROM d
)
SELECT label, CAST(rank AS BIGINT) AS rank, vec_id,
       round(sqrt(CAST(CAST(d2 AS VARCHAR) AS DOUBLE))
             / (CAST(n AS DOUBLE) * {_OUTLIER_U}), 6) AS dist_to_centroid
FROM r WHERE rank <= {_OUTLIER_TOPK}
"""


def multimodal_zip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP archive indexing via the EOCD → central-directory pointer
    chain (operators/multimodal.with_zip_payload + zip_index): the
    back-pointer member of the container-parser family (tar walks
    sizes from the front; ZIP's tail record points at variable-length
    central entries that chain to each member's local header). The
    fixture carries REAL CRC-32s (F.crc32), so tests validate the
    bytes end-to-end with Python's zipfile INCLUDING data reads. Like
    MULTIMODAL_TAR_INDEX_SQL, the oracle derives the index closed-form
    from the size formulas — an independent derivation of what the
    byte walk must find, with the physical-parse rigor carried by the
    zipfile spec test."""
    return M.zip_index(M.with_zip_payload(_docs(spark, sf_dir)))


def _zip_index_sql() -> str:
    names = M._ZIP_NAMES
    sizes = ["doc_id % 200 + 50", "doc_id % 500 + 200", "40"]
    # local header offsets accumulate 30 + namelen + size per member;
    # the central directory starts after the last member's data
    offs, acc = [], "0"
    for n, s in zip(names, sizes):
        offs.append(acc)
        acc = f"({acc} + 30 + {len(n)} + ({s}))"
    selects = []
    for j, (n, s) in enumerate(zip(names, sizes)):
        selects.append(f"""
  SELECT doc_id, CAST({j} AS BIGINT) AS member_idx, '{n}' AS name,
         CAST(0 AS BIGINT) AS method,
         CAST({s} AS BIGINT) AS usize,
         CAST({offs[j]} AS BIGINT) AS local_offset,
         TRUE AS cd_ok, TRUE AS local_ok,
         md5(rpad(substring(text, 1, 10), CAST({s} AS INT), 'y'))
           AS data_md5
  FROM documents""")
    return "\nUNION ALL\n".join(selects)


def multimodal_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG/JFIF frame geometry via a marker-segment WALK
    (operators/multimodal.with_jpeg_payload + jpeg_sof_meta): unlike
    PNG's fixed IHDR offset, a JPEG's SOF0/SOF2 frame header sits after
    a variable number of length-prefixed segments (APP0, comments), so
    the parser must hop marker-to-marker reading big-endian u16 length
    fields — the length-prefixed sibling of multimodal_tar_index's
    size-padded walk. The fixture varies comment lengths and segment
    counts by doc_id (offsets are unknowable without the walk), mixes
    baseline FFC0 / progressive FFC2 frames, and routes 1/5 of rows as
    non-JPEG text through the rejection path. The oracle rebuilds the
    same bytes and replays the same unrolled hops on the hex string."""
    return M.jpeg_sof_meta(M.with_jpeg_payload(_docs(spark, sf_dir)))


def _jpeg_meta_sql() -> str:
    jpeg_hex = (
        "'FFD8' || 'FFE000104A46494600010100004800480000'"
        " || 'FFFE' || lpad(hex(doc_id % 7 + 4), 4, '0')"
        " || repeat('58', CAST(doc_id % 7 + 2 AS INT))"
        " || CASE WHEN doc_id % 3 = 0 THEN 'FFFE0005595959' ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END"
        " || '001108' || lpad(hex(doc_id % 480 + 8), 4, '0')"
        " || lpad(hex(doc_id % 640 + 8), 4, '0')"
        " || '03011100021101031101'"
    )

    def u8(off):
        return f"TRY_CAST('0x' || substr(hx, 2*({off}) + 1, 2) AS BIGINT)"

    def u16(off):
        return f"TRY_CAST('0x' || substr(hx, 2*({off}) + 1, 4) AS BIGINT)"

    walk = ["SELECT doc_id, hx, CAST(2 AS BIGINT) AS off FROM h"]
    for k in range(5):
        walk.append(
            f"SELECT doc_id, hx, CASE WHEN {u8('off')} = 255 AND "
            f"{u8('off + 1')} IN (192, 194) THEN off "
            f"ELSE off + 2 + {u16('off + 2')} END AS off "
            f"FROM w{k}"
        )
    ctes = ",\n".join(f"w{k} AS ({q})" for k, q in enumerate(walk))
    return f"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 4 THEN NULL
              ELSE hex(unhex({jpeg_hex}) || encode(text)) END AS hx
  FROM documents
),
h AS (SELECT doc_id, hx FROM p),
{ctes},
sof AS (
  SELECT doc_id, hx, off,
         ({u8('off')} = 255 AND {u8('off + 1')} IN (192, 194)) AS ok,
         {u8('off + 1')} AS m
  FROM w5
)
SELECT doc_id,
       CAST(hx IS NOT NULL AS BIGINT) AS is_jpeg,
       CASE WHEN ok THEN CAST(m = 194 AS BIGINT) END AS progressive,
       CASE WHEN ok THEN {u8('off + 4')} END AS precision,
       CASE WHEN ok THEN {u16('off + 5')} END AS height,
       CASE WHEN ok THEN {u16('off + 7')} END AS width,
       CASE WHEN ok THEN {u8('off + 9')} END AS n_components,
       CASE WHEN ok THEN off END AS sof_offset
FROM sof
"""



def multimodal_gif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF Logical Screen Descriptor parse
    (operators/multimodal.with_gif_payload + gif_lsd_meta): the packed
    BIT-FIELD member of the container-parser family — one flags byte
    carries the global-color-table flag (bit 7), color resolution
    (bits 6-4) and GCT size (bits 2-0, table entries = 2^(size+1)),
    so the parser must mask/shift inside a byte rather than read whole
    fields. 1/5 of rows route through the non-GIF rejection path. The
    oracle derives every field closed-form from the fixture formulas;
    the physical byte parse is pinned by the struct.pack reference
    test."""
    return M.gif_lsd_meta(M.with_gif_payload(_docs(spark, sf_dir)))


MULTIMODAL_GIF_SQL = """
SELECT doc_id,
  CAST(doc_id % 5 <> 4 AS BIGINT) AS is_gif,
  CASE WHEN doc_id % 5 <> 4 THEN
    CASE WHEN doc_id % 2 = 0 THEN '87a' ELSE '89a' END END AS version,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 500 + 1 AS BIGINT) END AS width,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS height,
  CASE WHEN doc_id % 5 <> 4 THEN doc_id % 3 <> 0 END AS has_gct,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 8 AS BIGINT) END
    AS color_resolution,
  CASE WHEN doc_id % 5 <> 4 THEN
    CASE WHEN doc_id % 3 <> 0
         THEN CAST(2 << (doc_id % 8) AS BIGINT) ELSE 0 END END AS gct_entries,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 256 AS BIGINT) END AS bg_index
FROM documents
"""


def multimodal_bmp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP header parse (operators/multimodal.with_bmp_payload +
    bmp_header_meta): the SIGNED-field member of the container-parser
    family — height is a little-endian two's-complement i32 whose sign
    encodes row order (negative = top-down), so the parser
    reconstructs sign from the unsigned read (v >= 2^31 -> v - 2^32).
    1/5 of rows route through the rejection path. Closed-form oracle +
    struct.pack reference test."""
    return M.bmp_header_meta(M.with_bmp_payload(_docs(spark, sf_dir)))


MULTIMODAL_BMP_SQL = """
SELECT doc_id,
  CAST(doc_id % 5 <> 4 AS BIGINT) AS is_bmp,
  CASE WHEN doc_id % 5 <> 4
       THEN CAST(octet_length(encode(text)) + 54 AS BIGINT) END AS file_size,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(54 AS BIGINT) END AS data_offset,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 400 + 1 AS BIGINT) END AS width,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS height,
  CASE WHEN doc_id % 5 <> 4 THEN doc_id % 3 = 0 END AS top_down,
  CASE WHEN doc_id % 5 <> 4 THEN CAST((doc_id % 3) * 8 + 8 AS BIGINT) END
    AS bits_per_pixel,
  CASE WHEN doc_id % 5 <> 4 THEN TRUE END AS uncompressed
FROM documents
"""


def multimodal_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP dimension parse (operators/multimodal.with_webp_payload +
    webp_meta): the VARIANT-DISPATCH member of the container-parser
    family — one RIFF container, two bitstream layouts in the fixture
    ('VP8 ' lossy: 14-bit dims inside LE u16s after the 9D 01 2A start
    code; 'VP8L' lossless: width-1/height-1 as 14-bit fields + alpha
    bit packed in one LE u32), dispatched on the chunk fourcc. 1/5 of
    rows route through the rejection path. Closed-form oracle +
    struct.pack reference test."""
    return M.webp_meta(M.with_webp_payload(_docs(spark, sf_dir)))


MULTIMODAL_WEBP_SQL = """
SELECT doc_id,
  CAST(doc_id % 5 <> 4 AS BIGINT) AS is_webp,
  CASE WHEN doc_id % 5 <> 4 THEN
    CASE WHEN doc_id % 2 = 0 THEN 'lossy' ELSE 'lossless' END END AS format,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 800 + 1 AS BIGINT) END AS width,
  CASE WHEN doc_id % 5 <> 4 THEN CAST(doc_id % 600 + 1 AS BIGINT) END AS height,
  CASE WHEN doc_id % 5 <> 4 AND doc_id % 2 = 1
       THEN (doc_id // 2) % 2 = 1 END AS has_alpha
FROM documents
"""


def multimodal_mp4_box_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF (MP4) top-level box-table index
    (operators/multimodal.with_mp4_payload + mp4_box_index): the
    big-endian length-prefixed sibling of multimodal_tar_index
    (size-padded walk) and multimodal_zip_index (tail-directory walk)
    — u32-BE size + fourcc headers hopped size-by-size from offset 0
    as ONE F.aggregate fold, exploded via the struct-transform idiom.
    The free box's size varies by doc_id, so offsets are unknowable
    without reading the size fields. Non-MP4 rows (1/5) keep one row
    with NULL box fields. The oracle derives the box table closed-form
    from the fixture's size formulas — an independent derivation of
    what the byte walk must find; the physical parse rigor is carried
    by the struct-unpack reference test."""
    return M.mp4_box_index(M.with_mp4_payload(_docs(spark, sf_dir)))


MULTIMODAL_MP4_SQL = """
WITH L AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS tl,
         CAST(doc_id % 32 + 8 AS BIGINT) AS fl
  FROM documents
), boxes AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS box_idx, 'ftyp' AS box_type,
         CAST(20 AS BIGINT) AS box_size, CAST(0 AS BIGINT) AS box_offset
  FROM L WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT doc_id, 1, 'free', fl, 20 FROM L WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT doc_id, 2, 'mdat', tl + 8, 20 + fl FROM L WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT doc_id, 3, 'moov', 8, 28 + fl + tl FROM L WHERE doc_id % 5 <> 4
)
SELECT doc_id, CAST(1 AS BIGINT) AS is_mp4, box_idx, box_type, box_size,
       box_offset, TRUE AS end_ok
FROM boxes
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), NULL, NULL, NULL, NULL, NULL
FROM L WHERE doc_id % 5 = 4
"""


def multimodal_riff_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic RIFF chunk-table walk (operators/multimodal.
    riff_chunk_index over with_wav_payload): the LITTLE-endian
    length-prefixed member of the container-walk family (mp4 = BE
    boxes, png = BE + CRC, tar = 512-padded, zip = tail directory) —
    (fourcc, LE u32 size) headers hopped from offset 12 with the RIFF
    even-byte padding rule, as ONE F.aggregate fold. 3/4 of rows route
    through the rejection path (the wav fixture gives only
    doc_id % 4 == 1 rows a full RIFF container). The oracle derives
    the fmt/data chunk table closed-form from the fixture; physical
    parse rigor is carried by the struct.pack corruption test."""
    return M.riff_chunk_index(M.with_wav_payload(_docs(spark, sf_dir)))


MULTIMODAL_RIFF_SQL = """
WITH L AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS dl
  FROM documents
), chunks AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS chunk_idx, 'fmt ' AS fourcc,
         CAST(16 AS BIGINT) AS chunk_size, CAST(12 AS BIGINT) AS chunk_offset
  FROM L WHERE doc_id % 4 = 1
  UNION ALL
  SELECT doc_id, 1, 'data', dl, 36 FROM L WHERE doc_id % 4 = 1
)
SELECT doc_id, CAST(1 AS BIGINT) AS is_riff, chunk_idx, fourcc,
       chunk_size, chunk_offset, TRUE AS end_ok
FROM chunks
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), NULL, NULL, NULL, NULL, NULL
FROM L WHERE doc_id % 4 <> 1
"""


_RAKE_STOP = (
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
    "or", "from", "but", "not", "have", "has", "had", "they", "you",
    "we",
)
_RAKE_MIN_FREQ = 3
_RAKE_K = 20


def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus — the
    unsupervised keyword pass between plain TF (text_token_stats) and
    TF-IDF (text_tfidf_top_terms): candidate phrases are maximal runs
    of non-stopword tokens (stopwords AND punctuation break phrases —
    the fixed 30-word stoplist + empty tokens from the [^a-z]+ split),
    a word's degree sums the LENGTHS of the phrases it occurs in
    (co-occurrence incl. self, per occurrence), and the RAKE score is
    degree/freq — favoring words that live in long multi-word phrases.
    Top-20 with freq >= 3, totally ordered.

    100 TB shape: phrase segmentation is ONE doc-keyed
    gaps-and-islands window (running break count) after a bounded
    token explode; scoring is one (doc, phrase) size agg + one word
    hash-agg; the report is TakeOrdered k. Every number is an exact
    integer until the single score division."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.lower(F.col("text")), r"[^a-z]+")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.transform(words, lambda w, i: F.struct(
                i.alias("pos"), w.alias("w")))
        ).alias("t"),
    ).select("doc_id", F.col("t.pos").alias("pos"), F.col("t.w").alias("w"))
    is_break = (F.col("w") == "") | F.col("w").isin(*_RAKE_STOP)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = toks.select(
        "doc_id", "w",
        is_break.cast("long").alias("br"),
        F.sum(is_break.cast("long")).over(w_doc).alias("isl"),
    )
    members = islands.filter(F.col("br") == 0).select("doc_id", "isl", "w")
    sizes = members.groupBy("doc_id", "isl").agg(
        F.count(F.lit(1)).cast("bigint").alias("plen")
    )
    scored = (
        members.join(sizes, ["doc_id", "isl"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
        )
        .filter(F.col("freq") >= _RAKE_MIN_FREQ)
        .select(
            F.col("w").alias("word"), "freq", "degree",
            F.round(
                F.col("degree").cast("double") / F.col("freq").cast("double"),
                6,
            ).alias("rake_score"),
        )
    )
    return scored.orderBy(
        F.desc("rake_score"), F.desc("freq"), F.asc("word")
    ).limit(_RAKE_K)


def _rake_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    return f"""
WITH split_docs AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z]+') AS l
  FROM documents
), toks AS (
  SELECT doc_id, i AS pos, l[i + 1] AS w
  FROM split_docs, unnest(range(length(l))) t(i)
), flagged AS (
  SELECT doc_id, pos, w,
         CAST(w = '' OR w IN ({stops}) AS BIGINT) AS br
  FROM toks
), islands AS (
  SELECT doc_id, w, br,
         SUM(br) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged
), members AS (
  SELECT doc_id, isl, w FROM islands WHERE br = 0
), sizes AS (
  SELECT doc_id, isl, CAST(COUNT(*) AS BIGINT) AS plen
  FROM members GROUP BY doc_id, isl
), scored AS (
  SELECT m.w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(s.plen) AS BIGINT) AS degree
  FROM members m JOIN sizes s USING (doc_id, isl)
  GROUP BY m.w
)
SELECT w AS word, freq, degree,
       round(degree::DOUBLE / freq, 6) AS rake_score
FROM scored WHERE freq >= {_RAKE_MIN_FREQ}
ORDER BY rake_score DESC, freq DESC, word ASC
LIMIT {_RAKE_K}
"""


def multimodal_png_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG chunk-table walk with REAL CRC-32 verification
    (operators/multimodal.with_png_chunks_payload + png_chunk_index):
    the CHECKSUMMED member of the walk family — PNG's CRC covers
    type+data and F.crc32 recomputes it in-plan, so the fixture's
    planted corruptions (tEXt CRC xor'd on doc_id % 7 == 3) surface as
    crc_ok = false; a variable-length tEXt keyword makes offsets
    unknowable without the walk. Complements multimodal_png_meta
    (fixed-offset IHDR read) with the full container scan. The oracle
    derives lengths/offsets/verdicts closed-form from the fixture
    formulas; the physical parse is pinned by the zlib.crc32 reference
    test."""
    return M.png_chunk_index(M.with_png_chunks_payload(_docs(spark, sf_dir)))


MULTIMODAL_PNG_CHUNKS_SQL = """
WITH L AS (
  SELECT doc_id,
         CAST(doc_id % 20 + 1 + 2 AS BIGINT) AS tlen,
         CAST(least(80, octet_length(encode(text))) AS BIGINT) AS ilen
  FROM documents
), chunks AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS chunk_idx, 'IHDR' AS chunk_type,
         CAST(13 AS BIGINT) AS data_len, CAST(8 AS BIGINT) AS chunk_offset,
         TRUE AS crc_ok
  FROM L WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT doc_id, 1, 'tEXt', tlen, 33, doc_id % 7 <> 3
  FROM L WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT doc_id, 2, 'IDAT', ilen, 45 + tlen, TRUE
  FROM L WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT doc_id, 3, 'IEND', 0, 57 + tlen + ilen, TRUE
  FROM L WHERE doc_id % 5 <> 4
)
SELECT doc_id, CAST(1 AS BIGINT) AS is_png, chunk_idx, chunk_type,
       data_len, chunk_offset, crc_ok, TRUE AS end_ok
FROM chunks
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL
FROM L WHERE doc_id % 5 = 4
"""


_PCA_U = 1_000_000
_PCA_SCALE = 1e13
_PCA_ITERS = 3


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding table by power iteration
    — the deterministic twin of PCA's first component: three iterations
    of w ← normalize(XᵀXw) starting from the fixed ramp w₀ ∝ (dim+1),
    with EVERY cross-row reduction exact. Embeddings quantize to
    micro-units once, each row scalar Xw is an exact BIGINT dot product,
    and the dim reduction Xᵀ(Xw) accumulates in DECIMAL(38,0)/HUGEINT
    with a string hop to double.

    A driver loop, the MLlib structure for a small iterate: each
    iteration is ONE flat Spark pass computing t = Xᵀ(Xw) against w as
    a 64-value array literal, and it collects only the 64 t values. The
    driver then takes ts = floor(t/S), the norm from the exact integer
    sum of ts² (int -> double, correctly rounded like the string hop)
    and the rescaled floor(t/(√nsq·S)·U) in IEEE doubles — the same
    operations the SQL oracle runs, so both engines land bit-identical
    loadings. The final round(w/U, 6) runs in Spark (HALF_UP, as the
    oracle's round does).

    100 TB shape: per iteration, one narrow per-row dot product against
    the literal and one mergeable per-dim hash-agg — never a d×d
    covariance materialization, never a global sort, no join. The
    fixture's spectrum is nearly flat (λ2/λ1 ≈ 0.93), so 3 iterations
    do NOT pin the exact eigenvector — the spec test asserts what power
    iteration guarantees: a STRICTLY MONOTONE Rayleigh quotient bounded
    by λ1, plus exact numpy-replica equality of the quantized
    arithmetic."""
    x = _emb(spark, sf_dir).select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * _PCA_U).cast("long"),
        ).alias("m")
    )
    # posexplode numbers every vector's dims 0..len-1, so the t rows are
    # the dense dims 0..D-1 and w is indexed by position; a dim a vector
    # lacks contributes nothing, as in the oracle's join on dim
    w = [(d + 1) * _PCA_U for d in range(64)]
    for _ in range(_PCA_ITERS):
        wl = F.array(*map(F.lit, w)).cast("array<bigint>")
        srow = F.aggregate(
            F.zip_with("m", wl, lambda m, wd: F.coalesce(m * wd, F.lit(0))),
            F.lit(0).cast("long"),
            lambda acc, p: acc + p,
        )
        t = sorted(
            x.select("m", srow.alias("srow"))
            .select("srow", F.posexplode("m").alias("dim", "m"))
            .groupBy("dim")
            .agg(
                _dec_to_double(
                    F.sum(F.col("srow").cast("decimal(38,0)") * F.col("m"))
                ).alias("t")
            )
            .collect()
        )
        nsq = float(sum(_math.floor(r.t / _PCA_SCALE) ** 2 for r in t))
        w = [
            _math.floor(r.t / (_math.sqrt(nsq) * _PCA_SCALE) * _PCA_U)
            if nsq > 0 else 0
            for r in t
        ]
    return driver_frame(
        spark, list(enumerate(w)), "dim bigint, w bigint"
    ).select("dim", F.round(F.col("w") / F.lit(float(_PCA_U)), 6).alias("loading"))


def _pca_power_sql() -> str:
    U, S = _PCA_U, _PCA_SCALE
    parts = [f"""
d AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         CAST(floor(CAST(embedding AS DOUBLE[])[i] * {U}) AS BIGINT) AS m
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
),
v0 AS (
  SELECT CAST(i AS BIGINT) AS dim, CAST((i + 1) * {U} AS BIGINT) AS w
  FROM range(64) t(i)
)"""]
    for k in range(1, _PCA_ITERS + 1):
        parts.append(f"""
s{k} AS (
  SELECT d.vec_id, CAST(SUM(d.m * v.w) AS BIGINT) AS srow
  FROM d JOIN v{k - 1} v USING (dim) GROUP BY d.vec_id
),
t{k} AS (
  SELECT d.dim,
         CAST(CAST(SUM(CAST(s.srow AS HUGEINT) * d.m) AS VARCHAR) AS DOUBLE)
           AS t
  FROM d JOIN s{k} s USING (vec_id) GROUP BY d.dim
),
tt{k} AS (
  SELECT dim, t, CAST(floor(t / {S}) AS BIGINT) AS ts FROM t{k}
),
n{k} AS (
  SELECT CAST(CAST(SUM(CAST(ts AS HUGEINT) * ts) AS VARCHAR) AS DOUBLE)
           AS nsq
  FROM tt{k}
),
v{k} AS (
  SELECT dim,
         CASE WHEN nsq > 0
              THEN CAST(floor(t / (sqrt(nsq) * {S}) * {U}.0) AS BIGINT)
              ELSE 0 END AS w
  FROM tt{k} CROSS JOIN n{k}
)""")
    return (
        "WITH " + ",".join(parts)
        + f"""
SELECT dim, round(w / {U}.0, 6) AS loading FROM v{_PCA_ITERS}
"""
    )


def eval_model_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the learned quality model — the
    decile-grained companion of eval_model_auc's one-number rank test
    (campaign targeting reads "the top 2 deciles capture X% of
    positives" straight off this): score DESC deciles with a
    DETERMINISTIC tie convention (a distinct score's whole tie group
    lands in the decile of its TOP row — ntile's arbitrary tie split
    would be engine-dependent), per-decile rows/positives and
    cumulative capture + lift.

    Scale shape: scores collapse to per-distinct-score counts, the
    below-count comes from the AUC entry's _score_buckets two-phase
    cumulative (no global ordering over raw rows), deciles are
    closed-form integer arithmetic, and the cumulative windows run
    over the ≤10-row decile grid (waived)."""
    per_score = _model_scored(spark, sf_dir).groupBy("logit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    withb = _score_buckets(per_score)
    per_bucket = withb.groupBy("bucket").agg(F.sum("n").alias("bn"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_base = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("below_bucket"),
    )
    win = (
        Window.partitionBy("bucket").orderBy("logit")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        withb.join(F.broadcast(bucket_base), "bucket")
        .select(
            "logit", "n", "n_pos",
            (
                F.col("below_bucket")
                + F.coalesce(F.sum("n").over(win), F.lit(0))
            ).alias("n_below"),
        )
    )
    tot = per_score.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum("n_pos").cast("bigint").alias("total_pos"),
    )
    # decile of the tie group = decile of its TOP row in DESC order
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "n", "n_pos", "total", "total_pos",
            F.floor(
                10 * (F.col("total") - F.col("n_below") - F.col("n"))
                / F.col("total")
            ).cast("bigint").alias("decile"),
        )
        .groupBy("decile", "total", "total_pos")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.sum("n_pos").cast("bigint").alias("n_pos"),
        )
    )
    grid = tot.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("d10"),
        "total", "total_pos",
    ).select(
        F.col("d10").cast("bigint").alias("decile"), "total", "total_pos"
    ).join(dec, ["decile", "total", "total_pos"], "left").select(
        "decile", "total", "total_pos",
        F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("n_pos", F.lit(0).cast("bigint")).alias("n_pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_rows = F.sum("n_rows").over(wcum)
    cum_pos = F.sum("n_pos").over(wcum)
    return grid.select(
        "decile", "n_rows", "n_pos",
        F.round(
            cum_pos.cast("double") / F.nullif(F.col("total_pos"), F.lit(0)),
            6,
        ).alias("cum_capture"),
        F.round(
            (cum_pos.cast("double") / F.nullif(cum_rows, F.lit(0)))
            / (
                F.col("total_pos").cast("double")
                / F.col("total")
            ),
            6,
        ).alias("cum_lift"),
    )


def _gains_sql() -> str:
    return _score_buckets_sql(
        """CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos""", "n, n_pos",
    ) + f""", per_bucket AS (
  SELECT bucket, SUM(n) AS bn FROM withb GROUP BY bucket
), bucket_base AS (
  SELECT bucket,
         COALESCE(SUM(bn) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below_bucket
  FROM per_bucket
), ranked AS (
  SELECT w.n, w.n_pos,
         b.below_bucket
         + COALESCE(SUM(w.n) OVER (PARTITION BY w.bucket ORDER BY w.logit
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_below
  FROM withb w JOIN bucket_base b USING (bucket)
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n_pos) AS BIGINT) AS total_pos
  FROM per_score
), dec AS (
  SELECT CAST(floor(10 * (t.total - r.n_below - r.n) / t.total) AS BIGINT)
           AS decile,
         t.total, t.total_pos,
         CAST(SUM(r.n) AS BIGINT) AS n_rows,
         CAST(SUM(r.n_pos) AS BIGINT) AS n_pos
  FROM ranked r CROSS JOIN tot t
  GROUP BY 1, 2, 3
), grid AS (
  SELECT CAST(g.i AS BIGINT) AS decile, t.total, t.total_pos,
         COALESCE(d.n_rows, 0) AS n_rows, COALESCE(d.n_pos, 0) AS n_pos
  FROM range(10) g(i) CROSS JOIN tot t
  LEFT JOIN dec d ON d.decile = g.i AND d.total = t.total
                 AND d.total_pos = t.total_pos
)
SELECT decile, n_rows, n_pos,
       round(CAST(SUM(n_pos) OVER wc AS DOUBLE)
             / NULLIF(total_pos, 0), 6) AS cum_capture,
       round((CAST(SUM(n_pos) OVER wc AS DOUBLE)
              / NULLIF(SUM(n_rows) OVER wc, 0))
             / (CAST(total_pos AS DOUBLE) / total), 6) AS cum_lift
FROM grid
WINDOW wc AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
"""


_SOUNDEX_MAP = "01230120022455012623010202"
_SOUNDEX_MIN_WORDS = 3
_SOUNDEX_K = 20


def _soundex_col(w):
    """American Soundex, simplified variant (h/w treated as vowels, a
    documented divergence — RE2 has no backreferences, so run-collapse
    is six per-digit regex passes identical in both engines): map
    letters to digit classes, collapse runs ACROSS the first letter
    (the Pfister rule), drop the first position, strip zeros, pad to
    LETTER + 3 digits."""
    m = F.translate(w, "abcdefghijklmnopqrstuvwxyz", _SOUNDEX_MAP)
    for d in "123456":
        m = F.regexp_replace(m, d + "{2,}", d)
    rest = F.regexp_replace(F.substring(m, 2, 1000), "0", "")
    return F.concat(
        F.upper(F.substring(w, 1, 1)),
        F.rpad(F.substring(rest, 1, 3), 3, "0"),
    )


def dedup_phonetic_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking via Soundex — the SOUND-ALIKE member of the
    dedup/blocking family (edit distance catches typos
    [dedup_typo_neighborhood], shingles catch rearrangement; phonetic
    codes catch spelling-by-ear variants, the classic entity-resolution
    blocking key for names): code every distinct corpus word (≥ 4
    letters) and report the codes holding ≥ 3 DISTINCT words — each
    group is a candidate confusion set an ER pass would compare
    pairwise. Top-20 by group size; first 4 words as the sample.

    100 TB shape: the code is a pure per-row expression chain
    (translate + 6 regex passes); one distinct-word reduction + one
    code hash-agg; the report is TakeOrdered k. Blocking at scale IS
    this group-by — pairwise comparison happens within code groups
    only (Σ|group|², never n²)."""
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), r"[^a-z]+")
            ).alias("w")
        )
        .filter(F.length("w") >= 4)
        .distinct()
    )
    coded = words.select("w", _soundex_col(F.col("w")).alias("code"))
    groups = (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("w")), 1, 4), ","
            ).alias("sample_words"),
        )
        .filter(F.col("n_words") >= _SOUNDEX_MIN_WORDS)
    )
    return groups.orderBy(
        F.desc("n_words"), F.asc("code")
    ).limit(_SOUNDEX_K)


def _soundex_sql() -> str:
    collapse = "translate(w, 'abcdefghijklmnopqrstuvwxyz', " \
        f"'{_SOUNDEX_MAP}')"
    for d in "123456":
        collapse = f"regexp_replace({collapse}, '{d}{{2,}}', '{d}', 'g')"
    code = (
        f"upper(substr(w, 1, 1)) || "
        f"rpad(substr(replace(substr({collapse}, 2), '0', ''), 1, 3), "
        f"3, '0')"
    )
    return f"""
WITH words AS (
  SELECT DISTINCT w
  FROM documents,
       UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) t(w)
  WHERE length(w) >= 4
), coded AS (
  SELECT w, {code} AS code FROM words
), groups AS (
  SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
         array_to_string(list_sort(list(w))[1:4], ',') AS sample_words
  FROM coded GROUP BY code
  HAVING COUNT(*) >= {_SOUNDEX_MIN_WORDS}
)
SELECT code, n_words, sample_words FROM groups
ORDER BY n_words DESC, code ASC
LIMIT {_SOUNDEX_K}
"""


def dedup_sentence_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide SENTENCE-level dedup with in-place document
    reassembly — the CCNet paragraph-dedup step at sentence grain (the
    grain between dedup_span_ngram's n-grams and whole-document
    hashes): every sentence keeps only its FIRST corpus occurrence
    (min packed (doc_id, idx) per normalized sentence — deterministic,
    never dropDuplicates), later occurrences are cut, and each
    document reassembles from its surviving sentences in original
    order. Per doc: sentence count, removed count, and the md5 of the
    reassembled text as the value-checksum.

    100 TB shape: sentences explode bounded by document length; the
    first-occurrence reduction is ONE mergeable min hash-agg on the
    normalized-sentence key (the analytics_dau_cumulative move); the
    keep-filter is an equi-join on that key; reassembly sorts WITHIN
    each doc's bounded sentence array (array_sort on (idx, text)
    structs — no cross-doc ordering)."""
    docs = _docs(spark, sf_dir)
    sents = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.col("text"), r"[.!?]+"),
                    lambda s, i: F.struct(
                        i.alias("idx"),
                        F.trim(s).alias("sent"),
                    ),
                ),
                lambda st: F.length(st["sent"]) > 0,
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.idx").cast("bigint").alias("idx"),
        F.col("s.sent").alias("sent"),
        F.lower(F.col("s.sent")).alias("norm"),
    )
    packed = F.col("doc_id") * 1_000_000 + F.col("idx")
    firsts = sents.groupBy("norm").agg(
        F.min(packed).cast("bigint").alias("first_packed")
    )
    kept = sents.join(firsts, "norm").select(
        "doc_id", "idx", "sent",
        (packed == F.col("first_packed")).alias("keep"),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.sum((~F.col("keep")).cast("long")).cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(
                                    F.col("idx"), F.col("sent")
                                ),
                            )
                        )
                    ),
                    lambda st: st["sent"],
                ),
                ". ",
            )
        ).alias("cleaned_md5"),
    )


DEDUP_SENTENCE_CCNET_SQL = r"""
WITH sents AS (
  SELECT doc_id, CAST(i AS BIGINT) AS idx, trim(l[i + 1]) AS sent,
         lower(trim(l[i + 1])) AS norm
  FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS l
        FROM documents),
       unnest(range(length(l))) t(i)
  WHERE length(trim(l[i + 1])) > 0
), firsts AS (
  SELECT norm, CAST(MIN(doc_id * 1000000 + idx) AS BIGINT) AS first_packed
  FROM sents GROUP BY norm
), kept AS (
  SELECT s.doc_id, s.idx, s.sent,
         s.doc_id * 1000000 + s.idx = f.first_packed AS keep
  FROM sents s JOIN firsts f USING (norm)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       md5(COALESCE(array_to_string(
         list_transform(
           list_sort(COALESCE(list({'idx': idx, 'sent': sent})
                              FILTER (WHERE keep), [])),
           x -> x.sent),
         '. '), '')) AS cleaned_md5
FROM kept GROUP BY doc_id
"""


_BLOOM_M = 4096   # bits
_BLOOM_K = 3      # hash functions
_BLOOM_PROBE_ABSENT = 50  # planted non-member probes


def agg_bloom_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter BUILT AS DATA — the membership member of the
    mergeable-sketch family (HLL = cardinality, count-min = frequency,
    bottom-k = sampling; Bloom = set membership), materialized rather
    than hinted (join_bloom_prefilter uses the idea as a semi-join;
    this entry builds the actual bitset so it can be SHIPPED — to a
    scan filter, an ingest gate, a cross-cluster exchange): k=3
    md5-derived bit positions per customer key into an m=4096 bitset,
    the occupied-bit reduction is one distinct hash-agg (bitsets from
    any partition merge by OR = distinct position union), and the
    report carries occupancy, the theoretical false-positive rate
    (occupied/m)^k, and an EMPIRICAL check: 50 planted absent keys
    probed through the same hashes, counting full-collision hits.

    100 TB shape: positions are ×3 bounded per-row expressions; the
    bitset is a ≤ m-row distinct; probes are a 150-row broadcast
    semi-ish join against it."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()

    def positions(key_col, r):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(r), key_col.cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % _BLOOM_M
        )

    bits = (
        orders.select(
            F.explode(
                F.array(*[
                    positions(F.col("o_custkey"), r)
                    for r in range(_BLOOM_K)
                ])
            ).alias("bit")
        )
        .distinct()
    )
    n_keys = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )
    occupied = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("occupied")
    )
    # planted absent probes: negative ids never occur in the fixture
    probes = (
        n_keys.select(
            F.explode(
                F.sequence(F.lit(1), F.lit(_BLOOM_PROBE_ABSENT))
            ).alias("i"),
            "n_keys",
        )
        .select((-F.col("i")).cast("bigint").alias("probe_key"), "n_keys")
    )
    probe_bits = probes.select(
        "probe_key",
        F.explode(
            F.array(*[
                positions(F.col("probe_key"), r) for r in range(_BLOOM_K)
            ])
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(bits, "bit", "left_semi")
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == _BLOOM_K)
        .agg(F.count(F.lit(1)).cast("bigint").alias("fp_hits"))
    )
    tagged = (
        n_keys.select(F.lit("k").alias("t"), F.col("n_keys").alias("v"))
        .unionAll(
            occupied.select(F.lit("o").alias("t"), F.col("occupied"))
        )
        .unionAll(hits.select(F.lit("f").alias("t"), F.col("fp_hits")))
    )
    m, k = float(_BLOOM_M), _BLOOM_K
    occ = F.max(F.when(F.col("t") == "o", F.col("v")))
    return tagged.agg(
        F.max(F.when(F.col("t") == "k", F.col("v"))).alias("n_keys"),
        occ.alias("occupied_bits"),
        F.round(
            F.pow(occ.cast("double") / F.lit(m), F.lit(k)), 6
        ).alias("fpr_theoretical"),
        F.max(F.when(F.col("t") == "f", F.col("v"))).alias("fp_hits"),
    )


AGG_BLOOM_SQL = f"""
WITH keys AS (SELECT DISTINCT o_custkey FROM orders),
bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
                             || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_BLOOM_M} AS bit
  FROM keys, range({_BLOOM_K}) t(r)
), nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys),
occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS occupied FROM bits),
probes AS (
  SELECT CAST(-(i + 1) AS BIGINT) AS probe_key
  FROM range({_BLOOM_PROBE_ABSENT}) t(i)
), probe_bits AS (
  SELECT probe_key,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
                             || CAST(probe_key AS VARCHAR)), 1, 8))::BIGINT
           % {_BLOOM_M} AS bit
  FROM probes, range({_BLOOM_K}) t(r)
), hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS fp_hits FROM (
    SELECT probe_key FROM probe_bits pb
    WHERE EXISTS (SELECT 1 FROM bits b WHERE b.bit = pb.bit)
    GROUP BY probe_key HAVING COUNT(*) = {_BLOOM_K}
  )
)
SELECT nk.n_keys, occ.occupied AS occupied_bits,
       round(pow(occ.occupied::DOUBLE / {_BLOOM_M}, {_BLOOM_K}), 6)
         AS fpr_theoretical,
       hits.fp_hits
FROM nk CROSS JOIN occ CROSS JOIN hits
"""


# ---------------------------------------------------------------------------
# KN bigram LM, filter ablation, matryoshka eval, incremental dedup
# ---------------------------------------------------------------------------


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (absolute discount
    D = 0.75) — the LM-quality scorer one tier above
    text_perplexity_backoff's stupid backoff: per document, the mean
    ln P_KN(w2|w1) over its adjacent bigrams, where

        P_KN(w2|w1) = (c(w1w2) − D)/c(w1)
                      + (D·N1+(w1·)/c(w1)) · N1+(·w2)/N1+(··)

    (continuation counts, not raw unigrams — the KN insight). Scoring
    the training corpus itself means every bigram has c ≥ 1, so the
    discount never clips. The probability is assembled as one FIXED
    double expression from exact integer counts — num/den with
    numerator (4c−3)·T + 3·f(w1)·b(w2) and denominator 4·c(w1)·T, the
    ¾-discount cleared of fractions — so both engines evaluate the
    identical ln() input at any scale.

    100 TB shape: three mergeable count aggregates over the bigram
    frame (types, per-w1 totals+fanout, per-w2 continuation), keyed
    shuffle joins back to instances, one per-doc hash-agg. No vocab
    broadcast assumption — the same shape as the backoff scorer."""
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", T.tokens(F.col("text")).alias("_tk")).filter(
        F.size("_tk") > 1
    )
    inst = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_tk) - 1), "
                "i -> struct(element_at(_tk, i) AS w1, "
                "element_at(_tk, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    big = inst.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    w1c = big.groupBy("w1").agg(
        F.sum("c_xy").cast("bigint").alias("c_w1"),
        F.count(F.lit(1)).cast("bigint").alias("f_w1"),
    )
    w2c = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("b_w2")
    )
    types = big.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    scored = (
        big.join(w1c, "w1")
        .join(w2c, "w2")
        .crossJoin(F.broadcast(types))
    )
    num = (
        (F.lit(4.0) * F.col("c_xy").cast("double") - 3)
        * F.col("n_types").cast("double")
        + F.lit(3.0)
        * F.col("f_w1").cast("double")
        * F.col("b_w2").cast("double")
    )
    den = (
        F.lit(4.0)
        * F.col("c_w1").cast("double")
        * F.col("n_types").cast("double")
    )
    logp = F.log(num / den)
    return (
        inst.join(
            scored.select("w1", "w2", logp.alias("logp")), ["w1", "w2"]
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("avg_kn_logprob"),
        )
    )


TEXT_KNESER_NEY_SQL = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
  WHERE trim(text) <> '' AND len({_TOKS}) > 1
), inst AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM base, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
), big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM inst GROUP BY w1, w2
), w1c AS (
  SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_w1,
         CAST(COUNT(*) AS BIGINT) AS f_w1
  FROM big GROUP BY w1
), w2c AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS b_w2 FROM big GROUP BY w2
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM big
), scored AS (
  SELECT big.w1, big.w2,
         ln(((4.0 * CAST(c_xy AS DOUBLE) - 3)
             * CAST(n_types AS DOUBLE)
             + 3.0 * CAST(f_w1 AS DOUBLE) * CAST(b_w2 AS DOUBLE))
            / (4.0 * CAST(c_w1 AS DOUBLE) * CAST(n_types AS DOUBLE)))
           AS logp
  FROM big JOIN w1c USING (w1) JOIN w2c USING (w2) CROSS JOIN t
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(logp), 6) AS avg_kn_logprob
FROM inst JOIN scored USING (w1, w2)
GROUP BY doc_id
"""


_GOPHER_FLAGS = (
    "word_count_ok",
    "mwl_ok",
    "symbol_ok",
    "bullet_ok",
    "ellipsis_ok",
    "alpha_ok",
    "stopword_ok",
)


def curation_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-stack ablation over the Gopher quality gate — the report
    you read BEFORE shipping a filter change: per rule, how many
    documents it flags, how many it flags UNIQUELY (no other rule
    fires — the rule's marginal contribution; removing a rule recovers
    exactly its unique count), and the flag rate. Built from the same
    flags frame text_gopher_quality_filters emits, so the ablation can
    never drift from the gate itself.

    100 TB shape: the map-only gopher metrics pass + a 7× struct
    explode + ONE mergeable hash-agg — no joins, no second corpus
    scan."""
    flags = T.gopher_quality_filters(_docs(spark, sf_dir))
    n_fail = sum(
        ((~F.col(c)).cast("int") for c in _GOPHER_FLAGS), F.lit(0)
    )
    per = flags.withColumn("n_fail", n_fail).select(
        "n_fail",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("filter_name"),
                        (~F.col(c)).cast("int").alias("failed"),
                    )
                    for c in _GOPHER_FLAGS
                ]
            )
        ),
    )
    return per.groupBy("filter_name").agg(
        F.sum("failed").cast("bigint").alias("n_flagged"),
        F.sum(
            F.when((F.col("failed") == 1) & (F.col("n_fail") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_unique_flagged"),
        F.round(
            F.sum("failed").cast("double") / F.count(F.lit(1)), 6
        ).alias("pct_flagged"),
    )


def _filter_ablation_sql() -> str:
    n_fail = " + ".join(
        f"(1 - CAST({c} AS INT))" for c in _GOPHER_FLAGS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS filter_name,"
        f" (1 - CAST({c} AS INT)) AS failed, n_fail FROM d"
        for c in _GOPHER_FLAGS
    )
    return f"""
WITH g AS ({_gopher_sql()}),
d AS (SELECT *, {n_fail} AS n_fail FROM g),
f AS (
{rows}
)
SELECT filter_name, CAST(SUM(failed) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN failed = 1 AND n_fail = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unique_flagged,
       round(CAST(SUM(failed) AS DOUBLE) / COUNT(*), 6) AS pct_flagged
FROM f GROUP BY filter_name
"""


_MATRYOSHKA_DIMS = (8, 16, 32, 64)
_MATRYOSHKA_K = 10
# Fixed-SIZE deterministic query panel: a `vec_id % 97 == 0` panel
# would grow WITH the corpus, making the brute-force scoring stage
# corpus²/97 pairs. The panel is the first _EVAL_PANEL_N ids by
# (md5(vec_id), vec_id) — the _COS_BLOCK_CAP move: pseudo-random but
# engine-portable and ORDER-STABLE, planned as a TakeOrderedAndProject
# (map-side partial top-N, never a global sort), so the scoring stage is
# corpus × panel = LINEAR in the corpus.
_EVAL_PANEL_N = 24


def _eval_panel(emb: DataFrame) -> DataFrame:
    """Deterministic fixed-size query panel: top-_EVAL_PANEL_N vec_ids
    by (md5(vec_id), vec_id). Bounded: TakeOrderedAndProject."""
    return (
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("q_e"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "query_id")
        .limit(_EVAL_PANEL_N)
        .drop("_h")
    )


def _eval_panel_sql() -> str:
    return (
        "SELECT vec_id AS query_id, emb AS q_e FROM e "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
        f"LIMIT {_EVAL_PANEL_N}"
    )


def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation — how much retrieval quality
    survives using only the first d dimensions of each embedding
    (the MRL deployment question: serve 8/16/32 dims instead of 64?):
    for each truncation dim, exact top-10 cosine retrieval for a
    FIXED-SIZE deterministic query panel (_EVAL_PANEL_N ids by
    (md5(vec_id), vec_id) — see _eval_panel) and recall@10 against the
    full-dimension top-10. Ranking is on round(cos, 6) with cand_id
    tiebreak, so both engines pick identical lists; panel_size is
    reported on every output row.

    100 TB shape: the query panel is CONSTANT-size and BROADCAST, so
    the brute-force scoring stage is corpus × panel — linear, where a
    mod-97 panel would make it corpus²/97. The corpus
    is scanned once and exploded 4× (once per dim); top-k is a
    partitioned window per (dim, query) — never a global sort. At real
    scale the brute-force scorer can still swap for the IVF/LSH
    candidate path (ann_* entries); the eval harness is unchanged."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = _eval_panel(emb)
    pairs = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("c_e"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.explode(
                F.array(*[F.lit(d) for d in _MATRYOSHKA_DIMS])
            ).alias("trunc_dim"),
            "q_e",
            "c_e",
        )
    )
    cos = F.round(
        S.cosine(
            F.slice("q_e", F.lit(1), F.col("trunc_dim")),
            F.slice("c_e", F.lit(1), F.col("trunc_dim")),
        ),
        6,
    )
    topk = S._top_k(
        pairs.withColumn("cos", cos),
        _MATRYOSHKA_K,
        F.col("cos").desc(),
        F.col("cand_id").asc(),
        by=["trunc_dim", "query_id"],
    ).select("trunc_dim", "query_id", "cand_id")
    # Two consumers re-execute the scored+ranked subtree (no common-
    # subplan reuse in Spark). That is the right trade here: an eager
    # cache+release of topk is slower, because materializing the full
    # shuffle output costs more than recomputing the pipelined subtree
    # twice.
    full = topk.filter(F.col("trunc_dim") == 64).select(
        "query_id", "cand_id"
    )
    hits = topk.join(full, ["query_id", "cand_id"]).groupBy(
        "trunc_dim"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    nq = topk.groupBy("trunc_dim").agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries")
    )
    return nq.join(hits, "trunc_dim").select(
        F.col("trunc_dim").cast("bigint").alias("trunc_dim"),
        F.lit(_EVAL_PANEL_N).cast("bigint").alias("panel_size"),
        "n_queries",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / (F.col("n_queries").cast("double") * _MATRYOSHKA_K),
            6,
        ).alias("recall_at_10"),
    )


def _matryoshka_sql() -> str:
    dims = ", ".join(str(d) for d in _MATRYOSHKA_DIMS)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  {_eval_panel_sql()}
), scored AS (
  SELECT d.trunc_dim, q.query_id, c.vec_id AS cand_id,
         round(list_cosine_similarity(list_slice(q.q_e, 1, d.trunc_dim),
                                      list_slice(c.emb, 1, d.trunc_dim)),
               6) AS cos
  FROM e c CROSS JOIN q CROSS JOIN UNNEST([{dims}]) AS d(trunc_dim)
  WHERE c.vec_id <> q.query_id
), topk AS (
  SELECT trunc_dim, query_id, cand_id
  FROM (SELECT *, row_number() OVER (PARTITION BY trunc_dim, query_id
                                     ORDER BY cos DESC, cand_id ASC) AS rk
        FROM scored)
  WHERE rk <= {_MATRYOSHKA_K}
), full_k AS (
  SELECT query_id, cand_id FROM topk WHERE trunc_dim = 64
), hits AS (
  SELECT trunc_dim, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM topk JOIN full_k USING (query_id, cand_id)
  GROUP BY trunc_dim
), nq AS (
  SELECT trunc_dim, CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
  FROM topk GROUP BY trunc_dim
)
SELECT CAST(nq.trunc_dim AS BIGINT) AS trunc_dim,
       CAST({_EVAL_PANEL_N} AS BIGINT) AS panel_size, n_queries, n_hits,
       round(CAST(n_hits AS DOUBLE)
             / (CAST(n_queries AS DOUBLE) * {_MATRYOSHKA_K}), 6)
         AS recall_at_10
FROM nq JOIN hits ON nq.trunc_dim = hits.trunc_dim
"""


_KENDALL_K = 20
_KENDALL_TRUNC = 16


def eval_kendall_tau_rankers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker ORDER agreement without ground truth — Kendall tau-b per
    query between the full-dimension cosine ranking and the
    16-dim-truncated one, over the full ranker's top-20 items: the
    question embedding_matryoshka_eval's recall@k can't answer (two
    lists can overlap 100% yet order items oppositely — recall 1.0,
    tau −1.0). Tie-corrected tau-b from exact integer concordant /
    discordant / tied-pair counts on 6-dp-rounded cosines (ties then count
    identically in both engines); C(20,2)=190 pairs per query, so the
    pairwise stage is k²-bounded per query, never corpus-quadratic.

    100 TB shape: the query panel is the same FIXED-SIZE deterministic
    _eval_panel as embedding_matryoshka_eval (a constant panel makes
    brute-force scoring corpus × panel, linear) and broadcasts; item lists come
    from a partitioned per-(query) top-k window; the pair stage
    self-joins k-row groups on the query key. panel_size rides on
    every output row."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = _eval_panel(emb)
    scored = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("c_e"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(S.cosine(F.col("q_e"), F.col("c_e")), 6).alias("ca"),
            F.round(
                S.cosine(
                    F.slice("q_e", 1, _KENDALL_TRUNC),
                    F.slice("c_e", 1, _KENDALL_TRUNC),
                ),
                6,
            ).alias("cb"),
        )
    )
    items = S._top_k(
        scored, _KENDALL_K, F.col("ca").desc(), F.col("cand_id").asc()
    ).select("query_id", "cand_id", "ca", "cb")
    i = items.select(
        "query_id", F.col("cand_id").alias("id_i"),
        F.col("ca").alias("ca_i"), F.col("cb").alias("cb_i"),
    )
    j = items.select(
        "query_id", F.col("cand_id").alias("id_j"),
        F.col("ca").alias("ca_j"), F.col("cb").alias("cb_j"),
    )
    pr = i.join(j, "query_id").filter(F.col("id_i") < F.col("id_j"))
    sa = F.signum(F.col("ca_i") - F.col("ca_j"))
    sb = F.signum(F.col("cb_i") - F.col("cb_j"))
    agg = pr.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(sa * sb > 0, 1).otherwise(0))
        .cast("bigint").alias("n_concordant"),
        F.sum(F.when(sa * sb < 0, 1).otherwise(0))
        .cast("bigint").alias("n_discordant"),
        F.sum(F.when(sa == 0, 1).otherwise(0))
        .cast("bigint").alias("n_tied_a"),
        F.sum(F.when(sb == 0, 1).otherwise(0))
        .cast("bigint").alias("n_tied_b"),
    )
    n0 = F.col("n_pairs").cast("double")
    tau = (
        (F.col("n_concordant") - F.col("n_discordant")).cast("double")
        / F.sqrt(
            (n0 - F.col("n_tied_a").cast("double"))
            * (n0 - F.col("n_tied_b").cast("double"))
        )
    )
    return agg.select(
        "query_id",
        F.lit(_EVAL_PANEL_N).cast("bigint").alias("panel_size"),
        "n_pairs", "n_concordant", "n_discordant",
        F.round(tau, 6).alias("tau_b"),
    )


EVAL_KENDALL_TAU_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  {_eval_panel_sql()}
), scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         round(list_cosine_similarity(q.q_e, c.emb), 6) AS ca,
         round(list_cosine_similarity(list_slice(q.q_e, 1, {_KENDALL_TRUNC}),
                                      list_slice(c.emb, 1, {_KENDALL_TRUNC})),
               6) AS cb
  FROM e c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
), items AS (
  SELECT query_id, cand_id, ca, cb
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ca DESC, cand_id ASC) AS rk
        FROM scored)
  WHERE rk <= {_KENDALL_K}
), pr AS (
  SELECT i.query_id,
         sign(i.ca - j.ca) AS sa, sign(i.cb - j.cb) AS sb
  FROM items i JOIN items j
    ON i.query_id = j.query_id AND i.cand_id < j.cand_id
)
SELECT query_id, CAST({_EVAL_PANEL_N} AS BIGINT) AS panel_size,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN sa * sb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_concordant,
       CAST(SUM(CASE WHEN sa * sb < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discordant,
       round((SUM(CASE WHEN sa * sb > 0 THEN 1 ELSE 0 END)
              - SUM(CASE WHEN sa * sb < 0 THEN 1 ELSE 0 END))
             / sqrt((COUNT(*) - SUM(CASE WHEN sa = 0 THEN 1 ELSE 0 END))
                    * (COUNT(*) - SUM(CASE WHEN sb = 0 THEN 1 ELSE 0 END))),
             6) AS tau_b
FROM pr GROUP BY query_id
"""


def dedup_incremental_new_vs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the shape a DAILY 100 TB pipeline
    actually runs (never all-pairs over history): a deterministic 20%
    of documents play the 'new batch' (md5 bucket 0 of 5), the rest
    the deduped 'base'. Each new document is classified dup_of_base
    (its text digest already exists in base), dup_within_new (an
    earlier new doc — smaller doc_id — has the same digest), or
    unique; the report counts docs and distinct digests per class.

    100 TB shape: base collapses to DISTINCT digests before the join
    (old×old is never touched — the incremental invariant); the
    within-batch window partitions by digest over only the new 20%."""
    from ..functions.hashing import md5_u32

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        (
            md5_u32(F.concat(F.lit("inc:"), F.col("doc_id").cast("string")))
            % 5
        ).alias("b"),
    )
    base_fps = (
        docs.filter(F.col("b") != 0).select("fp").distinct()
        .withColumn("in_base", F.lit(1))
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    new = (
        docs.filter(F.col("b") == 0)
        .withColumn("rk", F.row_number().over(w))
        .join(base_fps, "fp", "left")
    )
    cat = (
        F.when(F.col("in_base") == 1, "dup_of_base")
        .when(F.col("rk") > 1, "dup_within_new")
        .otherwise("unique")
    )
    return new.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_distinct_fps"),
    )


DEDUP_INCREMENTAL_SQL = """
WITH d AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 5 AS b
  FROM documents
), base_fps AS (
  SELECT DISTINCT fp FROM d WHERE b <> 0
), new AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM d WHERE b = 0
)
SELECT CASE WHEN bf.fp IS NOT NULL THEN 'dup_of_base'
            WHEN rk > 1 THEN 'dup_within_new'
            ELSE 'unique' END AS category,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT n.fp) AS BIGINT) AS n_distinct_fps
FROM new n LEFT JOIN base_fps bf ON n.fp = bf.fp
GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "text_kneser_ney_bigram": QuerySpec(
        text_kneser_ney_bigram, TEXT_KNESER_NEY_SQL, "text",
        plan_waivers={
            "bnlj": "1-row bigram-type-count scalar attach"}),
    "curation_filter_ablation": QuerySpec(
        curation_filter_ablation, _filter_ablation_sql(), "quality"),
    "embedding_matryoshka_eval": QuerySpec(
        embedding_matryoshka_eval, _matryoshka_sql(), "similarity",
        plan_waivers={
            "bnlj": (
                "broadcast side is the FIXED-SIZE deterministic query "
                f"panel (_eval_panel: first {_EVAL_PANEL_N} ids by "
                "(md5(vec_id), vec_id), a TakeOrderedAndProject) — the "
                "brute-force scoring stage is corpus × panel, LINEAR "
                "(a mod-97 id panel would grow as corpus²/97); "
                "swappable for the IVF/LSH candidate path")}),
    "dedup_incremental_new_vs_base": QuerySpec(
        dedup_incremental_new_vs_base, DEDUP_INCREMENTAL_SQL, "dedup"),
    "eval_kendall_tau_rankers": QuerySpec(
        eval_kendall_tau_rankers, EVAL_KENDALL_TAU_SQL, "quality",
        plan_waivers={
            "bnlj": (
                "broadcast side is the FIXED-SIZE deterministic "
                f"{_EVAL_PANEL_N}-id query panel (_eval_panel) — same "
                "linear brute-force eval tier as "
                "embedding_matryoshka_eval")}),
    "dedup_sentence_ccnet": QuerySpec(
        dedup_sentence_ccnet, DEDUP_SENTENCE_CCNET_SQL, "dedup"),
    # the three 1-row sketch-stat frames assemble by tagged union and
    # the 50-row probe frame semi-joins the bitset on an equi key, so
    # no BNLJ arises — no waiver needed
    "agg_bloom_filter_stats": QuerySpec(
        agg_bloom_filter_stats, AGG_BLOOM_SQL, "aggregation"),
    "eval_model_gains_deciles": QuerySpec(
        eval_model_gains_deciles, _gains_sql(), "quality",
        plan_waivers={
            "bnlj": (
                "1-row score-bounds + 1-row totals scalar attaches "
                "(the eval_model_auc recipe)"),
            "global_window": (
                "cross-bucket cumulative over the 256-row bucket frame "
                "and the cumulative capture over the 10-row decile "
                "grid — both O(1); within-bucket windows are "
                "partitioned"),
        }),
    "dedup_phonetic_soundex": QuerySpec(
        dedup_phonetic_soundex, _soundex_sql(), "dedup"),
    "multimodal_png_chunk_index": QuerySpec(
        multimodal_png_chunk_index, MULTIMODAL_PNG_CHUNKS_SQL, "multimodal"),
    "embedding_pca_power": QuerySpec(
        embedding_pca_power, _pca_power_sql(), "similarity"),
    "text_keyword_rake": QuerySpec(
        text_keyword_rake, _rake_sql(), "text"),
    "multimodal_gif_meta": QuerySpec(
        multimodal_gif_meta, MULTIMODAL_GIF_SQL, "multimodal"),
    "multimodal_bmp_meta": QuerySpec(
        multimodal_bmp_meta, MULTIMODAL_BMP_SQL, "multimodal"),
    "multimodal_webp_meta": QuerySpec(
        multimodal_webp_meta, MULTIMODAL_WEBP_SQL, "multimodal"),
    "multimodal_riff_chunk_index": QuerySpec(
        multimodal_riff_chunk_index, MULTIMODAL_RIFF_SQL, "multimodal"),
    "multimodal_mp4_box_index": QuerySpec(
        multimodal_mp4_box_index, MULTIMODAL_MP4_SQL, "multimodal"),
    "dedup_prefix_filter_join": QuerySpec(
        dedup_prefix_filter_join, DEDUP_PREFIX_FILTER_SQL, "dedup"),
    "multimodal_jpeg_meta": QuerySpec(
        multimodal_jpeg_meta, _jpeg_meta_sql(), "multimodal"),
    "multimodal_zip_index": QuerySpec(
        multimodal_zip_index, _zip_index_sql(), "multimodal"),
    "embedding_label_outliers": QuerySpec(
        embedding_label_outliers, EMBEDDING_LABEL_OUTLIERS_SQL,
        "similarity"),
    "multimodal_tiff_meta": QuerySpec(
        multimodal_tiff_meta, _tiff_meta_sql(), "multimodal"),
    "multimodal_tar_index": QuerySpec(
        multimodal_tar_index, MULTIMODAL_TAR_INDEX_SQL, "multimodal"),
    "eval_average_precision": QuerySpec(
        eval_average_precision, _avg_precision_sql(), "quality",
        plan_waivers={
            "bnlj": "1-row score-bounds scalar attach",
            "global_window": (
                "cross-bucket DESC cumulative runs over the 256-row "
                "bucket frame (O(1)); within-bucket windows are "
                "partitioned"),
        }),
    "text_vocab_growth": QuerySpec(
        text_vocab_growth, TEXT_VOCAB_GROWTH_SQL, "text",
        plan_waivers={
            "bnlj": (
                "1-row corpus-total attach onto the token first-seen "
                "frame and the 10-row grid"),
            "global_window": (
                "offsets window over the 256 md5-prefix buckets and the "
                "cumulative window over the 10-row checkpoint grid — "
                "both O(1), never over rows"),
        }),
    "eval_dedup_quality": QuerySpec(
        eval_dedup_quality, EVAL_DEDUP_QUALITY_SQL, "quality",
        plan_waivers={"bnlj": (
            "1-row n_truth scalar attach onto the 3-row method report "
            "— both sides scale-independent")}),
    "text_mojibake_fix": QuerySpec(
        text_mojibake_fix, _mojibake_sql(), "text"),
    "multimodal_npy_meta": QuerySpec(
        multimodal_npy_meta, _npy_meta_sql(), "multimodal"),
    "text_ngram_novelty": QuerySpec(
        text_ngram_novelty, TEXT_NGRAM_NOVELTY_SQL, "text"),
    "eval_pr_curve_thresholds": QuerySpec(
        eval_pr_curve_thresholds, _pr_curve_sql(), "quality",
        plan_waivers={"bnlj": (
            "1-row score-bounds attach + 9-row threshold-grid "
            "broadcast (O(1) both)")}),
    "text_html_strip": QuerySpec(
        text_html_strip, TEXT_HTML_STRIP_SQL, "text"),
    "multimodal_base64_roundtrip": QuerySpec(
        multimodal_base64_roundtrip, MULTIMODAL_B64_SQL, "multimodal"),
    "dataset_kfold_splits": QuerySpec(
        dataset_kfold_splits, DATASET_KFOLD_SQL, "pipeline"),
    "eval_model_auc": QuerySpec(
        eval_model_auc, _model_auc_sql(), "quality",
        plan_waivers={
            "bnlj": "1-row score-bounds scalar attach",
            "global_window": (
                "cross-bucket cumulative runs over the 256-row bucket "
                "frame (O(1)); within-bucket windows are partitioned"),
        }),
    "text_sentence_stats": QuerySpec(
        text_sentence_stats, TEXT_SENTENCE_STATS_SQL, "text"),
    "dedup_typo_neighborhood": QuerySpec(
        dedup_typo_neighborhood, DEDUP_TYPO_SQL, "dedup"),
    "eval_quality_agreement": QuerySpec(
        eval_quality_agreement, _quality_agreement_sql(), "quality"),
    "dedup_span_ngram": QuerySpec(dedup_span_ngram, DEDUP_SPAN_NGRAM_SQL, "dedup"),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL, "dedup"),
    "dedup_hash": QuerySpec(dedup_hash, DEDUP_HASH_SQL, "dedup"),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL, "dedup"),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_SQL, "dedup"),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, None, "dedup",
                                   doc="MLlib LSH banding not SQL-expressible; recall tested vs exact"),
    "dedup_minhash_banded": QuerySpec(
        dedup_minhash_banded, DEDUP_MINHASH_BANDED_SQL, "dedup"),
    "dedup_lsh_bucket_stats": QuerySpec(
        dedup_lsh_bucket_stats, DEDUP_LSH_BUCKET_STATS_SQL, "dedup"),
    "dedup_binary_payload": QuerySpec(
        dedup_binary_payload, DEDUP_BINARY_PAYLOAD_SQL, "dedup"),
    "dedup_url_canonicalize": QuerySpec(
        dedup_url_canonicalize, DEDUP_URL_CANONICALIZE_SQL, "dedup"),
    "dedup_boundary_stitch": QuerySpec(
        dedup_boundary_stitch, DEDUP_BOUNDARY_STITCH_SQL, "dedup"),
    "dedup_semantic_clusters": QuerySpec(
        dedup_semantic_clusters, _semantic_dedup_sql(), "dedup"),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL, "dedup"),
    "dedup_embedding_cosine_lsh": QuerySpec(
        dedup_embedding_cosine_lsh, None, "dedup",
        doc="LSH bucket blocking not SQL-expressible; recall tested vs exact all-pairs"),
    "ann_cosine_topk": QuerySpec(
        ann_cosine_topk, ANN_COSINE_TOPK_SQL, "similarity",
        plan_waivers={"bnlj": (
            "|queries| x corpus stream — exact brute-force baseline. "
            "Cost is inherently O(|Q|*|C|): sound ONLY while |Q| is "
            "a small fixed panel (10 here; the broadcast side must "
            "stay driver-memory-bounded). A 10k-query workload must "
            "use the IVF/LSH/PQ entries, which prune the corpus per "
            "query instead of streaming all of it.")}),
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, None, "similarity",
                              doc="LSH buckets not SQL-expressible; recall tested vs exact"),
    "ann_ivf_topk": QuerySpec(ann_ivf_topk, None, "similarity",
                              doc="IVF k-means lists + probe; recall tested vs exact",
                              plan_waivers={"bnlj": "query x n_centroids scoring"}),
    "ann_ivf_topk_det": QuerySpec(
        ann_ivf_topk_det, _ivf_det_sql(), "similarity",
        plan_waivers={"bnlj": "k-row centroid broadcast (probe scoring)"}),
    "ann_mmr_rerank": QuerySpec(
        ann_mmr_rerank, _mmr_sql(), "similarity",
        plan_waivers={"bnlj": (
            "|queries| x corpus stream (cosine_topk candidate stage): "
            "O(|Q|*|C|), sound only for a small fixed query panel "
            "(10 here) — swap the candidate stage for the IVF/PQ "
            "entries at real query volumes.")}),
    "ann_truncated_rescore": QuerySpec(
        ann_truncated_rescore, ANN_TRUNCATED_RESCORE_SQL, "similarity",
        plan_waivers={"bnlj": "|queries| x corpus stream (coarse prefix stage)"}),
    "ann_retrieval_pipeline": QuerySpec(
        ann_retrieval_pipeline, _retrieval_pipeline_sql(), "similarity",
        plan_waivers={"bnlj": (
            "k-row coarse-centroid broadcast of the IVF-PQ candidate "
            "stage's probe scoring, run in the build execution that "
            "pins it at the index -> re-rank boundary: k = 8 rows "
            "whatever the corpus size")}),
    "eval_langid_confusion": QuerySpec(
        eval_langid_confusion, EVAL_LANGID_SQL, "text"),
    "eval_score_calibration": QuerySpec(
        eval_score_calibration, _calibration_sql(), "text",
        plan_waivers={"bnlj": "1-row logit min/max bounds broadcast"}),
    "eval_brier_decomposition": QuerySpec(
        eval_brier_decomposition, _brier_sql(), "text",
        plan_waivers={"bnlj": (
            "1-row (n, n_pos) totals broadcast onto the 10-bin frame "
            "(QPM recipe)")}),
    "eval_expected_calibration_error": QuerySpec(
        eval_expected_calibration_error, _ece_sql(), "text"),
    "text_tokenizer_fertility": QuerySpec(
        text_tokenizer_fertility, TEXT_FERTILITY_SQL, "text"),
    "dedup_cosine_threshold_sweep": QuerySpec(
        dedup_cosine_threshold_sweep, _cos_sweep_sql(), "dedup",
        plan_waivers={
            "bnlj": "1-row cap-loss (n_capped_blocks/n_rows_dropped) attach"}),
    "eval_retrieval_metrics": QuerySpec(
        eval_retrieval_metrics, _retrieval_eval_sql(), "similarity",
        plan_waivers={"bnlj": (
            "k-row centroid broadcast (IVF arm) + |queries| x corpus "
            "stream (exact ground-truth arm): the truth arm is "
            "O(|Q|*|C|) by definition of exact recall@k — sound only "
            "for the small eval panel (10 queries here); production "
            "eval at larger |Q| samples the panel, it never widens "
            "the brute-force arm.")}),
    "text_token_stats": QuerySpec(text_token_stats, TEXT_TOKEN_STATS_SQL, "text"),
    "text_bpe_token_count": QuerySpec(text_bpe_token_count, TEXT_BPE_TOKEN_SQL, "text"),
    "text_bpe_apply": QuerySpec(text_bpe_apply, _bpe_apply_sql(), "text"),
    "text_bpe_fit": QuerySpec(
        text_bpe_fit, _bpe_fit_sql(), "text",
        plan_waivers={"bnlj": (
            "per-round merge-pair attach: the round's 1-row winning pair "
            "broadcast onto the corpus form, run in the localCheckpoint "
            "pin executions — one row per round whatever the corpus size")}),
    "text_lang_id": QuerySpec(text_lang_id, TEXT_LANG_ID_SQL, "text"),
    "text_quality": QuerySpec(text_quality, TEXT_QUALITY_SQL, "text"),
    "text_gopher_quality_filters": QuerySpec(
        text_gopher_quality_filters, _gopher_sql(), "text"),
    # NOTE: both entries rank inside a TakeOrdered(K) frame; the
    # resulting window consumes the already-single-partition limit
    # output with no global-sort exchange, so no global_window waiver
    # is needed (the stale-waiver gate verifies this stays true)
    "text_zipf_tail_fit": QuerySpec(
        text_zipf_tail_fit, _zipf_sql(), "text"),
    "text_token_coverage_curve": QuerySpec(
        text_token_coverage_curve, _coverage_sql(), "text",
        plan_waivers={
            "bnlj": "1-row corpus-totals broadcast (QPM recipe)",
        }),
    "text_fingerprint": QuerySpec(text_fingerprint, TEXT_FINGERPRINT_SQL, "text"),
    "text_feature_hashing": QuerySpec(
        text_feature_hashing, TEXT_FEATURE_HASHING_SQL, "text"),
    "text_quality_model": QuerySpec(text_quality_model, _qmodel_sql(), "text"),
    "text_bm25_topk": QuerySpec(
        text_bm25_topk, _bm25_sql(), "text",
        plan_waivers={"bnlj": "1-row (N, avgdl) corpus-stats scalar"}),
    "text_tfidf_top_terms": QuerySpec(
        text_tfidf_top_terms, TEXT_TFIDF_SQL, "text",
        plan_waivers={"bnlj": "1-row corpus-size scalar in IDF"}),
    "multimodal_binary_meta": QuerySpec(multimodal_binary_meta, MULTIMODAL_BINARY_META_SQL, "multimodal"),
    "multimodal_decode_fake": QuerySpec(multimodal_decode_fake, MULTIMODAL_DECODE_SQL, "multimodal"),
    "multimodal_resize_plumbing": QuerySpec(
        multimodal_resize_plumbing, MULTIMODAL_RESIZE_SQL, "multimodal"),
    "multimodal_format_detect": QuerySpec(
        multimodal_format_detect, MULTIMODAL_FORMAT_DETECT_SQL, "multimodal"),
    "multimodal_byte_entropy": QuerySpec(
        multimodal_byte_entropy, MULTIMODAL_BYTE_ENTROPY_SQL, "multimodal"),
    "multimodal_png_meta": QuerySpec(
        multimodal_png_meta, MULTIMODAL_PNG_META_SQL, "multimodal"),
    "multimodal_byte_chisq": QuerySpec(
        multimodal_byte_chisq, MULTIMODAL_BYTE_CHISQ_SQL, "multimodal"),
    "multimodal_wav_meta": QuerySpec(
        multimodal_wav_meta, _wav_meta_sql(), "multimodal"),
    "multimodal_pcm_frame_energy": QuerySpec(
        multimodal_pcm_frame_energy, MULTIMODAL_PCM_ENERGY_SQL, "multimodal"),
    "multimodal_ahash_dedup": QuerySpec(
        multimodal_ahash_dedup, MULTIMODAL_AHASH_SQL, "multimodal"),
    "multimodal_cdc_chunking": QuerySpec(
        multimodal_cdc_chunking, _cdc_sql(), "multimodal"),
    "multimodal_audio_trim_bounds": QuerySpec(
        multimodal_audio_trim_bounds, _audio_trim_sql(), "multimodal"),
    "multimodal_frame_sample": QuerySpec(
        multimodal_frame_sample, MULTIMODAL_FRAME_SQL, "multimodal"),
    "dedup_components": QuerySpec(dedup_components, DEDUP_COMPONENTS_SQL, "dedup"),
    "dedup_keep_best": QuerySpec(dedup_keep_best, DEDUP_KEEP_BEST_SQL, "dedup"),
    "dedup_containment": QuerySpec(
        dedup_containment, DEDUP_CONTAINMENT_SQL, "dedup"),
    "dedup_cross_source_overlap": QuerySpec(
        dedup_cross_source_overlap, DEDUP_CROSS_SOURCE_SQL, "dedup"),
    "embedding_standardize": QuerySpec(
        embedding_standardize, EMBEDDING_STANDARDIZE_SQL, "similarity"),
    "embedding_norm_profile": QuerySpec(
        embedding_norm_profile, EMBEDDING_NORM_PROFILE_SQL, "similarity"),
    "text_winnow_sketch": QuerySpec(text_winnow_sketch, TEXT_WINNOW_SQL, "text"),
    "embedding_centroids": QuerySpec(embedding_centroids, EMBEDDING_CENTROIDS_SQL, "similarity"),
    "embedding_kmeans_lloyd": QuerySpec(
        embedding_kmeans_lloyd, _kmeans_sql(), "similarity"),
    "embedding_pq_codes": QuerySpec(
        embedding_pq_codes, _pq_sql(), "similarity"),
    "ann_pq_adc_topk": QuerySpec(
        ann_pq_adc_topk, _pq_adc_sql(), "similarity"),
    "ann_pq_ivf_adc_topk": QuerySpec(
        ann_pq_ivf_adc_topk, _pq_ivf_adc_sql(), "similarity",
        plan_waivers={"bnlj": "k-row coarse-centroid broadcast "
                              "(probe scoring)"}),
    "embedding_quantize_int8": QuerySpec(
        embedding_quantize_int8, EMBEDDING_QUANTIZE_SQL, "similarity"),
    "profile_documents": QuerySpec(profile_documents, PROFILE_DOCUMENTS_SQL, "text"),
    "curation_pipeline": QuerySpec(curation_pipeline, CURATION_PIPELINE_SQL, "composition"),
    "text_code_detect": QuerySpec(
        text_code_detect, _code_detect_sql(), "text"),
    "text_readability": QuerySpec(
        text_readability, _readability_sql(), "text"),
    "text_perplexity_backoff": QuerySpec(
        text_perplexity_backoff, TEXT_PERPLEXITY_BACKOFF_SQL, "text",
        plan_waivers={"bnlj": "1-row corpus token total"},
    ),
    "text_unigram_logprob": QuerySpec(
        text_unigram_logprob, TEXT_UNIGRAM_LOGPROB_SQL, "text",
        plan_waivers={"bnlj": "1-row corpus token total"},
    ),
    "text_bigram_pmi": QuerySpec(
        text_bigram_pmi, TEXT_BIGRAM_PMI_SQL, "text",
        plan_waivers={"bnlj": "1-row token + bigram totals"}),
}
