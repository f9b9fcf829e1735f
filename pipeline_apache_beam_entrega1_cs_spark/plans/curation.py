"""Curation-stage registry: benchmark decontamination, blocklist/PII
scrubbing, sliding-window chunking, repetition filtering (SURVEY.md §2B
LLM-data rows). Spark logic in operators/curation.py;
every op here is deterministic and gets full DuckDB SQL parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import curation as C
from ..schemas import load_table
from .llm_data import _TOKS
from .spec import QuerySpec

# Non-empty tokenized docs, the shared oracle base (empty docs handled by
# the LEFT JOINs back to `documents`).
_TOKS_CTE = f"SELECT doc_id, {_TOKS} AS tk FROM documents WHERE trim(text) <> ''"

# One definition drives BOTH the Spark call sites and the SQL oracles
# below — changing a parameter here keeps plan and oracle in lockstep.
DECON_N, DECON_MOD, DECON_THRESHOLD = 5, 97, 0.2
CHUNK_SIZE, CHUNK_STRIDE = 32, 16
REP_N, REP_THRESHOLD = 3, 0.5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.decontaminate(
        _docs(spark, sf_dir), n=DECON_N, mod=DECON_MOD, threshold=DECON_THRESHOLD
    )


TEXT_DECONTAMINATE_SQL = rf"""
WITH toks AS ({_TOKS_CTE}),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+{DECON_N - 1}], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(tk) - {DECON_N - 1})) AS g(i)
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh
  WHERE doc_id % {DECON_MOD} <> 0 GROUP BY doc_id
),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_hits
  FROM sh s JOIN bench USING (shingle)
  WHERE s.doc_id % {DECON_MOD} <> 0
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(sz.n_sh, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CASE WHEN COALESCE(sz.n_sh, 0) > 0
                  THEN COALESCE(h.n_hits, 0)::DOUBLE / sz.n_sh ELSE 0.0 END, 6)
         AS contamination,
       round(CASE WHEN COALESCE(sz.n_sh, 0) > 0
                  THEN COALESCE(h.n_hits, 0)::DOUBLE / sz.n_sh ELSE 0.0 END, 6)
         >= {DECON_THRESHOLD} AS contaminated
FROM documents d
LEFT JOIN sizes sz ON d.doc_id = sz.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {DECON_MOD} <> 0
"""


def text_scrub_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.scrub_blocklist(_docs(spark, sf_dir))


TEXT_SCRUB_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{C.URL_RE}')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{C.EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{C.BLOCKLIST_RE}')) AS BIGINT)
         AS n_blocked,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text, '{C.URL_RE}', '{C.REDACTED}', 'g'),
             '{C.EMAIL_RE}', '{C.REDACTED}', 'g'),
             '{C.BLOCKLIST_RE}', '{C.REDACTED}', 'g')) AS scrubbed_md5
FROM documents
"""


def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.chunk_sliding(_docs(spark, sf_dir), size=CHUNK_SIZE, stride=CHUNK_STRIDE)


TEXT_CHUNK_SQL = f"""
WITH toks AS ({_TOKS_CTE})
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
       CAST(len(tk[s:s+{CHUNK_SIZE - 1}]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(tk[s:s+{CHUNK_SIZE - 1}], ' ')) AS chunk_md5
FROM toks, UNNEST(generate_series(1, len(tk), {CHUNK_STRIDE})) AS g(s)
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.repetition_stats(_docs(spark, sf_dir), n=REP_N, threshold=REP_THRESHOLD)


TEXT_REPETITION_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (
  SELECT doc_id, array_to_string(tk[i:i+{REP_N - 1}], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(tk) - {REP_N - 1})) AS gi(i)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_distinct
  FROM sh GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(a.n_distinct, 0) AS BIGINT) AS n_distinct_grams,
       round(CASE WHEN COALESCE(a.n_grams, 0) > 0
                  THEN 1.0 - a.n_distinct::DOUBLE / a.n_grams ELSE 0.0 END, 6)
         AS dup_ratio,
       round(CASE WHEN COALESCE(a.n_grams, 0) > 0
                  THEN 1.0 - a.n_distinct::DOUBLE / a.n_grams ELSE 0.0 END, 6)
         > {REP_THRESHOLD} AS is_repetitive
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII privacy report: typed-placeholder redaction of
    e-mail/phone/IPv4 spans + per-source detection counts
    (operators/curation.pii_report over the deterministic injection
    fixture with_pii_spans)."""
    return C.pii_report(C.with_pii_spans(_docs(spark, sf_dir)))


TEXT_PII_REDACT_SQL = rf"""
WITH pii AS (
  SELECT doc_id, source,
    text
    || (CASE WHEN doc_id % 5 = 0 THEN ' contact user'
         || CAST(doc_id % 100 AS VARCHAR) || '@mail-' || source || '.org'
         ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.'
         || CAST(doc_id % 256 AS VARCHAR) || '.'
         || CAST(doc_id % 250 AS VARCHAR)
         ELSE '' END)
    AS text
  FROM documents
), per AS (
  SELECT source,
    CAST(len(regexp_extract_all(text, '{C.PII_EMAIL_RE}')) AS BIGINT) AS e,
    CAST(len(regexp_extract_all(text, '{C.PII_PHONE_RE}')) AS BIGINT) AS p,
    CAST(len(regexp_extract_all(text, '{C.PII_IPV4_RE}')) AS BIGINT) AS i,
    CAST(length(text) AS BIGINT) AS raw_len,
    CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
      '{C.PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{C.PII_PHONE_RE}', '<PHONE>', 'g'),
      '{C.PII_IPV4_RE}', '<IP>', 'g')) AS BIGINT) AS red_len
  FROM pii
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_docs_with_pii,
  CAST(SUM(e) AS BIGINT) AS n_emails,
  CAST(SUM(p) AS BIGINT) AS n_phones,
  CAST(SUM(i) AS BIGINT) AS n_ips,
  CAST(SUM(raw_len) AS BIGINT) AS sum_raw_chars,
  CAST(SUM(red_len) AS BIGINT) AS sum_redacted_chars
FROM per GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "text_decontaminate": QuerySpec(text_decontaminate, TEXT_DECONTAMINATE_SQL, "text"),
    "text_pii_redact": QuerySpec(text_pii_redact, TEXT_PII_REDACT_SQL, "text"),
    "text_scrub_blocklist": QuerySpec(text_scrub_blocklist, TEXT_SCRUB_SQL, "text"),
    "text_chunk_sliding": QuerySpec(text_chunk_sliding, TEXT_CHUNK_SQL, "text"),
    "text_repetition_stats": QuerySpec(text_repetition_stats, TEXT_REPETITION_SQL, "text"),
}
