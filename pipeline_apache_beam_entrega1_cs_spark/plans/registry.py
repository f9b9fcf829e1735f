"""Unified query registry: every operator from SURVEY.md §2 with its
Spark plan and (where SQL-expressible) DuckDB oracle. Consumed by
__spark_entry__.py (driver contract), tests/test_oracle.py, and
bench.py.

ORDER MATTERS: the driver's per-round correctness gate checks the FIRST
50 registry entries, so the entries the next window should check are
listed first (DRIVER_PRIORITY). Local tests always run ALL entries
regardless of order. The window is computed, not hand-maintained:
tests/test_rotation.py derives the never-driver-checked set from
CORRECTNESS_r*.json and fails if any front slot is spent on an
already-checked entry while a never-checked one waits, and

    python -m pipeline_apache_beam_entrega1_cs_spark.plans.rotation

prints the pending set, the staleness histogram, and a composed window
proposal from the same helpers (plans/rotation.py), so the proposal and
the gate cannot disagree.
"""

from __future__ import annotations

from . import (
    analytics,
    curation,
    pipeline_ops,
    llm_data,
    relational,
    relational2,
    sql_modern,
    tpch,
    udf_surface,
    windows_batch,
)
from .spec import QuerySpec

DRIVER_PRIORITY: list[str] = [
    # The current window: byte-exactly the `plans.rotation` proposal.
    "agg_covariance_matrix",
    "agg_gini_concentration",
    "agg_group_entropy",
    "agg_mode_per_group",
    "agg_variance_partial_merge",
    "agg_weighted_percentile",
    "analytics_dau_cumulative",
    "attribution_linear_touch",
    "cdc_apply_changelog",
    "dataset_curriculum_interleave",
    "dataset_kfold_splits",
    "dedup_boundary_stitch",
    "dedup_typo_neighborhood",
    "dedup_url_canonicalize",
    "dq_benford_check",
    "dq_column_profile",
    "dq_event_freshness",
    "dq_primary_key_uniqueness",
    "dq_referential_integrity",
    "embedding_standardize",
    "eval_ab_proportions",
    "eval_model_auc",
    "eval_pr_curve_thresholds",
    "eval_quality_agreement",
    "eval_score_calibration",
    "geo_bucket_join",
    "graph_kcore_prune",
    "graph_modularity_eval",
    "maintenance_snapshot_diff",
    "multimodal_ahash_dedup",
    "multimodal_audio_trim_bounds",
    "multimodal_base64_roundtrip",
    "multimodal_cdc_chunking",
    "multimodal_npy_meta",
    "sample_poisson_bootstrap",
    "scd2_build_from_changes",
    "streaming_cdc_apply_state",
    "streaming_cusum_state",
    "streaming_file_source_incremental",
    "streaming_url_dedup_state",
    "text_code_detect",
    "text_html_strip",
    "text_mojibake_fix",
    "text_ngram_novelty",
    "text_pii_redact",
    "text_readability",
    "text_sentence_stats",
    "timeseries_cusum_drift",
    "timeseries_seasonal_residual",
    "timeseries_survival_km",
]


def all_queries() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        relational2,
        tpch,
        windows_batch,
        llm_data,
        udf_surface,
        curation,
        sql_modern,
        pipeline_ops,
        analytics,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)

    missing = [n for n in DRIVER_PRIORITY if n not in merged]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY names not in registry: {missing}")

    ordered: dict[str, QuerySpec] = {n: merged[n] for n in DRIVER_PRIORITY}
    for name, spec in merged.items():  # already-driver-green entries
        if name not in ordered:
            ordered[name] = spec
    return ordered
