#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}; progress goes to stderr, one line
per wait, warmup query, timed query and steal-retry pass.

Each query is forced end-to-end with a noop sink (full materialization on
the executors, nothing collected to the driver — the same shape a real
cluster run would have). A warmup pass on sf0.001 first triggers JVM/
codegen warm paths so measured numbers reflect steady-state execution,
not first-query JIT.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from measure import (
    Window, carried, load_avg, run_min, sf_of, timed_noop, warm_dir, write_json,
)

HERE = os.path.dirname(__file__) or "."

# Queries present since BENCH_r01 — their subtotal is the cross-round
# comparable number (curation_pipeline joined in r04, dedup_span_ngram
# in r06; see notes on BENCH_QUERIES below).
R01_COMPARABLE = 16

# Control-loop calibration: a fixed pure-Python workload whose wall time
# on a quiet machine is recorded in BENCH_CALIBRATION.json. Under
# hypervisor steal / heavy ambient load the same loop runs slower by the
# same uniform factor that inflates the Spark wall times, so
# control_loop_s / calibration is a machine-readable "trust this
# number?" signal, diagnosable from the JSON alone without a manual
# quiet rerun.
CONTROL_ITERS = 2_000_000

# Pre-start drain: wait (START_WAIT_S at a time, at most START_MAX_WAITS
# times) until the 1-min load is <= START_LOAD and the 5-min load is
# <= START_LOAD5 — and, likewise, until the control loop runs within
# 1.3x its calibration.
START_LOAD = 3.0
START_LOAD5 = 4.0
START_WAIT_S = 30.0
START_MAX_WAITS = 16
# Per-query ambient-load guard: above MAX_LOAD, wait LOAD_WAIT_S, at
# most MAX_LOAD_WAITS times per bench.
MAX_LOAD = 8.0
LOAD_WAIT_S = 30.0
MAX_LOAD_WAITS = 3
# Steal retry: a pass that accrued more than MAX_STEAL_S of steal is
# re-run, at most STEAL_ATTEMPTS passes in all.
MAX_STEAL_S = 1.5
STEAL_ATTEMPTS = 4


def log(msg: str) -> None:
    """One progress line on stderr; stdout carries only the JSON line."""
    print(msg, file=sys.stderr, flush=True)


def control_loop_s() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(CONTROL_ITERS):
        acc += i * 31 % 97
    assert acc >= 0
    return time.perf_counter() - t0


def subtotal_r01(timings: dict[str, float]) -> float:
    return round(
        sum(t for t in list(timings.values())[:R01_COMPARABLE] if t >= 0), 3
    )


BENCH_QUERIES = [
    # headline relational
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "join_sort_merge",
    "join_range_nonequi",
    "join_asof_events",
    "agg_rollup",
    "window_running_frames",
    "topk_per_group",
    # time windows
    "window_tumbling",
    "window_session",
    # llm-data
    "dedup_hash",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "text_tfidf_top_terms",
    # end-to-end curation pass (quality filter -> lang-ID -> fingerprint
    # dedup -> yield report): the composed shape of the actual 100 TB
    # workload, so regressions in the LLM path show up as one line.
    # It and every line below it are outside subtotal_r01_comparable.
    "curation_pipeline",
    # corpus-wide duplicated-span removal (substring dedup): the
    # heaviest single dedup primitive of the LLM path.
    "dedup_span_ngram",
    # real BPE segmentation — the zero-shuffle scalar-chain tokenizer.
    # (ann_retrieval_pipeline and ann_mmr_rerank are not bench lines:
    # their cost is per-query-bounded by design, so a line would track
    # scheduler fixed costs, not data volume; the retrieval pipeline's
    # scaling story lives in SCALING.md.)
    "text_bpe_apply",
    # the model-based quality filter (hashed-feature dot product +
    # sigmoid over every doc, pure corpus-proportional expression work)
    # and binary-payload dedup (sha256 digests + byte-shingle MinHash
    # banding over the blob corpus — the pre-decode multimodal dedup
    # stage).
    "text_quality_model",
    "dedup_binary_payload",
    # the bloom/runtime-filter semi-join reduction — probe-side scan +
    # occupied-bucket broadcast semi-join + hinted SortMergeJoin, all
    # data-proportional work (the shuffle-row cut is measured in
    # SCALING.md); it keeps a shuffle-reduction idiom under measurement.
    "join_bloom_prefilter",
    # bigram stupid-backoff perplexity scoring — corpus-proportional
    # LM-table fit (two mergeable count aggregates) plus keyed
    # shuffle-join scoring with no broadcast assumption on vocab size;
    # the join-heaviest text line, so shuffle-path regressions on the
    # LLM side show up here.
    "text_perplexity_backoff",
    # dedup_semantic_clusters exercises the deterministic Lloyd k-means
    # fit + in-cluster pair join path no other headline covers. The fit
    # is a driver loop (one pass and one k-row centroid pin per
    # iteration), so its line is dominated by per-pass scheduling: read
    # it as the driver-loop canary, not a data-throughput number.
    # multimodal_cdc_chunking is the data-proportional multimodal heavy
    # line: exploded-position unrolled rolling-hash chunking over every
    # payload byte — the binary scan-throughput counterpart to
    # dedup_binary_payload's signature path.
    "dedup_semantic_clusters",
    "multimodal_cdc_chunking",
    # embedding_pca_power — exact-arithmetic power iteration as a
    # driver loop: one flat pass per iteration, 64 values collected
    # between passes. Per-iteration work is data-proportional, but the
    # line carries 3 passes of fixed per-stage scheduling, so it is
    # the second driver-loop canary. text_keyword_rake — corpus-
    # proportional phrase segmentation (doc-keyed gaps-and-islands
    # window + two hash-aggs), the windowed-text shape no other
    # headline covers.
    "embedding_pca_power",
    "text_keyword_rake",
    # the grouped-pandas and LSH candidate-join families, which a
    # full-registry timing sweep found regressing with no bench line
    # to show it. The two pandas entries now run native
    # window/aggregate plans (the grouped-pandas calling convention
    # lives on in the reference arms of
    # tests/test_udf_surface_equivalence.py), and the LSH entry
    # verifies per bucket cell; the lines stay as the regression
    # canaries for those rewrites.
    "applyinpandas_trimmed_mean",
    "cogroup_order_gaps",
    "dedup_embedding_cosine_lsh",
    # the two heaviest oracle-backed batch entries. bucket-stats is the
    # MinHash governance pre-flight (banded key construction + two
    # hash-aggs; its filter pushes a cheap token-count predicate to the
    # scan, not the whole shingle construction); eval_dedup_quality
    # composes THREE dedup methods over a planted corpus, so it's the
    # dedup-family regression canary in one line.
    "dedup_lsh_bucket_stats",
    "eval_dedup_quality",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)

    # Pre-start ambient drain: BEFORE Spark exists, the 1-min load is
    # genuinely ambient (not the bench's own), so a strict threshold is
    # meaningful here: a harness started right after heavy driver
    # activity inflates every wall time uniformly. Wait (bounded) for
    # the machine to go quiet and record the load the measurements
    # actually started under. The 1-min average dips before the machine
    # has actually drained (a pass can start under the 1-min threshold
    # with a high 5-min load and accrue seconds of steal), so gate on
    # the 5-MIN average too, with a larger bounded wait budget.
    start_waits = 0
    while (
        os.getloadavg()[0] > START_LOAD or os.getloadavg()[1] > START_LOAD5
    ) and start_waits < START_MAX_WAITS:
        log(f"start wait {start_waits + 1}/{START_MAX_WAITS}: load {load_avg()}")
        time.sleep(START_WAIT_S)
        start_waits += 1
    load_avg_start = load_avg()

    # Calibrated control loop + retry-on-steal: if the pure-Python loop
    # runs >1.3x its quiet-machine calibration, the window is steal/load
    # inflated — wait (bounded) for it to settle before measuring.
    calibration = carried(os.path.join(HERE, "BENCH_CALIBRATION.json"), "control_loop_s") or None
    control_start = control_loop_s()
    control_waits = 0
    if calibration:
        while control_start > 1.3 * calibration and control_waits < START_MAX_WAITS:
            log(f"control-loop wait {control_waits + 1}/{START_MAX_WAITS}: "
                f"{control_start:.3f}s vs calibration {calibration}s")
            time.sleep(START_WAIT_S)
            control_waits += 1
            control_start = control_loop_s()
    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    spark = get_spark("bench")
    registry = all_queries()

    # Warmup at the smallest SF: JVM JIT, codegen cache, shuffle services.
    for i, name in enumerate(BENCH_QUERIES, 1):
        runs, err, _ = timed_noop(spark, registry[name].fn, warm_dir(sf_dir), 1)
        # keep the bench robust: report a failure, don't die
        log(f"warmup [{i}/{len(BENCH_QUERIES)}] {name}: "
            + (f"{runs[0]}s" if runs else f"failed: {err}"))

    load_events: list[dict] = []

    def measure_all(attempt: int) -> tuple[dict, dict, float | None, dict]:
        """One full pass over BENCH_QUERIES; returns (timings, runs,
        steal seconds accrued during THIS pass, per-query Spark counts
        of the min-wall run, None where unreadable)."""
        window = Window()
        timings: dict[str, float] = {}
        runs: dict[str, list[float]] = {}
        layers: dict[str, dict | None] = {}
        for i, name in enumerate(BENCH_QUERIES, 1):
            # Ambient-load guard: a busy host inflates every wall time
            # uniformly and masquerades as a regression. If the 1-min
            # load average is above threshold before a query's runs,
            # wait once for it to drain and record what happened.
            # Threshold is calibrated above the bench's own steady-state
            # contribution on local[32] (~4-6 on quiet readings), and
            # total waiting is capped so self-load can't stall the
            # harness.
            load1 = os.getloadavg()[0]
            if load1 > MAX_LOAD and len(load_events) < MAX_LOAD_WAITS:
                log(f"load wait before {name}: load1 {load1:.2f} > {MAX_LOAD}")
                time.sleep(LOAD_WAIT_S)
                load_events.append({
                    "query": name, "load_before": round(load1, 2),
                    "load_after": round(os.getloadavg()[0], 2), "waited_s": LOAD_WAIT_S,
                })
            # min of 3 measured runs: local-mode wall times swing ±20%
            # under shared-machine load; min is the stable estimator.
            runs[name], err, layers[name] = timed_noop(spark, registry[name].fn, sf_dir, 3)
            timings[name] = run_min(runs[name])
            log(f"pass {attempt} [{i}/{len(BENCH_QUERIES)}] {name}: min {timings[name]}s, "
                f"steal so far {window.steal_s()}s{f', error: {err}' if err else ''}")
        return timings, runs, window.steal_s(), layers

    # Steal-robust measurement: a pass that carries tens of seconds of
    # steal inflates every wall time, and the artifact would be
    # whatever the noisy neighbor allowed. If the measured pass accrued
    # more hypervisor steal than the threshold, re-run the whole loop
    # (bounded) and keep the LOWEST-steal pass; all attempts are
    # summarized in the JSON either way. The threshold is low because
    # a few seconds of steal already overstate the subtotal by more
    # than half against a quiet cross-check.
    attempts: list[dict] = []
    passes = []
    for attempt in range(1, STEAL_ATTEMPTS + 1):
        passes.append(measure_all(attempt))
        steal = passes[-1][2]
        attempts.append(
            {"attempt": attempt, "steal_delta_s": steal,
             "subtotal_r01_comparable": subtotal_r01(passes[-1][0])}
        )
        if steal is None or steal <= MAX_STEAL_S or attempt == STEAL_ATTEMPTS:
            break
        log(f"steal-retry: pass {attempt} accrued {steal}s of steal > {MAX_STEAL_S}s; "
            f"pass {attempt + 1}/{STEAL_ATTEMPTS} after {START_WAIT_S:.0f}s")
        time.sleep(START_WAIT_S)  # let the neighbor drain before retrying
    # the first lowest-steal pass (an unreadable steal counts as 0)
    timings, all_runs, steal_delta_s, layers = min(passes, key=lambda p: p[2] or 0.0)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    subtotal = subtotal_r01(timings)
    control_end = control_loop_s()
    result = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # queries present since r01 (drops curation_pipeline r04+ and
        # dedup_span_ngram r06+): THE cross-round comparison number.
        "subtotal_r01_comparable": subtotal,
        # ambient-load evidence: every measured run + the host
        # 1/5/15-min load average, so a noisy run is diagnosable
        # from the JSON alone.
        "runs": all_runs,
        # ambient load BEFORE Spark started (post pre-start
        # drain): the number that says whether this round's
        # totals are comparable to a quiet-machine baseline.
        "load_avg_start": load_avg_start,
        "start_waits": start_waits,
        "load_avg": load_avg(),
        # each time the pre-query guard saw load above threshold
        # and paused: empty list == quiet machine throughout.
        "load_waits": load_events,
        # hypervisor-steal seconds accrued DURING the kept pass:
        # nonzero-large == inflated run.
        "steal_delta_s": steal_delta_s,
        # per-query executor task-time (ms) for the min-wall run:
        # task_time_ms / (wall * 1000) ≈ effective parallel cores, the
        # scaling signal wall time alone cannot carry at sf0.1 where
        # every query is overhead-dominated (it also shows that
        # session.py honors $SPARK_GRAFT_CPUS).
        "task_time_ms": {n: c["task_ms"] for n, c in layers.items() if c},
        # the same run's jobs, stages, tasks, task ms, shuffle and spill
        # bytes (None where Spark's bookkeeping could not be read)
        "layers": layers,
        # every measured pass (steal + comparable subtotal): >1 entry
        # means the steal-retry loop fired and the kept reading is the
        # lowest-steal one.
        "attempts": attempts,
        # pure-Python control loop before/after vs quiet calibration:
        # ratio >~1.3 == every wall time above is uniformly inflated.
        "control_loop_s": {
            "start": round(control_start, 3),
            "end": round(control_end, 3),
            "calibration": calibration,
            "waits": control_waits,
        },
    }
    # Duplicate the contract line to a file BEFORE printing: a capture
    # that truncates the one-line JSON leaves any comparison blind. A
    # truncated stdout tail can no longer lose the measurement:
    # BENCH_LAST.json always holds the full payload.
    try:
        write_json(os.path.join(HERE, "BENCH_LAST.json"), result)
    except OSError as ex:
        log(f"BENCH_LAST.json write failed: {ex}")
    print(json.dumps(result))

    # Persist the session-best QUIET reading as a first-class artifact:
    # only when the window was demonstrably quiet (post-drain load low,
    # control loop near calibration) and the comparable subtotal beats
    # the stored one. The verdict cites BENCH_quiet.json directly
    # instead of reconstructing quiet readings from prose.
    quiet = (
        sf == "0.1"  # only the headline SF is cross-round comparable
        and load_avg_start[0] < 3.0
        and (calibration is None or control_start <= 1.3 * calibration)
    )
    if quiet and all(t >= 0 for t in timings.values()):
        quiet_path = os.path.join(HERE, "BENCH_quiet.json")
        prev = carried(quiet_path, "subtotal_r01_comparable") or None
        if prev is None or subtotal < prev:
            try:
                sha = subprocess.run(
                    ["git", "rev-parse", "--short", "HEAD"],
                    capture_output=True, text=True, cwd=HERE,
                ).stdout.strip()
            except OSError:
                sha = None
            result["git_sha"] = sha
            write_json(quiet_path, result)


if __name__ == "__main__":
    main()
