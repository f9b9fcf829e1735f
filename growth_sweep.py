#!/usr/bin/env python
"""Full-registry dual-SF GROWTH sweep: times EVERY registry entry at
sf0.001 AND sf0.1 (100× rows) in the SAME session and records the
growth ratio. Growth is the one number that separates a fixed-stage cost (unrolled iterations,
cached Pregel, MLlib fits — growth ~1× over 100× data) from a genuine
scale-killer (a quadratic eval panel grows linearly with the corpus
while a noisy fixed-cost entry does not) — the timing sweep alone
cannot tell them apart.

Methodology: both SFs are measured per entry back-to-back in one
process, min-of-N each, so both sides share the entry's plan/codegen
JIT warmth and the ratio is not polluted by one cold side; each side
records its fastest run's Spark counts (``small_layers``/``big_layers``,
see ``measure.timed_noop``). The gate (tests/test_growth_baseline.py)
flags big-side entries over an absolute floor whose growth exceeds
GROWTH_RATIO without a `growth_waivers` adjudication recorded in
SCALING.md.

Usage:
    python growth_sweep.py [GROWTH_r<N>.json]

Resumable like registry_sweep.py (see ``measure.resume``).
"""

from __future__ import annotations

import json
import os
import sys

from measure import (
    SWEEP_RUNS, Window, carried, error_fields, resume, run_min, sf_of,
    timed_noop, write_json,
)


def main() -> None:
    small_dir = os.environ.get(
        "SPARK_GRAFT_GROWTH_SMALL_DIR", "/root/testdata/sf0.001"
    )
    big_dir = os.environ.get(
        "SPARK_GRAFT_GROWTH_BIG_DIR", "/root/testdata/sf0.1"
    )
    out_path = sys.argv[1] if len(sys.argv) > 1 else "GROWTH.json"

    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    window = Window()
    spark = get_spark("growth-sweep")
    registry = all_queries()

    def measure(name: str) -> tuple[dict, str]:
        fn = registry[name].fn
        small_runs, err_s, small_layers = timed_noop(spark, fn, small_dir, SWEEP_RUNS)
        big_runs, err_b, big_layers = timed_noop(spark, fn, big_dir, SWEEP_RUNS)
        small_min, big_min = run_min(small_runs), run_min(big_runs)
        # Record WHICH side failed: with a single combined
        # message, a small-side error could mask or misattribute a
        # big-side failure when triaging the artifact.
        sides = "; ".join(
            f"{label}: {e}" for label, e in (("small", err_s), ("big", err_b)) if e
        )
        rec: dict = {
            "small_runs": small_runs,
            "big_runs": big_runs,
            "small_min": small_min,
            "big_min": big_min,
            "small_layers": small_layers,
            "big_layers": big_layers,
            "growth": (
                round(big_min / small_min, 2) if small_min > 0 and big_min > 0 else -1.0
            ),
            **error_fields(sides, bool(small_runs and big_runs)),
        }
        return rec, (
            f"{small_min}s -> {big_min}s (x{rec['growth']}){' ERROR' if sides else ''}"
        )

    results, session_names = resume(out_path, registry, measure)

    def executed_s(names) -> float:
        """Seconds of every run, both sides, of the entries ``names``."""
        return round(sum(sum(r.get("small_runs", []) + r.get("big_runs", []))
                         for r in map(results.get, names)), 1)

    write_json(out_path, {
        "sf_small": sf_of(small_dir),
        "sf_big": sf_of(big_dir),
        **window.fields(),
        # name -> reason; every name must also appear in SCALING.md
        # (tests/test_growth_baseline.py enforces both directions).
        # Prior adjudications are carried forward verbatim.
        "growth_waivers": carried(out_path, "growth_waivers"),
        "n_entries": len(results),
        "total_big_min_s": round(
            sum(r["big_min"] for r in results.values() if r["big_min"] > 0),
            1,
        ),
        # The NOISE-scaling basis: steal accrues over everything the
        # sweep executed (both SFs, all runs), not just the big-side
        # minimums — the gate's 5% threshold must scale off this.
        "total_all_runs_s": executed_s(results),
        # Steal accrues only over THIS process's lifetime, so on a
        # resumed sweep the noise gate must scale off seconds executed
        # THIS session, not the all-sessions total above.
        "steal_basis_s": executed_s(session_names),
        "entries": results,
    })
    worst = sorted(((r["growth"], n) for n, r in results.items()
                    if r["growth"] > 0 and r["big_min"] >= 1.0), reverse=True)[:20]
    print(json.dumps({"worst_growth": [[n, g] for g, n in worst]}))


if __name__ == "__main__":
    main()
