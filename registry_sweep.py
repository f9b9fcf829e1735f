#!/usr/bin/env python
"""Full-registry timing sweep: times EVERY registry entry at
$SPARK_GRAFT_SF_DIR (default sf0.1) with the same noop-sink shape
bench.py uses, and writes one JSON file (default SWEEP_sf<sf>.json) mapping name -> {"runs": [...],
"min": s, "layers": the fastest run's Spark counts, see
``measure.timed_noop``}. The headline bench structurally cannot see
regressions in the ~360 non-headline entries; this sweep does.
Resumable (see ``measure.resume``). Usage:

    python registry_sweep.py [out.json]
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
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)
    out_path = sys.argv[1] if len(sys.argv) > 1 else f"SWEEP_sf{sf}.json"

    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    # Machine-noise telemetry: tests/test_sweep_baseline.py's regression
    # diff skips itself when a sweep self-reports a
    # dirty window, the same guard bench.py applies.
    window = Window()
    spark = get_spark("sweep")
    registry = all_queries()

    def measure(name: str) -> tuple[dict, str]:
        runs, err, layers = timed_noop(spark, registry[name].fn, sf_dir, SWEEP_RUNS)
        rec = {"runs": runs, "min": run_min(runs), "layers": layers,
               **error_fields(err, bool(runs))}
        return rec, f"{rec['min']}s{' ERROR' if err else ''}"

    results, _ = resume(out_path, registry, measure)
    write_json(out_path, {
        "sf": sf,
        **window.fields(),
        # name -> reason; tests/test_sweep_baseline.py exempts these
        # from the cross-round regression diff (adjudicate in SCALING.md)
        "regression_waivers": carried(out_path, "regression_waivers"),
        "n_entries": len(results),
        "total_min_s": round(sum(r["min"] for r in results.values() if r["min"] > 0), 1),
        "entries": results,
    })
    slow = sorted(((r["min"], n) for n, r in results.items()), reverse=True)[:20]
    print(json.dumps({"slowest": [[n, s] for s, n in slow]}))


if __name__ == "__main__":
    main()
