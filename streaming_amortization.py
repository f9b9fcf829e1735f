#!/usr/bin/env python
"""Streaming-twin amortization measurement.

The streaming class's ~0.8 s/batch floor was adjudicated by a
state-file A/B (32 files against 1), which does not show it
amortizing. This harness replays streaming_tfidf_state's corpus through its real
foreachBatch MERGE sink at 1, 4 (the declared entry's slicing) and 8
micro-batches and records wall seconds and sec/batch for each: the
associative merge makes the final state identical for any slicing, so
the only thing that varies is how the fixed per-query machinery
amortizes over batches. Writes STREAMING_AMORT_r16.json.

Methodology matches bench.py: min-of-3, noop-equivalent end state (the
runner materializes the final DF table), hypervisor steal per run
(``measure.Window``), warmup pass at sf0.001.
"""
from __future__ import annotations

import json
import os
import sys
import time

from measure import Window, load_avg, warm_dir, write_json


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        run_tfidf_state_stream,
    )

    spark = get_spark("streaming_amortization")
    # warmup: JIT + codegen + streaming machinery
    run_tfidf_state_stream(spark, warm_dir(sf_dir)).count()

    out: dict = {"sf_dir": sf_dir, "entry": "streaming_tfidf_state", "runs": {}}
    for n in (1, 4, 8):
        runs = []
        for _ in range(3):
            window = Window()
            t0 = time.perf_counter()
            nrows = run_tfidf_state_stream(spark, sf_dir, n_batches=n).count()
            wall = round(time.perf_counter() - t0, 3)
            runs.append({"wall_s": wall, "steal_s": window.steal_s()})
        best = min(r["wall_s"] for r in runs)
        out["runs"][str(n)] = {
            "n_batches": n,
            "runs": runs,
            "min_wall_s": best,
            "sec_per_batch": round(best / n, 3),
            "state_rows": nrows,
        }
        print(f"n_batches={n}: min {best}s = {round(best / n, 3)} s/batch "
              f"({nrows} state rows)", file=sys.stderr, flush=True)
    rows = {r["state_rows"] for r in out["runs"].values()}
    assert len(rows) == 1, f"final state differs across slicings: {rows}"
    out["load_avg"] = load_avg()
    write_json(
        os.path.join(os.path.dirname(__file__) or ".", "STREAMING_AMORT_r16.json"), out
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
