#!/usr/bin/env python
"""Streaming-twin amortization measurement (VERDICT r15 item 6).

The streaming class's ~0.8 s/batch floor was adjudicated experimentally
in round 14 (32→1 state-file A/B) but never DEMONSTRATED amortizing.
This harness replays streaming_tfidf_state's corpus through its real
foreachBatch MERGE sink at 1, 4 (the declared entry's slicing) and 8
micro-batches and records wall seconds and sec/batch for each: the
associative merge makes the final state identical for any slicing, so
the only thing that varies is how the fixed per-query machinery
amortizes over batches. Writes STREAMING_AMORT_r16.json.

Methodology matches bench.py: min-of-3, noop-equivalent end state (the
runner materializes the final DF table), /proc/stat steal deltas per
run, warmup pass at sf0.001.
"""
from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # warm up on the sibling sf0.001 when the fixture set has one
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    from bench import read_steal_ticks
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import (
        run_tfidf_state_stream,
    )

    spark = get_spark("streaming_amortization")
    # warmup: JIT + codegen + streaming machinery
    run_tfidf_state_stream(spark, warm_dir).count()

    batch_counts = [1, 4, 8]
    out: dict = {"sf_dir": sf_dir, "entry": "streaming_tfidf_state", "runs": {}}
    rows_ref = None
    for n in batch_counts:
        runs = []
        for _ in range(3):
            s0 = read_steal_ticks()
            t0 = time.perf_counter()
            df = run_tfidf_state_stream(spark, sf_dir, n_batches=n)
            nrows = df.count()
            dt = time.perf_counter() - t0
            s1 = read_steal_ticks()
            steal = (
                round((s1 - s0) / 100, 2)
                if s0 is not None and s1 is not None
                else None
            )
            runs.append({"wall_s": round(dt, 3), "steal_s": steal})
        if rows_ref is None:
            rows_ref = nrows
        best = min(r["wall_s"] for r in runs)
        out["runs"][str(n)] = {
            "n_batches": n,
            "runs": runs,
            "min_wall_s": best,
            "sec_per_batch": round(best / n, 3),
            "state_rows": nrows,
        }
        assert nrows == rows_ref, (
            f"final state differs across slicings: {nrows} != {rows_ref}"
        )
        print(
            f"n_batches={n}: min {best}s = {round(best / n, 3)} s/batch "
            f"({nrows} state rows)",
            file=sys.stderr,
            flush=True,
        )
    out["load_avg"] = [round(x, 2) for x in os.getloadavg()]
    path = os.path.join(
        os.path.dirname(__file__) or ".", "STREAMING_AMORT_r16.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
