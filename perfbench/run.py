#!/usr/bin/env python3
"""Repo benchmark: one workload per run, closed loop, one pass at a time.

    python3 perfbench/run.py --workload hrl_etl --seed 1 --seconds 5 --trace 0

Workloads (``perfbench/workloads.py``): ``hrl_etl`` (the paper's dataflow)
and ``registry`` (a relational, an LLM-data and a streaming registry
entry). A run:

1. writes its inputs under ``perfbench/.work`` (registry tables once per
   checkout from a fixed seed, whose ``--seed`` only permutes the query
   order of each pass; fan-engagement input per run from ``--seed``) and
   computes the ``hrl_etl`` expected output with the reference's per-row
   logic (``bench_fidelity.py``);
2. sets up ``SETUP_SAMPLES`` times: ``get_spark()`` in a cold JVM plus the
   first pass, then twice a stopped session, a new one and a pass. Each
   pass collects and checks its outputs (registry: row count and value
   hash against ``expected.json``; ``hrl_etl``: the written JSONL against
   the reference multiset). ``setup_s`` is the median of the set-ups;
3. discards ``WARMUP_PASSES`` passes, which a new session runs slower;
4. measures untraced passes into a noop sink (``hrl_etl``: a JSONL write)
   for ``--seconds`` and at least ``MIN_PASSES`` passes. The JVM keeps
   speeding up for minutes, longer than a run can wait, so ``MIN_PASSES``
   outlasts the benchmark's ``--seconds`` and every run measures the same
   passes in: a pass count that followed the host's speed moved the
   median with it. ``wall_s`` is the sum over a pass's operations of each
   operation's median, which a slow pass or a short burst of host load
   does not move;
5. with ``--trace 1``, alternates untraced and traced passes instead and
   reports per-layer medians, the tracing overhead and a span file.

Every time in ``wall_s``, ``rows_per_s`` and ``setup_s`` is *unstolen*
(``workloads.unstolen``): the measured wall less the share of its CPU
time the host stole from the most-stolen CPU, read from ``/proc/stat``
around each operation. On a virtual machine whose host is shared the
stolen share swings from 0 to half within minutes and moves raw walls with
it; the raw walls are printed beside the unstolen ones and kept in the
context line.

Every pass is kept; stdout gets each metric's median and quartiles, the
machine context (cpus, steal, load), and as its last line the JSON result
``{"correct", "attempted", "failed", "metrics"}``. ``--record`` rewrites the
stored registry expectations from this run's first set-up pass.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.layers import (  # noqa: E402
    NullTracer,
    Tracer,
    jvm_peak_rss_mb,
    make_progress_listener,
    python_nodes,
    sql_plans_since,
    wait_listener_bus,
)

SETUP_SAMPLES = 3
WARMUP_PASSES = 1
MIN_PASSES = 4
MIN_TRACED_PASSES = 2

END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s"}  # name -> unit


def isolate(cpus: int) -> None:
    """Keep every file the run writes inside the work directory and size
    Spark to the cores this process may use."""
    tmp, local = os.path.join(WORK, "tmp"), os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def median_or_none(values):
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else None


def shutdown(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # an already closed gateway needs no shutdown
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pass_layers(tracer, spark, pass_no, exec_floor, progress, cpus) -> dict:
    """Per-layer numbers of one traced pass (None where Spark could not
    answer)."""
    tracer.attribute(pass_no)
    spans = tracer.pass_spans(pass_no)

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(name):
        return sum(s.dur for s in named(name))

    def count(name, key):
        vals = [tracer.total(s, key) for s in named(name)]
        return None if any(v is None for v in vals) else sum(vals)

    queries = named("query")
    run_s = sum(s.dur for s in queries)
    task_ms = count("query", "task_ms")
    cat = [s.attrs.get("catalyst_ms") for s in queries]
    cat_ok = all(c is not None for c in cat)
    plans = sql_plans_since(spark, exec_floor)
    out = {
        "plans.build_s": dur("plans.build"),
        "plans.build_jobs": count("plans.build", "jobs"),
        "schemas.load_table_s": dur("schemas.load_table"),
        "schemas.load_table_jobs": count("schemas.load_table", "jobs"),
        "catalyst.analysis_ms": sum(c["analysis"] for c in cat) if cat_ok else None,
        "catalyst.optimization_ms": sum(c["optimization"] for c in cat) if cat_ok else None,
        "catalyst.planning_ms": sum(c["planning"] for c in cat) if cat_ok else None,
        "scheduler.jobs": count("query", "jobs"),
        "scheduler.stages": count("query", "stages"),
        "scheduler.tasks": count("query", "tasks"),
        "scheduler.uncovered_s": None if task_ms is None
        else max(0.0, run_s - task_ms / 1000.0 / cpus),
        "executor.task_s": None if task_ms is None else task_ms / 1000.0,
        "executor.cores_busy": None if task_ms is None or run_s <= 0
        else task_ms / 1000.0 / run_s,
        "executor.python_nodes": None if plans is None else python_nodes(plans[1]),
        "shuffle.read_bytes": count("query", "shuffle_read"),
        "shuffle.write_bytes": count("query", "shuffle_write"),
        "shuffle.spill_bytes": count("query", "spill"),
        "harness.self_s": sum(s.self_s for s in spans if s.name in ("pass", "query")),
        # the operations an untraced pass runs, timed inside the traced pass
        "trace.wall_s": run_s,
    }
    # Only hrl_etl records these spans; elsewhere every term is 0.
    scan, noop = dur("sources.jsonl_scan"), dur("fidelity.noop")
    out.update({
        "sources.jsonl_scan_s": scan,
        "sources.country_dim_s": dur("sources.country_dim"),
        "fidelity.transform_s": noop - scan,
        "fidelity.write_s": dur("fidelity.build") + dur("fidelity.write_json") - noop,
    })
    phases = [p for p, _ in progress]
    out.update({
        "streaming.triggers": len(progress),
        "streaming.trigger_ms": sum(p.get("triggerExecution", 0) for p in phases),
        "streaming.add_batch_ms": sum(p.get("addBatch", 0) for p in phases),
        "streaming.get_batch_ms": sum(p.get("getBatch", 0) for p in phases),
        "streaming.query_planning_ms": sum(p.get("queryPlanning", 0) for p in phases),
        "streaming.wal_commit_ms": sum(p.get("walCommit", 0) for p in phases),
        "streaming.input_rows": sum(n for _, n in progress),
    })
    return out


PER_LAYER_UNITS = {
    "session.start_s": "s", "setup.cold_s": "s", "jvm.peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "schemas.load_table_s": "s", "schemas.load_table_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.uncovered_s": "s",
    "executor.task_s": "s", "executor.cores_busy": "cores", "executor.python_nodes": "count",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "sources.jsonl_scan_s": "s", "sources.country_dim_s": "s",
    "sources.input_rows": "rows", "sources.input_bytes": "bytes",
    "fidelity.transform_s": "s", "fidelity.write_s": "s",
    "fidelity.output_rows": "rows", "fidelity.output_bytes": "bytes",
    "fidelity.python_reference_s": "s",
    "streaming.triggers": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.input_rows": "rows",
    "harness.self_s": "s", "trace.wall_s": "s", "trace.overhead_ratio": "ratio",
}


def set_up(wl, session, spark, checks: dict, record: bool = False) -> tuple:
    """One set-up: stop ``spark`` (if any), ``get_spark()`` and a checked
    pass (``record``: hashed instead of checked). Counts go into
    ``checks``; returns (spark, set-up (wall, unstolen) seconds, session
    start seconds, the pass's value hashes or None)."""
    start = W.clock()
    if spark is not None:
        spark.stop()
    spark = session.get_spark()
    t_session = time.perf_counter() - start[0]
    n, f, results = wl.run_pass(spark, NullTracer(), check=True)
    total = W.since(start)
    checks["ops"] += n
    checks["failed"] += f
    W.log(f"{wl.name}: set-up: session {t_session:.3f} s, total {total[0]:.3f} s"
          f" ({total[1]:.3f} s unstolen); operations {json.dumps(wl.op_walls)}")
    if record:
        return spark, total, t_session, wl.hashes(results)
    checks["wrong"] += wl.check(results)
    return spark, total, t_session, None


def record_expected(name: str, recorded: dict) -> None:
    data = W.load_expected() if os.path.exists(W.EXPECTED_PATH) else {}
    data[name] = {q: {"rows": r, "hash": h} for q, (r, h) in sorted(recorded.items())}
    with open(W.EXPECTED_PATH, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    W.log(f"recorded {len(recorded)} expectations for {name}")


def measure(wl, spark, seconds: float, trace: bool, cpus: int) -> dict:
    """``WARMUP_PASSES`` discarded passes, then untraced passes
    (alternating with traced ones when ``trace``) for ``seconds`` and at
    least ``MIN_PASSES`` untraced passes."""
    tracer = Tracer(spark, wl.name) if trace else None
    listener = None
    if tracer is not None:
        listener = make_progress_listener()
        spark.streams.addListener(listener)
    m = {"warmup_walls": [], "walls": [], "op_walls": [], "layers": [], "ops": 0, "failed": 0,
         "tracer": tracer}
    for _ in range(WARMUP_PASSES):
        start = W.clock()
        n, f, _ = wl.run_pass(spark, NullTracer())
        m["warmup_walls"].append(W.since(start))
        m["ops"] += n
        m["failed"] += f
    t_start = time.perf_counter()
    i = 0
    while (time.perf_counter() - t_start < seconds or len(m["walls"]) < MIN_PASSES
           or (tracer is not None and len(m["layers"]) < MIN_TRACED_PASSES)):
        if tracer is not None and i % 2 == 1:
            tracer.pass_no = i
            floor = sql_plans_since(spark, 1 << 62)
            n_progress = len(listener.progress)
            with tracer.span("pass"):
                n, f, _ = wl.run_pass(spark, tracer)
            wait_listener_bus(spark)
            m["layers"].append(pass_layers(
                tracer, spark, i, floor[0] + 1 if floor else 1 << 62,
                listener.progress[n_progress:], cpus))
        else:
            start = W.clock()
            n, f, _ = wl.run_pass(spark, NullTracer())
            m["walls"].append(W.since(start))
            m["op_walls"].append(wl.op_walls)
        m["ops"] += n
        m["failed"] += f
        i += 1
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json for this registry workload from the set-up passes")
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    isolate(cpus)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    # Fail fast, before any input is written, when the package is absent.
    import pipeline_apache_beam_entrega1_cs_spark.session as session  # noqa: E402

    wl = W.make(args.workload, WORK, args.seed)
    spark = None
    try:
        prep = wl.prepare()
        W.log(f"{wl.name}: inputs ready ({json.dumps(prep)})")
        ticks0, load0 = W.cpu_ticks(), os.getloadavg()
        checks = {"ops": 0, "failed": 0, "wrong": 0}
        record = args.record and hasattr(wl, "hashes")
        spark, cold_s, start_s, hashes = set_up(wl, session, spark, checks, record)
        if record:
            record_expected(wl.name, hashes)
        setup = [cold_s]
        for _ in range(SETUP_SAMPLES - 1):
            spark, s, _, _ = set_up(wl, session, spark, checks, record)
            setup.append(s)
        m = measure(wl, spark, args.seconds, bool(args.trace), cpus)
        ticks1, load1 = W.cpu_ticks(), os.getloadavg()
        peak_rss = jvm_peak_rss_mb(spark)
        attempted, failed = checks["ops"] + m["ops"], checks["failed"] + m["failed"]
        result = report(args, wl, cpus, prep, setup, start_s, m, peak_rss, attempted,
                        failed, checks["wrong"], (ticks0, ticks1, load0, load1))
    finally:
        wl.cleanup()
        if spark is not None:
            shutdown(spark)
    print(json.dumps(result), flush=True)
    return 0


def report(args, wl, cpus, prep, setup, start_s, m, peak_rss, attempted, failed, wrong,
           machine) -> dict:
    """Print the human-readable table (and write the span file when
    traced); return the result object."""
    walls, op_walls = m["walls"], m["op_walls"]

    def pass_wall(i: int) -> float:
        """One pass's wall, estimated robustly: the sum over the pass's
        operations of each operation's median across the measured passes
        (a failed operation has no wall in its pass). Every wall is a
        (wall, unstolen) pair; ``i`` picks one."""
        ops = {q for p in op_walls for q in p}
        total = sum(statistics.median([p[q][i] for p in op_walls if q in p]) for q in ops)
        return total or statistics.median(w[i] for w in walls)

    wall_s, raw_wall_s = pass_wall(1), pass_wall(0)
    setup_s = [s[1] for s in setup]
    metrics = {"wall_s": wall_s, "rows_per_s": wl.input_rows / wall_s,
               "setup_s": statistics.median(setup_s)}
    ticks0, ticks1, load0, load1 = machine
    tck = os.sysconf("SC_CLK_TCK")
    context = {
        "workload": wl.name, "seed": args.seed, "cpus": cpus,
        "busy_s": sum(b1 - b0 for (b0, _), (b1, _) in zip(ticks0, ticks1)) / tck,
        "steal_s": sum(s1 - s0 for (_, s0), (_, s1) in zip(ticks0, ticks1)) / tck,
        "load_start": list(load0), "load_end": list(load1),
        "warmup_walls_s": m["warmup_walls"], "pass_walls_s": walls,
        "op_walls_s": op_walls, "setup_samples_s": setup,
        "input_rows": wl.input_rows, **prep,
    }
    print(f"context: {json.dumps(context)}")
    print(f"{'metric':<28}{'value':>14}{'q1':>14}{'q3':>14}  unit (n)")
    print(f"{'wall_s':<28}{wall_s:>14.4f}{'':>28}  s (sum of per-operation medians, unstolen)")
    print(f"{'wall_raw_s':<28}{raw_wall_s:>14.4f}{'':>28}  s (the same, as measured)")
    for name, vals, what in (("pass_s", [w[1] for w in walls], "passes, unstolen"),
                             ("pass_raw_s", [w[0] for w in walls], "passes, as measured"),
                             ("setup_s", setup_s, "set-ups, unstolen"),
                             ("setup_raw_s", [s[0] for s in setup], "set-ups, as measured")):
        q1, q2, q3 = quartiles(vals)
        print(f"{name:<28}{q2:>14.4f}{q1:>14.4f}{q3:>14.4f}  s ({len(vals)} {what})")
    print(f"{'rows_per_s':<28}{metrics['rows_per_s']:>14.1f}{'':>28}  rows/s")
    print(f"{'peak_rss_mb':<28}{peak_rss or float('nan'):>14.1f}{'':>28}  MB (driver JVM VmHWM)")
    print(f"{'failed_ratio':<28}{(failed + wrong) / max(1, attempted):>14.4f}{'':>28}"
          f"  ratio ({failed} failed + {wrong} wrong of {attempted})")
    out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    tracer = m["tracer"]
    if tracer is not None:
        layers = {k: median_or_none([r.get(k) for r in m["layers"]]) for k in PER_LAYER_UNITS}
        stats = getattr(wl, "stats", {})
        layers.update({
            "session.start_s": start_s, "setup.cold_s": setup_s[0], "jvm.peak_rss_mb": peak_rss,
            "sources.input_rows": wl.input_rows if wl.name == "hrl_etl" else 0,
            "sources.input_bytes": getattr(wl, "input_bytes", 0),
            "fidelity.output_rows": stats.get("output_rows", 0),
            "fidelity.output_bytes": stats.get("output_bytes", 0),
            "fidelity.python_reference_s": prep.get("python_reference_s", 0.0),
            "trace.overhead_ratio": (layers["trace.wall_s"] or 0.0) / raw_wall_s,
        })
        for k, unit in PER_LAYER_UNITS.items():
            if layers[k] is None:
                W.log(f"layer metric {k}: no traced pass could be read; reported as 0")
                layers[k] = 0
            print(f"{k:<28}{layers[k]:>14.4f}{'':>28}  {unit}")
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        path = os.path.join(WORK, "trace", f"{wl.name}-seed{args.seed}.jsonl")
        with open(path, "w") as fh:
            for sp in tracer.spans:
                fh.write(json.dumps(sp.record()) + "\n")
            fh.write(json.dumps({"summary": layers, "passes": m["layers"],
                                 "context": context}) + "\n")
        print(f"spans: {path}")
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    return {"correct": failed == 0 and wrong == 0, "attempted": attempted,
            "failed": failed + wrong, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
