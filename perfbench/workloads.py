"""The benchmark workloads and their output checks.

A workload runs one *pass* at a time. A pass is the unit every end-to-end
number is about: the paper's dataflow once over its input (``hrl_etl``),
or each entry of the registry set once in a seeded order (``registry``).
Passes run either untraced (a ``NullTracer``: nothing is recorded) or
traced (spans around each call into the package, plus the extra calls
that split a layer out, see ``RegistryWorkload.run_pass`` and
``HrlWorkload.run_pass``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

from . import datagen
from .layers import catalyst_ms

# The registry entries of the ``registry`` workload, one per family, cut to
# what one run can repeat several times inside the benchmark's time budget;
# the comment names what each entry exercises.
REGISTRY = [
    "q5_region_revenue",           # relational: six table loads, five joins
    "text_tfidf_top_terms",        # LLM data: tokenize, TF-IDF through seven exchanges
    "streaming_dedup_watermark",   # streaming: stateful dedup replayed by streaming/windows.py
]

# Generated table scale: lineitem has 6,000,000 x SF rows.
TABLE_SF = 0.01
# hrl_etl input size.
FAN_LINES = 100_000
FAN_SHARDS = 8

EXPECTED_PATH = os.path.join(os.path.dirname(__file__), "expected.json")


# --- order-insensitive value hash ---

def canon(v):
    """A hashable, engine-noise-free form of one collected value: floats
    keep 6 significant digits, nested sequences are sorted, rows become
    tuples of their fields."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        if v != v:
            return "nan"
        return 0.0 if v == 0 else float(f"{v:.6g}")
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted(((canon(k), canon(x)) for k, x in v.items()), key=repr))
    if isinstance(v, tuple) and hasattr(v, "__fields__"):  # pyspark Row
        return tuple(canon(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(sorted((canon(x) for x in v), key=repr))
    return repr(v)


def value_hash(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of collected rows."""
    keys = sorted(repr(canon(r)) for r in rows)
    digest = hashlib.sha256("\n".join(keys).encode()).hexdigest()[:16]
    return len(keys), digest


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


# --- hrl_etl output check ---

def normalize_jsonl_row(obj: dict) -> str:
    """Spark's JSON writer omits null fields, the reference writes them:
    compare with null == absent."""
    return json.dumps({k: v for k, v in obj.items() if v is not None},
                      sort_keys=True, ensure_ascii=False)


def jsonl_multiset(paths) -> Counter:
    c: Counter = Counter()
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    c[normalize_jsonl_row(json.loads(line))] += 1
    return c


def multiset_diff(expected: Counter, got: Counter) -> int:
    """Rows missing plus rows extra; 0 means the outputs agree."""
    return sum((expected - got).values()) + sum((got - expected).values())


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- wall time net of the host's steal ---

def cpu_ticks() -> list[tuple[int, int]]:
    """(busy, stolen) clock ticks since boot of each CPU this process may
    run on, from ``/proc/stat``; [] where it cannot be read."""
    mine = os.sched_getaffinity(0) if hasattr(os, "sched_getaffinity") else None
    out = []
    try:
        with open("/proc/stat") as f:
            for line in f:
                name, *fields = line.split()
                if not name.startswith("cpu"):
                    break
                if name == "cpu" or (mine is not None and int(name[3:]) not in mine):
                    continue
                v = [int(x) for x in fields[:8]]
                out.append((v[0] + v[1] + v[2] + v[5] + v[6], v[7]))
    except (OSError, ValueError, IndexError):
        return []
    return out


def clock() -> tuple[float, list[tuple[int, int]]]:
    return time.perf_counter(), cpu_ticks()


def unstolen(wall: float, ticks0, ticks1) -> float:
    """``wall`` less the share of its CPU time the host stole from the CPU
    it stole most from (``cpu_ticks`` before and after). A stage waits for
    its slowest task, and a task on a CPU that lost a share ``s`` to the
    host runs ``1 / (1 - s)`` times slower: scaling by the whole machine's
    share instead left about a third of the slowdown in the wall (measured
    on 4 vCPUs with 0-40 % steal)."""
    deltas = [(b1 - b0, s1 - s0) for (b0, s0), (b1, s1) in zip(ticks0, ticks1)]
    if not deltas:
        return wall
    busy, stolen = max(deltas, key=lambda d: d[1])
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


def since(start) -> tuple[float, float]:
    """(wall seconds, unstolen wall seconds) since ``start = clock()``."""
    t0, ticks0 = start
    wall = time.perf_counter() - t0
    return wall, unstolen(wall, ticks0, cpu_ticks())


class RegistryWorkload:
    """A set of registry queries over the generated tables; the seed
    permutes the query order of every pass."""

    def __init__(self, name: str, queries: list[str], work: str, seed: int) -> None:
        self.name, self.queries, self.work = name, queries, work
        self.rng = random.Random(seed)
        self.sf_dir = ""
        self.input_rows = 0
        self.expected = {}

    def prepare(self) -> dict:
        import pyarrow.parquet as pq

        from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries
        from pipeline_apache_beam_entrega1_cs_spark.schemas import TESTDATA_TABLES

        t0 = time.perf_counter()
        self.sf_dir = datagen.ensure_tables(self.work, TABLE_SF)
        self.tables = TESTDATA_TABLES
        self.input_rows = sum(
            pq.read_metadata(os.path.join(self.sf_dir, f"{t}.parquet")).num_rows
            for t in self.tables)
        registry = all_queries()
        self.fns = {q: registry[q].fn for q in self.queries}
        if os.path.exists(EXPECTED_PATH):
            self.expected = load_expected().get(self.name, {})
        return {"inputs_s": time.perf_counter() - t0}

    def run_pass(self, spark, tracer, check: bool = False) -> tuple[int, int, dict]:
        """One pass: every query built and run into a noop sink (or
        collected when ``check``). Returns (ops, failed, {query: rows})."""
        from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

        order = list(self.queries)
        self.rng.shuffle(order)
        failed, results = 0, {}
        self.op_walls = {}
        if tracer.enabled:
            for t in self.tables:
                with tracer.span("schemas.load_table", t):
                    load_table(spark, self.sf_dir, t)
        for q in order:
            start = clock()
            with tracer.span("query", q) as qs:
                try:
                    with tracer.span("plans.build"):
                        df = self.fns[q](spark, self.sf_dir)
                    with tracer.span("execute"):
                        if check:
                            rows = df.collect()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    if qs is not None:
                        with tracer.span("catalyst"):
                            qs.attrs["catalyst_ms"] = catalyst_ms(df)
                except Exception:  # counted, reported, and the pass goes on
                    failed += 1
                    log(f"{self.name}: {q} failed:\n{traceback.format_exc()}")
                    continue
            self.op_walls[q] = since(start)
            if check:
                results[q] = rows
        return len(order), failed, results

    def cleanup(self) -> None:
        pass

    def hashes(self, results: dict) -> dict:
        return {q: value_hash(rows) for q, rows in results.items()}

    def check(self, results: dict) -> int:
        """Queries whose (rows, hash) differ from the stored expectation."""
        bad = 0
        got_all = self.hashes(results)
        for q in self.queries:
            exp = self.expected.get(q)
            got = got_all.get(q)
            if got is None:
                continue  # already counted as a failed operation
            if exp is None or [exp["rows"], exp["hash"]] != list(got):
                bad += 1
                log(f"{self.name}: {q} output mismatch: expected {exp}, got {got}")
        return bad


class HrlWorkload:
    """The paper's dataflow: ``build_fidelity_df`` over seeded JSONL
    shards and a country CSV, written as multi-shard JSONL."""

    name = "hrl_etl"

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.in_dir = os.path.join(work, f"hrl_in-{os.getpid()}")
        self.out_dir = os.path.join(work, f"hrl_out-{os.getpid()}")
        self.expected: Counter = Counter()
        self.stats: dict = {}

    def prepare(self) -> dict:
        import bench_fidelity as ref

        t0 = time.perf_counter()
        self.json_glob, self.csv_path = datagen.write_fan_input(
            self.in_dir, self.seed, FAN_LINES, FAN_SHARDS)
        inputs_s = time.perf_counter() - t0
        shards = sorted(glob.glob(self.json_glob))
        self.input_rows = FAN_LINES
        self.input_bytes = sum(os.path.getsize(p) for p in shards)
        # expected output: the reference's per-row logic, single-threaded
        ref_out = os.path.join(self.in_dir, "expected.jsonl")
        t0 = time.perf_counter()
        n = ref.python_runner([Path(p) for p in shards], Path(ref_out),
                              ref.build_lut(self.csv_path))
        python_s = time.perf_counter() - t0
        self.expected = jsonl_multiset([ref_out])
        os.remove(ref_out)
        assert sum(self.expected.values()) == n
        return {"inputs_s": inputs_s, "python_reference_s": python_s}

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, tracer, check: bool = False) -> tuple[int, int, dict]:
        """One pass: build the plan and write it as JSONL. A traced pass
        also runs the scan alone, the country dimension alone and the
        whole plan into a noop sink, so scan, transform and write split."""
        from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
            JSON_KEYS_COL,
            build_fidelity_df,
        )
        from pipeline_apache_beam_entrega1_cs_spark.schemas import FAN_ENGAGEMENT_SCHEMA
        from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim
        from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

        self.op_walls = {}
        start = clock()
        try:
            with tracer.span("query", "hrl_etl") as qs:
                with tracer.span("fidelity.build"):
                    df = build_fidelity_df(spark, self.json_glob, self.csv_path)
                with tracer.span("fidelity.write_json"):
                    df.write.mode("overwrite").json(self.out_dir)
                if qs is not None:
                    with tracer.span("catalyst"):
                        qs.attrs["catalyst_ms"] = catalyst_ms(df)
            self.op_walls = {"hrl_etl": since(start)}
            if tracer.enabled:
                with tracer.span("sources.jsonl_scan"):
                    self._noop(read_jsonl_dicts(spark, self.json_glob, FAN_ENGAGEMENT_SCHEMA,
                                                keys_col=JSON_KEYS_COL))
                with tracer.span("sources.country_dim"):
                    self._noop(read_country_dim(spark, self.csv_path))
                with tracer.span("fidelity.noop"):
                    self._noop(build_fidelity_df(spark, self.json_glob, self.csv_path))
        except Exception:  # counted and reported like a registry query
            log(f"hrl_etl failed:\n{traceback.format_exc()}")
            return 1, 1, {}
        parts = glob.glob(os.path.join(self.out_dir, "part-*"))
        self.stats["output_bytes"] = sum(os.path.getsize(p) for p in parts)
        return 1, 0, ({"hrl_etl": parts} if check else {})

    def check(self, result: dict) -> int:
        parts = result.get("hrl_etl")
        if parts is None:
            return 0  # already counted as a failed operation
        got = jsonl_multiset(parts)
        self.stats["output_rows"] = sum(got.values())
        diff = multiset_diff(self.expected, got)
        if diff:
            log(f"hrl_etl output differs from the reference in {diff} rows")
        return 1 if diff else 0

    def cleanup(self) -> None:
        shutil.rmtree(self.in_dir, ignore_errors=True)
        shutil.rmtree(self.out_dir, ignore_errors=True)


def make(name: str, work: str, seed: int):
    if name == "hrl_etl":
        return HrlWorkload(work, seed)
    return RegistryWorkload(name, REGISTRY, work, seed)


WORKLOADS = ["hrl_etl", "registry"]
