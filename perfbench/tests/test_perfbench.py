"""Unit tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import glob
import os
import sys
from collections import Counter
from datetime import datetime
from pathlib import Path

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, workloads  # noqa: E402


def test_same_seed_gives_byte_identical_fan_input(tmp_path):
    a = datagen.write_fan_input(str(tmp_path / "a"), 7, 3000, 3)
    b = datagen.write_fan_input(str(tmp_path / "b"), 7, 3000, 3)
    files_a, files_b = sorted(glob.glob(a[0])), sorted(glob.glob(b[0]))
    assert len(files_a) == 3
    for fa, fb in zip(files_a + [a[1]], files_b + [b[1]]):
        assert filecmp.cmp(fa, fb, shallow=False)
    assert datagen.fan_lines(7, 500) != datagen.fan_lines(8, 500)


def test_same_seed_gives_identical_tables():
    t1, t2 = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert set(t1) == {"region", "nation", "customer", "supplier", "part", "orders",
                       "lineitem", "events", "documents", "embeddings"}
    for name in t1:
        assert t1[name].equals(t2[name]), name


def test_fan_input_carries_edge_cases():
    lines = datagen.fan_lines(3, 20_000)
    text = "\n".join(lines)
    assert '"DeviceType": " Other "' in text
    assert "[1, 2]" in lines and '"RaceID": null' in text
    assert any(line.startswith('{"FanID"') and not line.endswith("}") for line in lines)
    assert "Atlantis" in text and '"u.s."' in text and "Côte d'Ivoire" in text


def _reference_multiset(tmp_path, seed=5, n=4000):
    import bench_fidelity as ref

    shard_glob, csv_path = datagen.write_fan_input(str(tmp_path / "in"), seed, n, 2)
    out = tmp_path / "expected.jsonl"
    ref.python_runner([Path(p) for p in sorted(glob.glob(shard_glob))], out,
                      ref.build_lut(csv_path))
    return out, workloads.jsonl_multiset([out])


def test_reference_output_matches_itself_and_perturbed_row_fails(tmp_path):
    out, expected = _reference_multiset(tmp_path)
    assert workloads.multiset_diff(expected, workloads.jsonl_multiset([out])) == 0
    lines = out.read_text(encoding="utf-8").splitlines()
    lines[17] = lines[17].replace('"FanID": "', '"FanID": "X', 1)
    bad = tmp_path / "bad.jsonl"
    bad.write_text("\n".join(lines) + "\n", encoding="utf-8")
    assert workloads.multiset_diff(expected, workloads.jsonl_multiset([bad])) == 2
    dropped = tmp_path / "dropped.jsonl"
    dropped.write_text("\n".join(lines[:17] + lines[18:]) + "\n", encoding="utf-8")
    assert workloads.multiset_diff(expected, workloads.jsonl_multiset([dropped])) >= 1


def test_null_fields_compare_equal_to_absent():
    a = workloads.normalize_jsonl_row({"FanID": "F1", "DeviceType": None})
    assert a == workloads.normalize_jsonl_row({"FanID": "F1"})


def test_value_hash_is_order_insensitive_and_tolerates_float_noise():
    rows = [(1, "a", 0.1 + 0.2, [3, 1]), (2, "b", 1e-9, [2]), (3, None, -0.0, [])]
    noisy = [(3, None, 0.0, []), (1, "a", 0.3, [1, 3]), (2, "b", 1.0000000001e-9, [2])]
    assert workloads.value_hash(rows) == workloads.value_hash(noisy)
    changed = [(1, "a", 0.31, [3, 1])] + rows[1:]
    assert workloads.value_hash(changed)[1] != workloads.value_hash(rows)[1]
    assert workloads.value_hash([(datetime(2024, 1, 1),)])[0] == 1


class _BrokenSpark:
    """A session whose JVM side raises on every call."""

    class _Ctx:
        @property
        def _jsc(self):
            raise RuntimeError("status store unavailable")

    sparkContext = _Ctx()


def test_failed_snapshot_gives_none_not_a_sentinel():
    spark = _BrokenSpark()
    assert layers.id_snapshot(spark) is None
    assert layers.stage_counts(spark, 0, 10) is None
    tracer = layers.Tracer(spark, "w")
    tracer.pass_no = 1
    with tracer.span("pass") as root:
        with tracer.span("query", "q"):
            pass
    tracer.attribute(1)
    assert root.counts is None
    assert tracer.total(root, "task_ms") is None
    assert root.self_s >= 0


class _FakeStore:
    def __init__(self, stages):
        self.stages = stages

    def lastStageAttempt(self, sid):
        if sid not in self.stages:
            raise KeyError(sid)
        return self.stages[sid]


class _Stage:
    def __init__(self, tasks, ms, status="COMPLETE"):
        self.t, self.ms, self.st = tasks, ms, status

    def status(self):
        return self.st

    def numCompleteTasks(self):
        return self.t

    def executorRunTime(self):
        return self.ms

    def shuffleReadBytes(self):
        return 10

    def shuffleWriteBytes(self):
        return 20

    def memoryBytesSpilled(self):
        return 0

    def diskBytesSpilled(self):
        return 0


class _FakeSpark:
    """Scheduler ids advance as the test says; the store holds stages."""

    def __init__(self, stages):
        self.ids = [0, 0]
        store, ids = _FakeStore(stages), self.ids

        class Dag:
            def nextJobId(self):
                return ids[0]

            def nextStageId(self):
                return ids[1]

        class Sc:
            def dagScheduler(self):
                return Dag()

            def statusStore(self):
                return store

        class Jsc:
            def sc(self):
                return Sc()

        class Ctx:
            _jsc = Jsc()

        self.sparkContext = Ctx()


def test_counts_go_to_the_innermost_span():
    spark = _FakeSpark({0: _Stage(4, 100), 1: _Stage(1, 5, "SKIPPED"), 2: _Stage(2, 30)})
    tracer = layers.Tracer(spark, "w")
    with tracer.span("pass") as root:
        with tracer.span("query", "q") as q:
            with tracer.span("plans.build") as build:
                spark.ids[:] = [1, 1]  # one job, stage 0
            spark.ids[:] = [2, 3]  # one job, stages 1 (skipped) and 2
    tracer.attribute(0)
    assert build.counts["jobs"] == 1 and build.counts["task_ms"] == 100
    assert q.counts["jobs"] == 1 and q.counts["stages"] == 1 and q.counts["tasks"] == 2
    assert tracer.total(root, "task_ms") == 130
    assert tracer.total(root, "jobs") == 2
    assert tracer.total(root, "shuffle_write") == 40


def test_self_time_subtracts_the_union_of_children():
    class S:
        def __init__(self, a, b):
            self.start, self.end = a, b

    assert layers.covered(S(0, 10), [S(1, 3), S(2, 4), S(6, 7), S(9, 12)]) == pytest.approx(5)


def test_python_nodes_read_only_the_plan_tree():
    plan = ("== Physical Plan ==\nAdaptiveSparkPlan (5)\n+- MapInPandas (3)\n"
            "   +- ArrowEvalPython (2)\n\n\n(1) Scan\n(3) MapInPandas\nArguments: x")
    assert layers.python_nodes([plan]) == 2


def test_unstolen_wall_scales_by_the_most_stolen_cpu():
    before = [(0, 0), (0, 0)]
    assert workloads.unstolen(3.0, before, [(200, 100), (300, 10)]) == pytest.approx(2.0)
    assert workloads.unstolen(3.0, before, [(200, 0), (300, 0)]) == 3.0
    assert workloads.unstolen(3.0, [], []) == 3.0  # no ticks read: the wall as measured
    wall, net = workloads.since(workloads.clock())
    assert 0 <= net <= wall


def test_multiset_diff_counts_missing_and_extra():
    assert workloads.multiset_diff(Counter(a=2, b=1), Counter(a=1, c=1)) == 3


def test_registry_workload_covers_each_family_with_stored_expectations():
    expected = workloads.load_expected()
    assert set(expected) == {"registry"}
    assert set(expected["registry"]) == set(workloads.REGISTRY)
    assert workloads.WORKLOADS == ["hrl_etl", "registry"]
