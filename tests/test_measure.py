"""The measurement core shared by the root timing harnesses (measure.py):
the timed noop run, the sweep error rule, the resumable .jsonl loop, the
waiver carry-forward and the steal window — on stub frames, no Spark."""

from __future__ import annotations

import json
from types import SimpleNamespace

import measure


def _frame(fail: bool = False):
    """A stub DataFrame whose ``.write.format().mode().save()`` succeeds
    or raises."""

    def save():
        if fail:
            raise RuntimeError("executor lost")

    writer = SimpleNamespace(save=save)
    writer.format = lambda _fmt: writer
    writer.mode = lambda _mode: writer
    return SimpleNamespace(write=writer)


def _query(outcomes: list[bool]):
    """A registry-style ``fn(spark, sf_dir)`` that fails on the runs
    whose outcome is False, in order."""
    it = iter(outcomes)
    return lambda spark, sf_dir: _frame(fail=not next(it))


def test_transient_failure_keeps_valid_min():
    # object() has no status store: task time is unknown, never a sum
    runs, err, task = measure.timed_noop(
        object(), _query([False, True]), "sf", 2, task_time=True
    )
    assert len(runs) == 1 and runs[0] >= 0.0
    assert err.startswith("RuntimeError: executor lost")
    assert task is None
    assert measure.run_min(runs) == runs[0]
    assert measure.error_fields(err, bool(runs)) == {"transient_error": err}


def test_all_runs_failing_is_an_error_with_min_minus_one():
    runs, err, _ = measure.timed_noop(object(), _query([False, False]), "sf", 2)
    assert runs == [] and err is not None
    assert measure.run_min(runs) == -1.0
    assert measure.error_fields(err, bool(runs)) == {"error": err}
    assert measure.error_fields(None, True) == {}


def test_task_time_is_the_fastest_runs_new_stages(monkeypatch):
    """Each run is charged only the stages created after its pre-run
    snapshot; the returned task ms belong to the min-wall run."""
    stages: dict[int, int] = {1: 999}  # a stage from before the runs
    reads = []

    class Store:
        def __getattr__(self, name):  # stageList$default$N
            return lambda: None

        def stageList(self, *args):
            reads.append(len(stages))
            items = [
                SimpleNamespace(stageId=lambda k=k: k, executorRunTime=lambda v=v: v)
                for k, v in stages.items()
            ]
            return SimpleNamespace(size=lambda: len(items), apply=items.__getitem__)

    sc = SimpleNamespace(statusStore=Store)
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc))
    )
    clock = iter([0.0, 5.0, 10.0, 11.0])  # run 1 takes 5 s, run 2 takes 1 s

    def fn(spark, sf_dir):
        stages[max(stages) + 1] = 100 * len(stages)
        return _frame()

    fake_time = SimpleNamespace(perf_counter=lambda: next(clock))
    monkeypatch.setattr(measure, "time", fake_time)
    runs, err, task = measure.timed_noop(spark, fn, "sf", 2, task_time=True)
    assert runs == [5.0, 1.0] and err is None
    assert task == 200  # stage 3 of run 2, not stages 1-3
    assert len(reads) == 4  # one snapshot before and one after each run
    # without task_time the status store is never read
    clock = iter([0.0, 1.0])
    assert measure.timed_noop(spark, fn, "sf", 1) == ([1.0], None, None)
    assert len(reads) == 4


def test_resume_skips_recorded_names_and_appends_new(tmp_path, capsys):
    out = str(tmp_path / "SWEEP.json")
    with open(out + ".jsonl", "w") as f:
        f.write(json.dumps({"name": "a", "runs": [1.0], "min": 1.0}) + "\n")
    measured = []

    def entry(name):
        measured.append(name)
        return {"runs": [2.0], "min": 2.0}, "2.0s"

    entries, fresh = measure.resume(out, ["a", "b", "c"], entry)
    assert measured == fresh == ["b", "c"]
    assert entries["a"] == {"runs": [1.0], "min": 1.0}
    assert entries["c"] == {"runs": [2.0], "min": 2.0}
    with open(out + ".jsonl") as f:
        assert [json.loads(line)["name"] for line in f] == ["a", "b", "c"]
    assert "resuming: 1 entries" in capsys.readouterr().err
    # a second resume has nothing left to measure
    assert measure.resume(out, ["a", "b", "c"], entry)[1] == []


def test_waivers_carry_forward_from_existing_artifact(tmp_path):
    out = tmp_path / "GROWTH.json"
    assert measure.carried(str(out), "growth_waivers") == {}
    waivers = {"x": "adjudicated in SCALING.md"}
    out.write_text(json.dumps({"growth_waivers": waivers, "entries": {}}))
    assert measure.carried(str(out), "growth_waivers") == waivers
    out.write_text("{truncated")
    assert measure.carried(str(out), "growth_waivers") == {}


def test_unreadable_proc_stat_gives_no_steal(tmp_path, monkeypatch):
    monkeypatch.setattr(measure, "PROC_STAT", str(tmp_path / "missing"))
    window = measure.Window()
    assert measure.read_steal_ticks() is None
    assert window.fields()["steal_delta_s"] is None
    (tmp_path / "missing").write_text("")  # readable but empty
    assert measure.read_steal_ticks() is None


def test_steal_ticks_convert_with_clock_ticks(tmp_path, monkeypatch):
    stat = tmp_path / "stat"
    monkeypatch.setattr(measure, "PROC_STAT", str(stat))
    stat.write_text("cpu  1 2 3 4 5 6 7 100 0 0\n")
    window = measure.Window()
    hz = measure.os.sysconf("SC_CLK_TCK")
    stat.write_text(f"cpu  1 2 3 4 5 6 7 {100 + 3 * hz} 0 0\n")
    assert window.steal_s() == 3.0
