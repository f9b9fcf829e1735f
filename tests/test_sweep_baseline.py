"""The full-registry timing-sweep baseline must stay in lockstep with
the registry (VERDICT r11 item 3 made the sweep a standing ritual; this
test makes skipping it impossible, the same forcing-function move as
tests/test_rotation.py): the newest committed SWEEP_r<N>_*.json must
cover EVERY registry entry (an entry added without re-running
`python registry_sweep.py <newest>` fails here — the resumable sweep
only measures the missing names, so the fix is one command) and must
contain no errored rows.

Round-13 additions (VERDICT r12 items 5 + ADVICE): the baseline is
selected by the ROUND NUMBER parsed from the filename, not mtime (a
fresh checkout's mtimes reflect checkout order, so mtime could pick an
arbitrary stale file once several sweeps are committed), and the newest
sweep is DIFFED against the previous round's: a per-entry min-time
regression > 2x with > 0.75 s absolute growth fails the suite — the
sweep caught real defects three rounds running (93 s pair explosion,
25 s fit-per-run, 5.25 s single-reducer Expand); this mechanizes the
catch. The diff ALWAYS runs; a noisy window (steal above 5% of the
sweep's execution time, or load_avg_start > 8) only excuses apparent
regressions as a skip — ambient inflation pushes toward false
regressions, so a clean diff on a noisy window is a conservative pass.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Regression thresholds: ratio AND absolute floor must both trip, so
# sub-second jitter on cheap entries never fails the gate.
_RATIO = 2.0
_ABS_FLOOR_S = 0.75
# Noisy-machine guard (matches the bench harness's quiet posture).
_MAX_STEAL_S = 1.0
_MAX_LOAD = 8.0


def _sweeps_by_round() -> list[tuple[int, str]]:
    """(round, path) for every committed SWEEP_r<N>_*.json, ascending."""
    out = []
    for p in glob.glob(os.path.join(REPO, "SWEEP_*.json")):
        if p.endswith(".jsonl"):
            continue
        m = re.search(r"SWEEP_r(\d+)", os.path.basename(p))
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _newest_sweep() -> tuple[str, dict]:
    sweeps = _sweeps_by_round()
    assert sweeps, (
        "no committed SWEEP_r<N>_*.json baseline (run "
        "`python registry_sweep.py SWEEP_r<N>_sf0.1.json`)"
    )
    path = sweeps[-1][1]
    return path, _load(path)


def test_sweep_baseline_covers_registry():
    path, data = _newest_sweep()
    missing = sorted(set(all_queries()) - set(data["entries"]))
    assert not missing, (
        f"{len(missing)} registry entries absent from {os.path.basename(path)} "
        f"— run `python registry_sweep.py {os.path.basename(path)}` "
        f"(resumable; only sweeps the missing names): {missing}"
    )


def test_sweep_baseline_has_no_errors():
    path, data = _newest_sweep()
    bad = sorted(n for n, r in data["entries"].items() if "error" in r)
    assert not bad, f"errored sweep rows in {os.path.basename(path)}: {bad}"


def _noisy(data: dict) -> str | None:
    steal = data.get("steal_delta_s")
    load = data.get("load_avg_start")
    # Steal accrues over the sweep's FULL window (~15 min of 32-thread
    # burn), so the threshold scales with measured execution time: 5%
    # of total_min_s, floored at the bench-window absolute.
    limit = max(_MAX_STEAL_S, 0.05 * float(data.get("total_min_s", 0)))
    if steal is not None and steal > limit:
        return f"steal_delta_s={steal} (limit {round(limit, 1)})"
    if load is not None and load > _MAX_LOAD:
        return f"load_avg_start={load}"
    return None


def test_sweep_no_per_entry_regression_vs_previous_round():
    import pytest

    sweeps = _sweeps_by_round()
    if len(sweeps) < 2:
        return  # first mechanized round: nothing to diff against
    (prev_rnd, prev_path), (cur_rnd, cur_path) = sweeps[-2], sweeps[-1]
    prev, cur = _load(prev_path), _load(cur_path)
    # Noise only EXCUSES apparent regressions (ambient inflation can
    # fake one) — a clean diff on a noisy window is a conservative
    # PASS, since inflation pushes toward false regressions, so the
    # diff always runs and the noisy-skip applies only to failures.
    # Direction matters (ADVICE r13): only noise in the CURRENT window
    # can fake a regression. A noisy PREVIOUS window inflates the
    # baseline and therefore HIDES regressions — one that still trips
    # against an inflated baseline is more credible, not less, so
    # _noisy(prev) never downgrades a failure (at most it means the
    # diff was insensitive, which a skip would mask).
    noisy = _noisy(cur)
    waived = set(cur.get("regression_waivers", {}))
    regressions = []
    for name, rec in cur["entries"].items():
        if name in waived or name not in prev["entries"]:
            continue
        p, c = prev["entries"][name].get("min", -1), rec.get("min", -1)
        if p <= 0 or c <= 0:
            continue
        if c > p * _RATIO and c - p > _ABS_FLOOR_S:
            regressions.append(f"{name}: {p}s -> {c}s ({c / p:.1f}x)")
    if regressions and noisy:
        pytest.skip(
            f"apparent regressions on a noisy window ({noisy}) — "
            f"re-measure quiet before adjudicating: {regressions}"
        )
    assert not regressions, (
        f"per-entry sweep regressions r{prev_rnd} -> r{cur_rnd} "
        f"(re-measure on a quiet machine — delete the entry's line from "
        f"{os.path.basename(cur_path)}.jsonl and rerun registry_sweep.py — "
        f"or adjudicate in SCALING.md and add a regression_waivers entry): "
        + "; ".join(regressions)
    )


def test_regression_gate_logic_on_synthetic_sweeps(tmp_path, monkeypatch):
    """Unit-test the gate's decision table on synthetic sweep files:
    (a) a planted >2x/>0.75s regression FAILS on a quiet window;
    (b) the same regression is excused (skip) on a noisy window;
    (c) a waived regression passes; (d) sub-floor jitter passes."""
    import json as _json

    import pytest

    import tests.test_sweep_baseline as sb

    def write(rnd, entries, steal=0.0, total=10.0, waivers=None):
        p = tmp_path / f"SWEEP_r{rnd}_sf0.1.json"
        p.write_text(_json.dumps({
            "sf": "0.1", "total_min_s": total, "steal_delta_s": steal,
            "load_avg_start": 0.5, "regression_waivers": waivers or {},
            "entries": {n: {"runs": [v], "min": v} for n, v in entries.items()},
        }))
        return p

    monkeypatch.setattr(sb, "REPO", str(tmp_path))

    # (a) quiet + regression -> AssertionError
    write(1, {"x": 1.0, "y": 0.1})
    write(2, {"x": 3.0, "y": 0.1})
    with pytest.raises(AssertionError, match="x: 1.0s -> 3.0s"):
        sb.test_sweep_no_per_entry_regression_vs_previous_round()

    # (b) noisy current window -> skip, not fail
    write(2, {"x": 3.0, "y": 0.1}, steal=5.0)
    with pytest.raises(pytest.skip.Exception):
        sb.test_sweep_no_per_entry_regression_vs_previous_round()

    # (b2) noisy PREVIOUS window does NOT excuse: an inflated baseline
    # hides regressions, so tripping against it is more credible, not
    # less (ADVICE r13) -> still AssertionError
    write(1, {"x": 1.0, "y": 0.1}, steal=5.0)
    write(2, {"x": 3.0, "y": 0.1})
    with pytest.raises(AssertionError, match="x: 1.0s -> 3.0s"):
        sb.test_sweep_no_per_entry_regression_vs_previous_round()
    write(1, {"x": 1.0, "y": 0.1})  # restore quiet baseline

    # (c) waived -> pass
    write(2, {"x": 3.0, "y": 0.1}, waivers={"x": "adjudicated in SCALING.md"})
    sb.test_sweep_no_per_entry_regression_vs_previous_round()

    # (d) ratio >2x but under the absolute floor -> pass
    write(2, {"x": 1.2, "y": 0.3})
    sb.test_sweep_no_per_entry_regression_vs_previous_round()


def test_bench_layers_none_when_spark_bookkeeping_fails():
    """measure.timed_noop reports a run's counts as None when the id
    snapshot or the status store cannot be read, never as an empty
    window or a session-wide sum."""
    from types import SimpleNamespace

    import measure

    def raising():
        raise RuntimeError("unavailable")

    writer = SimpleNamespace(save=lambda: None)
    writer.format = writer.mode = lambda _arg: writer
    ids = iter(range(100))
    dag = SimpleNamespace(nextJobId=lambda: next(ids), nextStageId=lambda: next(ids))

    def counts(dag_scheduler, status_store):
        sc = SimpleNamespace(
            dagScheduler=dag_scheduler, statusStore=status_store,
            listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None),
        )
        spark = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc)))
        fn = lambda _spark, _sf: SimpleNamespace(write=writer)  # noqa: E731
        runs, err, layers = measure.timed_noop(spark, fn, "sf", 1)
        assert len(runs) == 1 and err is None
        return layers

    store = SimpleNamespace(lastStageAttempt=lambda sid: raising())
    assert counts(raising, lambda: store) is None  # id_snapshot unreadable
    assert counts(lambda: dag, raising) is None  # stage_counts unreadable
