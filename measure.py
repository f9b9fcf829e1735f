"""The measurement core of the root timing harnesses.

``bench.py``, ``registry_sweep.py``, ``growth_sweep.py`` and
``streaming_amortization.py`` keep only their policy and artifact
layout; this module is the one owner of:

- hypervisor steal (``/proc/stat`` ticks converted with ``SC_CLK_TCK``)
  and the load-average window every artifact records (:class:`Window`);
- one timed noop-sink run, min-of-N with a ``try`` per run, and the
  fastest run's Spark counts (:func:`timed_noop`). The counts come from
  the benchmark's own id-window readers in ``perfbench/layers.py``: the
  jobs and stages a run created are exactly the ids between its start
  and end snapshots, so a read costs O(window), not O(retained stages);
- the resumable ``.jsonl`` entry loop of the sweeps (:func:`resume`).
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Any, Callable, Collection

from perfbench.layers import STAGE_FIELDS, id_snapshot, stage_counts, wait_listener_bus

# Runs per entry and SF side of the registry and growth sweeps (every
# committed SWEEP/GROWTH artifact used 2).
SWEEP_RUNS = 2
PROC_STAT = "/proc/stat"


def sf_of(sf_dir: str) -> str:
    """The scale-factor label of a fixture dir: ``.../sf0.1`` -> ``0.1``."""
    return sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def warm_dir(sf_dir: str) -> str:
    """Where to warm up JIT and codegen: the ``sf0.001`` sibling of
    ``sf_dir`` when the fixture set has one, else ``sf_dir`` itself."""
    warm = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    return warm if os.path.isdir(warm) else sf_dir


def load_avg() -> list[float]:
    """Host 1/5/15-min load averages, rounded for the artifacts."""
    return [round(x, 2) for x in os.getloadavg()]


def read_steal_ticks() -> int | None:
    """Cumulative hypervisor-steal ticks (field 9 of the ``cpu`` line),
    or None when the file cannot be read or parsed."""
    try:
        with open(PROC_STAT) as f:
            parts = f.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


class Window:
    """A host-noise window opened at construction: the 1-min load
    average then, and the steal seconds accrued since."""

    def __init__(self) -> None:
        self.load_avg_start = load_avg()[0]
        self._ticks = read_steal_ticks()

    def steal_s(self) -> float | None:
        """Steal seconds since construction; None (never 0) when either
        end is unreadable."""
        now = read_steal_ticks()
        if now is None or self._ticks is None:
            return None
        return round((now - self._ticks) / os.sysconf("SC_CLK_TCK"), 2)

    def fields(self) -> dict:
        """The sweep artifacts' window fields, closed now."""
        return {"load_avg_start": self.load_avg_start, "load_avg_end": load_avg()[0],
                "steal_delta_s": self.steal_s()}


def timed_noop(
    spark, fn: Callable, sf_dir: str, n_runs: int
) -> tuple[list[float], str | None, dict | None]:
    """Time ``fn(spark, sf_dir)`` plus a noop-sink write (full
    materialization on the executors, nothing collected) ``n_runs``
    times, each run in its own ``try`` so one transient failure keeps
    the other runs' walls.

    Returns (walls of the runs that succeeded, the last error or None,
    the fastest run's counts or None). The counts are its jobs, its
    completed stages and their summed ``STAGE_FIELDS`` (tasks, task ms,
    shuffle read/write, spill); every read happens outside the timed
    region. They are None, never a session-wide sum, when a snapshot or
    the status store cannot be read."""
    measured: list[tuple[float, tuple | None, tuple | None]] = []
    err = None
    for _ in range(n_runs):
        before = id_snapshot(spark)
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # record, keep measuring
            err = f"{type(ex).__name__}: {ex}"[:300]
            continue
        wall = round(time.perf_counter() - t0, 3)
        measured.append((wall, before, id_snapshot(spark)))
    walls = [w for w, _, _ in measured]
    _, lo, hi = min(measured, key=lambda m: m[0], default=(None, None, None))
    if lo is None or hi is None:
        return walls, err, None
    wait_listener_bus(spark)
    stages = stage_counts(spark, lo[1], hi[1])
    if stages is None:
        return walls, err, None
    counts = {"jobs": hi[0] - lo[0], "stages": len(stages)}
    counts.update({k: sum(c[k] for c in stages.values()) for k in STAGE_FIELDS})
    return walls, err, counts


def run_min(runs: list[float]) -> float:
    """The min-of-N estimator; -1.0 when no run succeeded."""
    return min(runs) if runs else -1.0


def error_fields(err: str | None, measured: bool) -> dict:
    """``error`` only when the entry has no valid measurement; a failure
    next to a valid min is a ``transient_error``, so one flaky run
    cannot fail the sweeps' no-errors gates for good."""
    if not err:
        return {}
    return {"transient_error" if measured else "error": err}


def carried(out_path: str, key: str) -> Any:
    """``key`` of the JSON artifact already at ``out_path`` ({} when the
    file, the key or its value is absent or unreadable). The sweeps carry
    hand-added waiver adjudications through a rerun or resume with it
    instead of resetting them to {} and re-arming the gate; ``bench.py``
    reads its calibration and stored quiet subtotal with it."""
    try:
        with open(out_path) as f:
            return json.load(f).get(key) or {}
    except (OSError, ValueError, AttributeError):
        return {}


def resume(
    out_path: str, names: Collection[str], measure: Callable[[str], tuple[dict, str]]
) -> tuple[dict[str, dict], list[str]]:
    """The resumable entry loop: each finished entry appends one line
    to ``<out_path>.jsonl``, and a restarted loop skips the names
    already there, so a killed sweep loses at most one entry's work
    (delete an entry's line to re-measure it).

    ``measure(name)`` returns (record, progress note). Returns (every
    record by name, the names measured in this process)."""
    jsonl_path = out_path + ".jsonl"
    entries: dict[str, dict] = {}
    if os.path.exists(jsonl_path):
        with open(jsonl_path) as f:
            for line in f:
                rec = json.loads(line)
                entries[rec.pop("name")] = rec
        print(f"resuming: {len(entries)} entries already measured", file=sys.stderr)
    fresh: list[str] = []
    for i, name in enumerate(names, 1):
        if name in entries:
            continue
        rec, note = measure(name)
        entries[name] = rec
        fresh.append(name)
        with open(jsonl_path, "a") as f:
            f.write(json.dumps({"name": name, **rec}) + "\n")
        print(f"[{i}/{len(names)}] {name}: {note}", file=sys.stderr, flush=True)
    return entries, fresh


def write_json(path: str, payload: dict) -> None:
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
