"""Mechanized driver-window bookkeeping.

The driver's per-round correctness gate checks the FIRST 50 registry
entries (``registry.DRIVER_PRIORITY``). A hand-maintained chore list
can undercount the never-driver-checked backlog, so this module is the
single source of truth for that computation: both ``tests/test_rotation.py``
(the CI gate) and the human-facing chore text come from the SAME functions,
so they cannot drift.

Usage::

    python -m pipeline_apache_beam_entrega1_cs_spark.plans.rotation

prints the pending (never-driver-checked) set, the staleness
histogram, and a composed 50-slot window proposal for the next round.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

WINDOW = 50

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def driver_checked(repo_root: str = _REPO_ROOT) -> dict[str, int]:
    """Map entry name -> latest round with a driver CORRECTNESS row."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def pending(repo_root: str = _REPO_ROOT) -> list[str]:
    """Registry entries with NO driver evidence, in registry order."""
    from .registry import all_queries

    checked = driver_checked(repo_root)
    return [n for n in all_queries() if n not in checked]


def staleness_histogram(repo_root: str = _REPO_ROOT) -> dict[int, int]:
    """Count of registry entries by latest-checked round (0 = never)."""
    from .registry import all_queries

    checked = driver_checked(repo_root)
    return dict(Counter(checked.get(n, 0) for n in all_queries()))


def compose_window(repo_root: str = _REPO_ROOT) -> list[str]:
    """Propose the next 50-slot window: every pending entry first (the
    rotation test makes this mandatory), then stalest-first back-fill
    in current DRIVER_PRIORITY order (which encodes the
    heaviest-first judgment within a staleness class)."""
    from .registry import DRIVER_PRIORITY, all_queries

    checked = driver_checked(repo_root)
    names = list(all_queries())
    never = [n for n in names if n not in checked]
    rank = {n: i for i, n in enumerate(DRIVER_PRIORITY)}
    stale = sorted(
        (n for n in names if n in checked),
        key=lambda n: (checked[n], rank.get(n, len(rank)), n),
    )
    return (never + stale)[:WINDOW]


def chore_text(repo_root: str = _REPO_ROOT) -> str:
    checked = driver_checked(repo_root)
    pend = pending(repo_root)
    hist = staleness_histogram(repo_root)
    lines = [
        f"Driver evidence: {len(checked)} entries checked; "
        f"{len(pend)} pending (never checked).",
        "Staleness histogram (round -> #entries, 0 = never): "
        + ", ".join(f"r{k:02d}:{v}" for k, v in sorted(hist.items())),
        "",
        f"PENDING ({len(pend)}) — must occupy the front of "
        "DRIVER_PRIORITY (tests/test_rotation.py):",
    ]
    lines += [f"  {n}" for n in pend]
    lines += ["", f"Proposed {WINDOW}-slot window:"]
    lines += [f"  {i + 1:2d}. {n}" for i, n in enumerate(compose_window(repo_root))]
    return "\n".join(lines)


if __name__ == "__main__":
    print(chore_text())
