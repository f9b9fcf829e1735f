#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry queries into
plans/r15/<query>_<suffix>.txt — the before/after plan evidence for
OPTIMIZATION_r15.md — followed by the plan of every SQL execution the
entry ran while building its frame (pins, caches, eager fits).

Usage: python plans/r15/dump_plans.py <before|after> name [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from explain_audit import entry_plans
    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    spark = get_spark("plan-dump")
    registry = all_queries()
    out_dir = os.path.dirname(os.path.abspath(__file__))
    for name in names:
        _, plan, builds = entry_plans(spark, registry[name].fn, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
            for i, build in enumerate(builds, 1):
                f.write(f"\n== Build execution {i} of {len(builds)} ==\n{build}")
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
