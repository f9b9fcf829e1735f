#!/usr/bin/env python
"""Plan capture, scale-smell detection and the physical-plan audit.

The one owner of plan capture: :func:`physical_plan` is the returned
frame's ``explain("formatted")``, and :func:`entry_plans` adds the plan
of every SQL execution a registry entry runs while it builds that frame
(pins, caches, eager fits, layout writes). The registry plan gates in
``tests/test_scale_idioms.py`` and the audit below read :func:`smells`
and :func:`operator_counts` over those plans; the audit also counts
their Python/Arrow nodes with ``perfbench.layers.python_nodes``.
Regenerate EXPLAIN.md with:

    python explain_audit.py > EXPLAIN.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
from collections import Counter

from perfbench.layers import python_nodes

# Entries whose build runs side effects (stream replays, sink writes);
# the registry plan gates do not build them.
SIDE_EFFECT_PREFIXES = ("streaming_", "sink_")

JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    # nested-loop strategies are usually scale smells — count them so a
    # cartesian can't hide from the audit
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

# Operators whose presence anywhere in a plan is a smell, keyed by the
# QuerySpec.plan_waivers key that can sanction it ("cartesian": none can).
_SMELL_OPERATORS = {"cartesian": "CartesianProduct", "bnlj": "BroadcastNestedLoopJoin"}

# Nodes a SinglePartition exchange's rows flow through unchanged in
# cardinality on their way to a consumer: if only these separate the
# exchange from a Window, every input row is sorted in ONE task — the
# global-window shape the gate exists to catch. Anything else (an
# aggregate, a join, another Exchange) re-shapes the data first.
_PASS_THROUGH_NODES = frozenset({
    "Sort", "Project", "Filter", "ColumnarToRow", "InputAdapter",
    "WholeStageCodegen", "AQEShuffleRead", "ShuffleQueryStage",
    "ReusedExchange", "Coalesce",
})

# A tree line: branch glyphs (whose width is the depth), an optional
# whole-stage-codegen "* ", the operator name, then its id as the first
# parenthesised number. Detail lines ("(3) Filter", "Output [2]: ...")
# never match: they start with "(" or carry a ":" before any "(".
_NODE = re.compile(r"^([ :+|-]*)(?:\* )?([A-Za-z]\w*)[^(:\n]*\((\d+)\)")
_INITIAL_PLAN = re.compile(r"^([ :+|-]*)== Initial Plan ==")


def physical_plan(df) -> str:
    """The frame's ``explain("formatted")`` text."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _sql_store(spark):
    """The SQL status store, once the listener bus has delivered every
    event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _newest_execution(store) -> int:
    # the store's view is sorted by execution id and evicts the oldest
    # first, so its last element is the newest execution
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def entry_plans(spark, fn, sf_dir: str) -> tuple[object, str, list[str]]:
    """Build ``fn(spark, sf_dir)`` and return (the frame, its formatted
    plan, the ``physicalPlanDescription`` of every SQL execution that
    started while ``fn`` ran).

    Execution ids increase monotonically, so the build's executions are
    exactly the ids above the newest one before the build, whatever the
    store evicted past ``spark.sql.ui.retainedExecutions``. Raises when
    the store cannot be read or no longer holds one of them: an
    unreadable store must fail a plan gate, never pass it as "no
    executions"."""
    first = _newest_execution(_sql_store(spark)) + 1
    df = fn(spark, sf_dir)
    store = _sql_store(spark)
    builds = []
    for i in range(first, _newest_execution(store) + 1):
        execution = store.execution(i)
        if execution.isEmpty():
            raise RuntimeError(f"SQL execution {i} is not in the status store")
        builds.append(execution.get().physicalPlanDescription())
    return df, physical_plan(df), builds


def _plan_tree_nodes(plan: str) -> list[tuple[int, str, int]]:
    """Parse the formatted plan's tree sections into (indent_depth,
    node_name, node_id) in render order — parents render above their
    children at smaller indentation. An executed adaptive plan prints
    its "== Initial Plan ==" below its final plan; that subtree never
    ran as printed and is skipped."""
    nodes: list[tuple[int, str, int]] = []
    skip_from = None
    for line in plan.splitlines():
        if m := _INITIAL_PLAN.match(line):
            skip_from = len(m.group(1))
        elif m := _NODE.match(line):
            depth = len(m.group(1))
            if skip_from is not None and depth >= skip_from:
                continue
            skip_from = None
            nodes.append((depth, m.group(2), int(m.group(3))))
    return nodes


def _walk(plan: str):
    """Yield (node_name, node_id, ancestor names nearest first) for each
    tree node; ancestors are the nearest preceding nodes at strictly
    smaller depth."""
    stack: list[tuple[int, str]] = []
    for depth, name, nid in _plan_tree_nodes(plan):
        while stack and stack[-1][0] >= depth:
            stack.pop()
        yield name, nid, [a for _, a in reversed(stack)]
        stack.append((depth, name))


def operator_counts(plan: str) -> tuple[Counter, Counter]:
    """(operators of the plan, operators under an InMemoryRelation), each
    as {name: number of distinct operator ids}. A subtree printed again
    at every reference counts once; cached operators ran when the
    relation was materialized, not in this plan's execution."""
    ids: dict[bool, dict[str, set[int]]] = {False: {}, True: {}}
    for name, nid, ancestors in _walk(plan):
        ids["InMemoryRelation" in ancestors].setdefault(name, set()).add(nid)
    live, cached = (Counter({k: len(v) for k, v in ids[c].items()}) for c in (False, True))
    return live, cached


def has_single_partition_window(plan: str) -> bool:
    """True iff a Window/WindowGroupLimit consumes an Exchange
    SinglePartition through pass-through nodes only — walking the tree
    section's ancestor chain, not the detail numbering (consecutive
    detail ids do not guarantee a consumer relationship: ADVICE r05)."""
    single = set()
    for m in re.finditer(r"^\((\d+)\) Exchange\b", plan, re.M):
        am = re.search(r"^Arguments: (.*)$", plan[m.end(): m.end() + 500], re.M)
        if am and am.group(1).startswith("SinglePartition"):
            single.add(int(m.group(1)))
    if not single:
        return False
    for name, nid, ancestors in _walk(plan):
        if name != "Exchange" or nid not in single:
            continue
        for a in ancestors:
            if a in ("Window", "WindowGroupLimit"):
                return True
            if a not in _PASS_THROUGH_NODES:
                break  # cardinality re-shaped before any Window
    return False


def smells(plan: str) -> set[str]:
    """The scale smells of one formatted plan, each named by the
    plan_waivers key that sanctions it: "cartesian", "bnlj",
    "global_window"."""
    found = {k for k, op in _SMELL_OPERATORS.items() if op in plan}
    if has_single_partition_window(plan):
        found.add("global_window")
    return found


def _joins(counts: Counter) -> dict[str, int]:
    return {k: counts[k] for k in JOINS if counts[k]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    spark = get_spark("explain-audit")
    registry = all_queries()

    print("# EXPLAIN audit — physical-plan properties of every registry entry")
    print()
    print(f"Generated by `python explain_audit.py` at `{sf_dir}`. For each")
    print("query: join strategies chosen, exchange (shuffle) count, filters")
    print("pushed into the parquet scan, columns actually read, the SQL")
    print("executions the entry ran while building its frame (pins, caches,")
    print("eager fits, layout writes) and — for entries carrying")
    print("plan_waivers — the waiver text (the sanctioned BNLJ / global-window")
    print("uses the plan gates police in the returned plan and the build")
    print("executions alike). Operators are counted once per operator id, so a")
    print("subtree printed again at each reference counts once; exchanges")
    print("under an InMemoryRelation are counted apart as cached (they ran")
    print("when the relation was materialized); an executed adaptive plan")
    print("counts its final plan only.")
    print("Python nodes are the Python/Arrow exec operators")
    print("(`perfbench.layers.python_nodes`) of the final plan and the build")
    print("executions together.")
    print()
    print(f"Entries: {len(registry)} (full registry).")
    print()
    for name, spec in registry.items():
        _, plan, builds = entry_plans(spark, spec.fn, sf_dir)
        live, cached = operator_counts(plan)
        pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        print(f"## {name}")
        print(f"- joins: {_joins(live) or 'none'}")
        extra = f" (+{cached['Exchange']} cached)" if cached["Exchange"] else ""
        print(f"- shuffles (Exchange): {live['Exchange']}{extra}")
        if builds:
            built = sum((operator_counts(p)[0] for p in builds), Counter())
            print(f"- build executions: {len(builds)} (joins: "
                  f"{_joins(built) or 'none'}; shuffles: {built['Exchange']})")
        if pushed:
            print(f"- pushed filters: {len(pushed)} scan(s), e.g. `{pushed[0][:120]}`")
        else:
            print("- pushed filters: none (no scan-level predicates in this plan)")
        if schemas:
            cols = schemas[0].split(",")
            print(f"- first scan reads {len(cols)} column(s): `{schemas[0][:120]}`")
        print(f"- python nodes: {python_nodes([plan, *builds])}")
        for wk, wv in (spec.plan_waivers or {}).items():
            print(f"- waiver `{wk}`: {wv}")
        print()


if __name__ == "__main__":
    main()
