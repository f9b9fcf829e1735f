"""Layer accounting from outside the package.

Everything here reads Spark's own bookkeeping; nothing is patched into
the package under test:

- ``id_snapshot`` reads the scheduler's next job and stage ids. Ids only
  grow, so the jobs and stages a span triggered are exactly those whose ids
  fall between its start and end snapshots.
- ``stage_counts`` reads the app status store for a window of stage ids
  (tasks, executor run time, shuffle and spill bytes).
- ``Tracer`` records spans (name, start, end, parent, workload, pass,
  query) in memory, attributes status-store counts to the innermost span
  whose id window holds them, and computes self time.
- ``ProgressListener`` collects ``StreamingQueryProgress`` per trigger.

Every reader returns ``None`` when Spark cannot answer, so a failed
snapshot drops that pass from a metric instead of corrupting it.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = ("tasks", "task_ms", "shuffle_read", "shuffle_write", "spill")
PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|FlatMapGroupsInArrow|FlatMapCoGroupsInArrow|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython"
    r"|FlatMapGroupsInPandasWithState|PythonUDTF|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b"
)


def id_snapshot(spark) -> tuple[int, int] | None:
    """(next job id, next stage id), or None if the scheduler is unreadable."""
    try:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())
    except Exception:
        return None


def stage_counts(spark, lo: int, hi: int) -> dict[int, dict[str, int]] | None:
    """Per-stage counts for completed stages with ``lo <= id < hi``.

    Returns None when the status store cannot be read, never a partial or
    sentinel value: a caller that subtracted a sentinel id would sum every
    stage of the session."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        out: dict[int, dict[str, int]] = {}
        for sid in range(lo, hi):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped or evicted stage: no attempt recorded
            if str(s.status()) != "COMPLETE":
                continue
            out[sid] = {
                "tasks": int(s.numCompleteTasks()),
                "task_ms": int(s.executorRunTime()),
                "shuffle_read": int(s.shuffleReadBytes()),
                "shuffle_write": int(s.shuffleWriteBytes()),
                "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            }
        return out
    except Exception:
        return None


def sql_plans_since(spark, min_exec_id: int) -> tuple[int, list[str]] | None:
    """(largest SQL execution id seen, physical plan texts of executions
    with id >= ``min_exec_id``), or None if the SQL status store is
    unreadable."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount())
        seq = store.executionsList(max(0, n - 2000), 2000)
        top, plans = min_exec_id - 1, []
        for i in range(seq.size()):
            e = seq.apply(i)
            eid = int(e.executionId())
            top = max(top, eid)
            if eid >= min_exec_id:
                plans.append(str(e.physicalPlanDescription()))
        return top, plans
    except Exception:
        return None


def python_nodes(plans: list[str]) -> int:
    """Python/Arrow exec nodes in physical plan texts. Only the tree part
    of each description is read (the detail section repeats node names)."""
    n = 0
    for p in plans:
        tree = p.split("\n\n(1)", 1)[0]
        n += len(PYTHON_NODE.findall(tree))
    return n


def catalyst_ms(df) -> dict[str, float] | None:
    """Analysis, optimization and planning ms from the frame's own
    ``QueryExecution.tracker()``. Planning is forced here if the frame's
    execution never ran it (a noop write plans a separate command)."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            o = phases.get(name)
            out[name] = float(o.get().durationMs()) if o.isDefined() else 0.0
        return out
    except Exception:
        return None


def jvm_peak_rss_mb(spark) -> float | None:
    """VmHWM of the driver JVM, in MB."""
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError, ValueError):
        pass
    return None


def wait_listener_bus(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.5)


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps each trigger's duration
    phases and input rows."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[tuple[dict[str, int], int]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append((dict(p.durationMs), int(p.numInputRows)))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    workload: str
    pass_no: int
    query: str | None
    start: float
    ids0: tuple[int, int] | None
    end: float = 0.0
    ids1: tuple[int, int] | None = None
    attrs: dict = field(default_factory=dict)  # extra measured values
    counts: dict | None = None  # status-store counts of this span alone
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "workload": self.workload, "pass": self.pass_no, "query": self.query,
            "start": round(self.start, 6), "end": round(self.end, 6),
            "dur_s": round(self.dur, 6), "self_s": round(self.self_s, 6),
            "job_ids": None if not (self.ids0 and self.ids1) else [self.ids0[0], self.ids1[0]],
            "stage_ids": None if not (self.ids0 and self.ids1) else [self.ids0[1], self.ids1[1]],
            "counts": self.counts, **self.attrs,
        }


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, query: str | None = None):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.pass_no = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        if query is None and self._stack:
            query = self._stack[-1].query
        sp = Span(next(self._ids), name, parent, self.workload, self.pass_no, query,
                  time.perf_counter(), id_snapshot(self.spark))
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.ids1 = id_snapshot(self.spark)
            self._stack.pop()
            self.spans.append(sp)

    def pass_spans(self, pass_no: int) -> list[Span]:
        return [s for s in self.spans if s.pass_no == pass_no]

    def attribute(self, pass_no: int) -> None:
        """Self time and self status-store counts for one pass's spans.

        A stage belongs to the innermost span whose stage-id window holds
        it. If the pass's snapshots or the store read failed, every span of
        the pass keeps ``counts=None``."""
        spans = self.pass_spans(pass_no)
        by_id = {s.id: s for s in spans}
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent in by_id:
                children.setdefault(s.parent, []).append(s)
        for s in spans:
            s.self_s = s.dur - covered(s, children.get(s.id, []))
        roots = [s for s in spans if s.parent not in by_id]
        if not roots or any(s.ids0 is None or s.ids1 is None for s in spans):
            return
        lo, hi = min(r.ids0[1] for r in roots), max(r.ids1[1] for r in roots)
        stages = stage_counts(self.spark, lo, hi)
        if stages is None:
            return
        for s in spans:
            s.counts = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for sid, c in stages.items():
            owner = min((s for s in spans if s.ids0[1] <= sid < s.ids1[1]),
                        key=lambda s: s.ids1[1] - s.ids0[1], default=None)
            if owner is not None:
                owner.counts["stages"] += 1
                for k in STAGE_FIELDS:
                    owner.counts[k] += c[k]
        for s in spans:  # jobs by id window, minus what children own
            own = s.ids1[0] - s.ids0[0]
            own -= sum(c.ids1[0] - c.ids0[0] for c in children.get(s.id, []))
            s.counts["jobs"] = own

    def total(self, span: Span, key: str) -> int | None:
        """A status-store count summed over ``span`` and its descendants."""
        if span.counts is None:
            return None
        kids = [s for s in self.spans if s.parent == span.id and s.pass_no == span.pass_no]
        sub = [self.total(k, key) for k in kids]
        if any(v is None for v in sub):
            return None
        return span.counts[key] + sum(sub)


def covered(span, kids) -> float:
    """Seconds of ``span`` covered by the union of its children's intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, span.start), min(k.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
