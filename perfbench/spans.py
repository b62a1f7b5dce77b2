"""Spans around the system's public entry points, plus Spark's own
status stores, for the traced (per-layer) run.

Nothing here changes the system: wrappers are installed from outside,
on the defining module AND on every module that imported the name at
load time (a ``from x import f`` binding is a second reference that a
patch of ``x.f`` alone would miss). Spans live in memory and are
written out once, when the run ends.

Spark work is attributed after each operation, from the in-process
status stores (they work with ``spark.ui.enabled=false``): every job of
the operation's job group, its stages' task metrics, and the node names
of each SQL execution's final (post-AQE) plan graph. A layer's jobs are
the jobs submitted while one of its spans was open.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layer -> (module, public functions to wrap; None = every public
# function defined in that module).
WRAPPED = {
    "sources.catalog": ("wnv_etl_lab2_spark.sources.catalog", ("load_table", "spread_scan")),
    "operators.dedup": ("wnv_etl_lab2_spark.operators.dedup", None),
    "operators.similarity": ("wnv_etl_lab2_spark.operators.similarity", None),
    "operators.spatial": ("wnv_etl_lab2_spark.operators.spatial", None),
    "operators.geometry": ("wnv_etl_lab2_spark.operators.geometry", None),
    "operators.tokenizer": ("wnv_etl_lab2_spark.operators.tokenizer", None),
    "sources.versioned": (
        "wnv_etl_lab2_spark.sources.versioned",
        (
            "create_table", "append_table", "delete_from_table", "update_table",
            "merge_upsert_table", "read_table", "optimize_table", "vacuum_table",
        ),
    ),
}

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    self_s: float = 0.0


@dataclass
class OpStats:
    """Spark-side counts for one operation."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    action_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    exchanges: int = 0
    reused_exchanges: int = 0
    python_nodes: int = 0
    submitted: list = field(default_factory=list)  # job submission times


class Tracer:
    """Records spans while ``enabled``; installed once per process."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.jobs: list[tuple[int, float]] = []  # (op, submission time)
        self.enabled = False
        self._stack: list[int] = []
        self._op = -1
        self._last_exec = -1

    # -- wrappers ---------------------------------------------------------
    def install(self) -> int:
        """Wrap every entry point in ``WRAPPED``; returns how many
        module bindings were replaced."""
        import importlib

        patched = 0
        for layer, (modname, names) in WRAPPED.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if inspect.isfunction(f) and f.__module__ == modname
                    and not n.startswith("_")
                ]
            for n in names:
                orig = getattr(mod, n)
                wrapper = self._wrap(f"{layer}.{n}", orig)
                for m in list(sys.modules.values()):
                    if m is None or not getattr(m, "__name__", "").startswith("wnv_etl_lab2_spark"):
                        continue
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapper)
                            patched += 1
        return patched

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, op=self._op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    # -- operations -------------------------------------------------------
    @contextmanager
    def op(self, name: str, pass_idx: int):
        """Root span of one operation, run under its own job group."""
        if not self.enabled:
            yield
            return
        self._op += 1
        group = f"perfbench-op-{self._op}"
        self._skip_executions()
        self.sc.setJobGroup(group, name)
        try:
            with self.span(f"op.{name}"):
                yield
        finally:
            self.sc.setJobGroup(f"perfbench-idle-{self._op}", "")
            stats = self._collect(group)
            self.jobs += [(self._op, t) for t in stats.submitted]
            rec = {"op": self._op, "name": name, "pass": pass_idx, **vars(stats)}
            rec.pop("submitted")
            self.ops.append(rec)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _skip_executions(self) -> None:
        """Mark every SQL execution so far as seen. SQL execution ids are
        sequential, and after the listener bus drains all are recorded;
        a run stays below the store's 1000 retained executions."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        sql = self._sql_store()
        while sql.execution(self._last_exec + 1).isDefined():
            self._last_exec += 1

    def _collect(self, group: str) -> OpStats:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        st = OpStats()
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sub = jd.submissionTime()
            t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            end = jd.completionTime()
            t1 = end.get().getTime() / 1000.0 if end.isDefined() else t0
            intervals.append((t0, t1))
            st.submitted.append(t0)
            st.jobs += 1
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += sd.numTasks()
                st.executor_run_s += sd.executorRunTime() / 1e3
                st.executor_cpu_s += sd.executorCpuTime() / 1e9
                st.gc_s += sd.jvmGcTime() / 1e3
                st.shuffle_write_bytes += sd.shuffleWriteBytes()
                st.shuffle_read_bytes += sd.shuffleReadBytes()
                st.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                st.input_bytes += sd.inputBytes()
        st.action_s = _union_length(intervals)
        sql = self._sql_store()
        eid = self._last_exec + 1
        while sql.execution(eid).isDefined():
            it = sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                nm = it.next().name()
                if nm == "ReusedExchange":
                    st.reused_exchanges += 1
                elif nm.endswith("Exchange"):
                    st.exchanges += 1
                elif any(m in nm for m in PYTHON_NODE_MARKERS):
                    st.python_nodes += 1
            eid += 1
        self._last_exec = eid - 1
        return st

    def finish(self) -> None:
        """Compute each span's self time (duration minus children)."""
        for s in self.spans:
            s.self_s = s.end - s.start
        for s in self.spans:
            if s.parent is not None:
                self.spans[s.parent].self_s -= s.end - s.start


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_time(tracer: Tracer, prefix: str, ops: set[int]) -> tuple[float, int]:
    """Wall time inside spans named ``prefix*`` for the given ops, and
    the jobs submitted during them. Only outermost such spans count, so
    nested calls within one layer are not counted twice."""
    spans = tracer.spans
    outer = []
    for s in spans:
        if s.op not in ops or not s.name.startswith(prefix):
            continue
        p = s.parent
        while p is not None and not spans[p].name.startswith(prefix):
            p = spans[p].parent
        if p is None:
            outer.append(s)
    # status-store times are whole milliseconds
    jobs = sum(
        1 for op, t in tracer.jobs if op in ops
        and any(s.op == op and s.start - 1e-3 <= t <= s.end + 1e-3 for s in outer)
    )
    return sum(s.end - s.start for s in outer), jobs


def calls(spans: list[Span], prefix: str, ops: set[int]) -> int:
    return sum(1 for s in spans if s.op in ops and s.name.startswith(prefix))
