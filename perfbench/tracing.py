"""Span tracing for the per-layer run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``Tracer.wrap``
replaces a public entry point at the name its caller looks up (for
example ``oteldb_spark.engine.compile_promql`` or
``StepResultCache.query_range``) with a wrapper that records a span
around the original.  Untraced runs never construct a ``Tracer``, so
they run the program unmodified.

Besides the wrapped calls, each operation gets

* Catalyst phase spans (analysis, optimization, planning) read from
  the ``QueryPlanningTracker`` of every query the operation executed,
  delivered by a ``QueryExecutionListener``;
* Spark execution counters (jobs, stages, tasks, executor run/CPU
  time, shuffle bytes, GC time) of the jobs it launched, read from the
  status store.

Spans stay in memory until the run ends.  A span's self time is its
duration minus the part of it covered by its children.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration_ms(self) -> float:
        return self.end_ms - self.start_ms


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start_ms, p.start_ms), min(s.end_ms, p.end_ms)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [
        s.duration_ms - _union_ms(children.get(i, [])) for i, s in enumerate(spans)
    ]


_PY_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython)\b"
)
_EXCHANGE = re.compile(r"\bExchange\b")


def _final_plan(text: str) -> str:
    """The executed part of an adaptive plan string (AQE prints the
    final and the initial plan; only the final one ran)."""
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1]
        text = text.split("== Initial Plan ==", 1)[0]
    return text


def plan_shape(logical: str, physical: str) -> dict[str, int]:
    phys = _final_plan(physical)
    return {
        "logical_nodes": sum(1 for ln in logical.splitlines() if ln.strip()),
        "exchanges": len(_EXCHANGE.findall(phys)),
        "python_nodes": len(_PY_NODES.findall(phys)),
    }


class _QueryListener:
    """``QueryExecutionListener`` (a py4j proxy) that copies the
    planning-phase times and plan shape of every executed query."""

    def __init__(self, sink: list):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        try:
            phases = qe.tracker().phases()
            times = {}
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    summary = opt.get()
                    times[ph] = (float(summary.startTimeMs()), float(summary.endTimeMs()))
            shape = plan_shape(
                qe.optimizedPlan().treeString(), qe.executedPlan().toString()
            )
            self._sink.append((str(func_name), times, shape))
        except Exception as exc:  # noqa: BLE001 — a listener must not throw into Spark
            self._sink.append(("error", {}, {"error": repr(exc)}))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class OpRecord:
    kind: str
    name: str
    root: int
    first_span: int
    last_span: int = 0
    client_ms: float = 0.0
    exec: dict = field(default_factory=dict)
    queries: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._events: list = []
        self._listener = None

    # -- spans -------------------------------------------------------------

    @staticmethod
    def now_ms() -> float:
        return time.time() * 1000.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span while an operation is open; a no-op otherwise
        (checks and set-up are not traced)."""
        if self._op is None:
            yield None
            return
        s = Span(
            name,
            self.now_ms(),
            parent=self._stack[-1] if self._stack else None,
            op=self._op,
            attrs=dict(attrs),
        )
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end_ms = self.now_ms()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_result(span, args, kwargs, result)`` may add attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_spark_actions(self) -> None:
        """Span every DataFrame action and writer call.  Wrapped on the
        concrete classes the session hands out (PySpark 4 serves a
        ``classic`` subclass that overrides the base-class actions)."""
        probe = self.spark.range(1)
        for meth in ("collect", "count", "toPandas", "isEmpty"):
            self.wrap(type(probe), meth, f"spark.action:{meth}")
        for meth in ("parquet", "saveAsTable", "save"):
            self.wrap(type(probe.write), meth, f"spark.action:write.{meth}")

    def install_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self._listener = _QueryListener(self._events)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # -- operations --------------------------------------------------------

    def _status(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _drain_bus(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self._status().jobsList(None)
        return -1 if jobs.isEmpty() else int(jobs.head().jobId())

    @contextmanager
    def op(self, kind: str, name: str):
        """One client operation: the root span, plus the Spark counters
        and Catalyst phases of everything it ran."""
        self._drain_bus()
        first_job = self._max_job_id() + 1
        del self._events[:]
        self.spark.sparkContext.setJobGroup(f"perfbench-{len(self.ops)}", f"{kind}:{name}")
        self._op = len(self.ops)
        rec = OpRecord(kind, name, root=len(self.spans), first_span=len(self.spans))
        self.ops.append(rec)
        try:
            with self.span(f"op.{kind}"):
                yield rec
        finally:
            self._op = None
            rec.last_span = len(self.spans)
            self._drain_bus()
            self._attach_queries(rec)
            rec.exec = self._job_counters(first_job)

    def _attach_queries(self, rec: OpRecord) -> None:
        """Catalyst phase spans, parented to the deepest span of the op
        that contains the phase (clipped to it)."""
        op_spans = range(rec.first_span, rec.last_span)
        for func, phases, shape in list(self._events):
            rec.queries.append((func, {k: hi - lo for k, (lo, hi) in phases.items()}, shape))
            for phase, (lo, hi) in phases.items():
                parent = None
                for i in op_spans:
                    s = self.spans[i]
                    if s.start_ms - 1 <= lo and hi <= s.end_ms + 1:
                        parent = i  # later spans are deeper or later siblings
                if parent is None:
                    continue
                p = self.spans[parent]
                self.spans.append(
                    Span(
                        f"catalyst.{phase}",
                        max(lo, p.start_ms),
                        min(hi, p.end_ms),
                        parent=parent,
                        op=p.op,
                    )
                )
        rec.last_span = len(self.spans)
        del self._events[:]

    def _job_counters(self, first_job: int) -> dict:
        status = self._status()
        last_job = self._max_job_id()
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0,
            "shuffle_bytes": 0,
            "gc_ms": 0.0,
            "job_times": [],
        }
        seen: set[int] = set()
        for jid in range(first_job, last_job + 1):
            try:
                job = status.job(jid)
            except Exception:  # noqa: BLE001 — job evicted from the store
                continue
            out["jobs"] += 1
            sub = job.submissionTime()
            if sub.isDefined():
                out["job_times"].append(float(sub.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = status.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage, never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numCompleteTasks())
                out["executor_run_ms"] += float(sd.executorRunTime())
                out["executor_cpu_ms"] += float(sd.executorCpuTime()) / 1e6
                out["shuffle_bytes"] += int(sd.shuffleWriteBytes())
                out["gc_ms"] += float(sd.jvmGcTime())
        return out

    # -- reading -----------------------------------------------------------

    def jobs_within(self, rec: OpRecord, span: Span) -> int:
        return sum(
            1 for t in rec.exec.get("job_times", []) if span.start_ms - 1 <= t <= span.end_ms + 1
        )
