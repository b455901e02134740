"""Spans, counters and Spark status-store readings for the traced run.

A :class:`Tracer` records one span per call the benchmark makes into a
repo layer (name, start, end, parent, run id) and keeps them in memory
until the run ends. Untraced runs use a disabled tracer whose ``span`` is
a no-op, so the end-to-end numbers carry no tracing cost.

Span names are ``<layer>/<operation>``; a layer's self time is the sum
over its spans of each span's duration minus the part of it that child
spans cover (:func:`self_time`).

Each enabled span tags the Spark jobs it starts with its own job group,
so execution metrics read from the status store afterwards
(:meth:`Tracer.spark_metrics`) are attributed to exactly one span.
"""

from __future__ import annotations

import contextlib
import json
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

PYTHON_NODE_RE = re.compile(
    r"\b(\w*PythonUDTF|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)\b"
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    py4j_calls: int = 0
    spark: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split("/", 1)[0]


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals,
    each clipped to the span (children may overlap one another)."""
    covered = 0.0
    cursor = span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cursor), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (span.end - span.start) - covered


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    children: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += self_time(s, children[s.id])
    return dict(out)


class Py4jCounter:
    """Counts py4j commands sent from the driver's main thread, excluding
    the ``m`` (memory/garbage-collection) commands the finalizer thread
    sends on its own schedule — what remains repeats exactly run to run."""

    def __init__(self, gateway_client):
        self._client = gateway_client
        self._orig = gateway_client.send_command
        self._main = threading.main_thread()
        self.count = 0
        self.paused = False

        def send_command(command, *args, **kwargs):
            if (
                not self.paused
                and threading.current_thread() is self._main
                and not command.startswith("m\n")
            ):
                self.count += 1
            return self._orig(command, *args, **kwargs)

        gateway_client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._sc = None
        self._py4j: Py4jCounter | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- set-up / tear-down -------------------------------------------------

    def attach(self, spark) -> None:
        """Bind to a live session: job groups and the py4j counter."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._py4j = Py4jCounter(self._sc._gateway._gateway_client)

    def close(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()
        if self._py4j is not None:
            self._py4j.close()
            self._py4j = None

    def wrap(self, func, span_name: str, on_call=None):
        """Replace ``func`` by a span-recording wrapper in every loaded
        repo module that binds it (callers import it by name)."""
        if not self.enabled:
            return

        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            with self.span(span_name):
                return func(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("stadvdb_olap_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    # -- recording ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        span = Span(sid, name, 0.0, 0.0, self._stack[-1] if self._stack else None,
                    self.run_id)
        self.spans.append(span)
        self._stack.append(sid)
        prev_group = None
        if self._py4j is not None:
            self._py4j.paused = True
        if self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(self._group(sid), name)
        calls0 = self._py4j.count if self._py4j is not None else 0
        if self._py4j is not None:
            self._py4j.paused = False
        self.overhead_s += time.perf_counter() - b0
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            b1 = time.perf_counter()
            if self._py4j is not None:
                self._py4j.paused = True
                span.py4j_calls = self._py4j.count - calls0
            if self._sc is not None:
                if prev_group is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(prev_group, "")
            if self._py4j is not None:
                self._py4j.paused = False
            self._stack.pop()
            self.overhead_s += time.perf_counter() - b1

    def _group(self, sid: int) -> str:
        return f"{self.run_id}.{sid}"

    def add(self, key: str, value: float) -> None:
        """Count ``value`` under ``key`` on the innermost open span, or on
        the tracer when no span is open."""
        if not self.enabled:
            return
        if self._stack:
            counts = self.spans[self._stack[-1]].counts
            counts[key] = counts.get(key, 0) + value
        else:
            self.counters[key] += value

    # -- reading Spark --------------------------------------------------------

    def catalyst(self, df) -> None:
        """Force ``df``'s executed plan; count its Catalyst phase times and
        its Python-operator nodes on the open span. The planning is
        real work, timed by the caller's span, so it is not overhead."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.add(f"spark.catalyst.{phase}_ms", phases.apply(phase).durationMs())
        self.add("spark.python_nodes", len(PYTHON_NODE_RE.findall(plan)))

    def spark_metrics(self) -> None:
        """Attribute every job of every span's group to that span."""
        if self._sc is None:
            return
        b0 = time.perf_counter()
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for span in self.spans:
            m: dict[str, float] = defaultdict(float)
            for job_id in tracker.getJobIdsForGroup(self._group(span.id)):
                job = store.job(job_id)
                m["jobs"] += 1
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        st = store.lastStageAttempt(stage_ids.apply(i))
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["tasks"] += st.numCompleteTasks()
                    m["executor_run_s"] += st.executorRunTime() / 1e3
                    m["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    m["gc_s"] += st.jvmGcTime() / 1e3
                    m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    m["shuffle_read_bytes"] += st.shuffleReadBytes()
                    m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    m["input_bytes"] += st.inputBytes()
                    m["output_bytes"] += st.outputBytes()
            span.spark = dict(m)
        self.overhead_s += time.perf_counter() - b0

    # -- results ------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
