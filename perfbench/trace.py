"""Span recorder with Spark counters scoped to each span.

Spans are recorded by the benchmark around its calls into the
package's layers; nothing inside the package is instrumented. Each
span has a name, start, end, parent and request id, and is kept in
memory until the run ends.

Spark's own counters are scoped to spans with a job group: entering a
span sets ``spark.jobGroup.id`` on the calling thread to the span's id
and leaving it restores the parent's. Jobs that a layer submits from
its own helper threads carry no group (a thread pool does not inherit
the caller's local properties); those are attributed by submission
time to the innermost span that was open. After each request the
recorder drains Spark's listener bus and reads, for every new job:

- ``AppStatusStore.jobsList`` → group, submission time, stage ids;
- ``AppStatusStore.lastStageAttempt`` → tasks, failed tasks, executor
  run time, input / output / shuffle-write / disk-spill bytes (each
  stage is counted once, for the first job that lists it, so skipped
  stages of later jobs add nothing);
- the SQL status store → bytes sent to and returned from Python
  workers by the Arrow-batched operators of each SQL execution.

A span's self time is its duration minus the part of it covered by its
child spans.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

LAYERS = (
    "session",
    "streaming.ingest",
    "sources.index_table",
    "operators.pq",
    "operators.search",
    "sources.lexical_index",
    "operators.hybrid",
    "operators.rag",
    "operators.dedup",
)
COUNTERS = (
    "jobs",
    "tasks",
    "task_failures",
    "executor_run_s",
    "input_bytes",
    "output_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "python_bytes",
)
GROUP_PREFIX = "perfbench-"
_PYTHON_METRICS = (
    "data sent to Python workers",
    "data returned from Python workers",
)
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float | None = None
    tags: dict = field(default_factory=dict)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def duration(self) -> float:
        return (self.end or time.time()) - self.start


def _size_value(text: str) -> float:
    """Total of a formatted SQL size metric: the first value on the
    line after the ``total (min, med, max ...)`` header."""
    lines = text.strip().splitlines()
    m = re.match(r"([\d.]+)\s*([KMGT]?i?B)", lines[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1)


class Tracer:
    """Records spans when ``enabled``; every method is a no-op otherwise,
    so the untraced path runs the same code with no recording."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: str | None = None
        self._sc = None
        self._sql_store = None
        self._max_job = -1
        self._seen_stages: set[int] = set()
        self._exec_offset = 0
        self._job_span: dict[int, int] = {}

    def bind(self, spark) -> None:
        """Attach the Spark session (once it exists) and scope the open
        span, if any, to its job group."""
        self._sc = spark.sparkContext
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._set_group()

    def _set_group(self) -> None:
        if self._sc is None:
            return
        group = f"{GROUP_PREFIX}{self._stack[-1].id}" if self._stack else None
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def request(self, request_id: str):
        """Group the spans of one workload operation; Spark counters are
        read after it ends, outside every span."""
        if not self.enabled:
            yield
            return
        self._request = request_id
        try:
            yield
        finally:
            self._request = None
            self.harvest()

    @contextmanager
    def span(self, name: str, **tags):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            request=self._request,
            start=time.time(),
            tags=tags,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group()

    # -- Spark counters ---------------------------------------------------
    def _span_at(self, t: float) -> Span | None:
        """Innermost closed span whose interval holds time ``t``."""
        best = None
        for s in self.spans:
            if s.end is not None and s.start <= t <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        return best

    def harvest(self) -> None:
        """Attribute every job finished since the last harvest to a span
        and add its stages' counters to that span."""
        if not self.enabled or self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._max_job:
                break
            new.append(j)
        for j in reversed(new):
            jid = int(j.jobId())
            self._max_job = max(self._max_job, jid)
            span = None
            group = j.jobGroup()
            if group.isDefined() and str(group.get()).startswith(GROUP_PREFIX):
                sid = int(str(group.get())[len(GROUP_PREFIX):])
                if sid < len(self.spans):
                    span = self.spans[sid]
            if span is None and j.submissionTime().isDefined():
                span = self._span_at(j.submissionTime().get().getTime() / 1000.0)
            if span is None:
                continue
            self._job_span[jid] = span.id
            c = span.counters
            c["jobs"] += 1
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                stage_id = int(stage_ids.apply(k))
                if stage_id in self._seen_stages:
                    continue
                self._seen_stages.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage never submitted
                    continue
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["task_failures"] += st.numFailedTasks()
                c["executor_run_s"] += st.executorRunTime() / 1000.0
                c["input_bytes"] += st.inputBytes()
                c["output_bytes"] += st.outputBytes()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
        self._harvest_python_bytes()

    def _harvest_python_bytes(self) -> None:
        store = self._sql_store
        total = int(store.executionsCount())
        if total <= self._exec_offset:
            return
        execs = store.executionsList(self._exec_offset, total - self._exec_offset)
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = [int(x) for x in re.findall(r"(\d+) ->", e.jobs().toString())]
            owners = [self._job_span[j] for j in job_ids if j in self._job_span]
            if not owners:
                continue
            span = self.spans[min(owners)]
            values = self._sql_store.executionMetrics(e.executionId())
            seen = set()
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() not in _PYTHON_METRICS or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    span.counters["python_bytes"] += _size_value(str(v.get()))
        self._exec_offset = total

    # -- reports ----------------------------------------------------------
    def self_time(self, s: Span) -> float:
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.id and c.end
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.duration - covered

    def layer_totals(self) -> dict:
        """``{layer: {calls, self_s, jobs, ...}}`` over every recorded span."""
        out = {
            layer: dict(calls=0, self_s=0.0, **dict.fromkeys(COUNTERS, 0))
            for layer in LAYERS
        }
        for s in self.spans:
            if s.name not in out:
                continue
            row = out[s.name]
            row["calls"] += 1
            row["self_s"] += self.self_time(s)
            for k in COUNTERS:
                row[k] += s.counters[k]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "request": s.request,
                        "start": s.start,
                        "end": s.end,
                        "self_s": self.self_time(s),
                        "tags": s.tags,
                        "counters": s.counters,
                    }
                    for s in self.spans
                ],
                f,
            )
