"""Tracing for the benchmark: spans around layer calls, a py4j
round-trip counter, and per-op Spark stage metrics.

Everything here works from outside the engine. Layer calls are timed
by temporarily rebinding the engine's public functions and methods to
span-recording wrappers; the originals are restored when tracing is
switched off, so an untraced op runs the engine untouched.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: py4j sends this prefix when Python's garbage collector releases a
#: JVM handle. Those sends follow the collector's timing, not the
#: program's, so the counter leaves them out to stay repeatable.
_PY4J_RELEASE = "m\nd\n"

_MISSING = object()


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    py4j: int = 0  # round-trips inside the span, children included
    self_s: float = 0.0
    self_py4j: int = 0


@dataclass
class Tracer:
    """Spans and counts for one run; kept in memory until the end."""

    spans: list[Span] = field(default_factory=list)
    calls: int = 0  # py4j round-trips sent by this process
    enabled: bool = False
    op: str = ""
    _stack: list[int] = field(default_factory=list)

    # ---- py4j counter -------------------------------------------------

    def count_py4j(self, gateway_client) -> None:
        """Wrap the gateway client's send call so every round-trip made
        by this process bumps ``calls``."""
        send = gateway_client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(_PY4J_RELEASE):
                self.calls += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted

    # ---- spans --------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = Span(name, self.op, time.perf_counter(),
                    parent=self._stack[-1] if self._stack else None)
        calls0 = self.calls
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.perf_counter()
            span.py4j = self.calls - calls0

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Rebind ``owner.attr`` to a span wrapper named ``span`` for each
        ``(owner, attr, span)`` while the block runs; restore after.
        Owners are modules or classes; a class attribute that was only
        inherited is removed again on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                own = owner.__dict__.get(attr, _MISSING)
                saved.append((owner, attr, own))
                setattr(owner, attr, self.wrap(name, getattr(owner, attr)))
            yield
        finally:
            for owner, attr, own in reversed(saved):
                if own is _MISSING:
                    delattr(owner, attr)
                else:
                    setattr(owner, attr, own)

    def finish(self) -> None:
        """Fill in each span's self time and self count: its own
        minus the part its direct children cover."""
        child_s = [0.0] * len(self.spans)
        child_calls = [0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
                child_calls[s.parent] += s.py4j
        for s, c, n in zip(self.spans, child_s, child_calls):
            s.self_s = (s.end - s.start) - c
            s.self_py4j = s.py4j - n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ---- Spark status store ---------------------------------------------


class StageMetrics:
    """Reads per-op execution metrics from Spark's status store.

    Ops run under a job group the benchmark sets; afterwards the jobs
    of that group, their stages and each stage's aggregated task
    metrics are read back as JSON (the same serialisation Spark's REST
    API uses). Reading adds py4j calls on the driver but no Spark
    jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self.mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self.quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0

    def _json(self, obj) -> dict:
        return json.loads(self.mapper.writeValueAsString(obj))

    def read(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = sorted(
            {s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])}
        )
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "scan_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "task_skew": 1.0,
            "python_udf_s": self._python_seconds(set(jobs)),
        }
        largest = None
        for sid in stage_ids:
            sd = self._json(self.store.lastStageAttempt(sid))
            if sd["status"] != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd["numTasks"]
            if sd["inputRecords"] > 0:
                out["scan_tasks"] += sd["numTasks"]
            out["executor_run_s"] += sd["executorRunTime"] / 1e3
            out["executor_cpu_s"] += sd["executorCpuTime"] / 1e9
            out["gc_s"] += sd["jvmGcTime"] / 1e3
            out["shuffle_write_bytes"] += sd["shuffleWriteBytes"]
            out["shuffle_read_bytes"] += sd["shuffleReadBytes"]
            out["spill_bytes"] += sd["memoryBytesSpilled"] + sd["diskBytesSpilled"]
            out["input_bytes"] += sd["inputBytes"]
            if largest is None or sd["executorRunTime"] > largest[1]:
                largest = (sid, sd["executorRunTime"], sd["attemptId"])
        if largest is not None and largest[1] > 0:
            summary = self.store.taskSummary(largest[0], largest[2], self.quantiles)
            if summary.isDefined():
                med, top = self._json(summary.get())["executorRunTime"]
                out["task_skew"] = top / med if med > 0 else 1.0
        return out

    def _python_seconds(self, jobs: set[int]) -> float:
        """Sum of the "time to run Python workers" SQL metric over the
        SQL executions that ran these jobs (Arrow/pandas plan nodes
        report it; plans without Python nodes report 0)."""
        if not jobs:
            return 0.0
        total_ms = 0.0
        n = self.sql_store.executionsCount()
        recent = self.sql_store.executionsList(max(n - 32, 0), 32)
        for i in range(recent.size()):
            ex = recent.apply(i)
            ex_jobs = {int(j) for j in self._json(ex.jobs()).keys()}
            if not ex_jobs & jobs:
                continue
            ids = [m["accumulatorId"] for m in self._json(ex.metrics())
                   if m["name"] == "time to run Python workers"]
            if not ids:
                continue
            values = self._json(self.sql_store.executionMetrics(ex.executionId()))
            for acc in ids:
                total_ms += _first_duration_ms(values.get(str(acc), ""))
        return total_ms / 1e3


def _first_duration_ms(text: str) -> float:
    """Parse the total out of a formatted SQL timing metric such as
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (0 ms, ...)"``."""
    line = text.split("\n")[-1].strip()
    if not line:
        return 0.0
    number, _, rest = line.partition(" ")
    unit = rest.split(" ")[0].strip("(),")
    scale = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}.get(unit)
    try:
        return float(number) * scale if scale else 0.0
    except ValueError:
        return 0.0
