"""Spans and Spark counters for the traced run.

The traced run wraps public functions of the package's layers and
records one span per call: name, start, end, parent span and run id,
plus the number of Spark jobs launched inside it. Spans stay in memory
and are written out when the run ends. Nothing here is active in an
untraced run.

``instrument`` swaps module attributes for the length of the traced
phase only, and ``restore`` puts every original back.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "aws_callcenter_delta_lakehouse_spark"

# layer module -> span name prefix; every public function the module
# defines is wrapped (so a same-module helper call nests, see Tracer.wrap)
OPERATOR_MODULES = ("similarity", "pq", "dedup", "bpe", "text")
SOURCE_FUNCTIONS = ("write_or_merge", "merge_upsert", "append_partitioned", "read")
STREAM_DURATIONS = ("triggerExecution", "queryPlanning", "addBatch", "getBatch", "walCommit")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``jobs_now`` returns the number of Spark
    jobs submitted so far; each span records the difference."""

    def __init__(self, run_id: str, jobs_now=lambda: 0) -> None:
        self.run_id = run_id
        self.jobs_now = jobs_now
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._open_names: dict[str, int] = {}

    def begin(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.perf_counter(), parent=parent, run_id=self.run_id, attrs=attrs)
        )
        idx = len(self.spans) - 1
        self.spans[idx].jobs = -self.jobs_now()
        self._stack.append(idx)
        self._open_names[name] = self._open_names.get(name, 0) + 1
        return idx

    def end(self, idx: int) -> Span:
        s = self.spans[idx]
        s.jobs += self.jobs_now()
        s.end = time.perf_counter()
        self._stack.pop()
        self._open_names[s.name] -= 1
        return s

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def wrap(self, name: str, fn):
        """``fn`` recording a ``name`` span per call. A call made while a
        span of the same name is open records nothing, so a layer's
        total never counts the same interval twice."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._open_names.get(name):
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        traced.__wrapped_original__ = fn
        return traced

    # --- aggregation ---------------------------------------------------

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def jobs(self, name: str) -> int:
        return sum(s.jobs for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Total of ``name`` spans minus the part their direct child
        spans cover."""
        idx = {i for i, s in enumerate(self.spans) if s.name == name}
        child = sum(s.seconds for s in self.spans if s.parent in idx)
        return self.total(name) - child

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _targets() -> list[tuple[str, object]]:
    """(span name, original function) for every function the traced run
    wraps."""
    from aws_callcenter_delta_lakehouse_spark import catalog
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table

    out = [("catalog.load_table", catalog.load_table)]
    for mod in OPERATOR_MODULES:
        m = sys.modules.get(f"{PACKAGE}.operators.{mod}") or __import__(
            f"{PACKAGE}.operators.{mod}", fromlist=["_"]
        )
        for attr, fn in vars(m).items():
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == m.__name__
            ):
                out.append((f"operators.{mod}", fn))
    for attr in SOURCE_FUNCTIONS:
        out.append((f"sources.{attr}", getattr(managed_table, attr)))
    return out


def instrument(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Replace every reference the package's loaded modules hold to a
    target function with a tracing wrapper. Returns what
    :func:`restore` needs to undo it."""
    wrappers = {id(fn): tracer.wrap(name, fn) for name, fn in _targets()}
    swapped = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrappers.get(id(val))
            if w is not None and inspect.isfunction(val):
                setattr(mod, attr, w)
                swapped.append((mod, attr, val))
    return swapped


def restore(swapped: list[tuple[object, str, object]]) -> None:
    for mod, attr, val in swapped:
        setattr(mod, attr, val)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkCounters:
    """Reads the status stores (they work with the UI off) at phase
    boundaries. Every read first drains the listener bus, so the
    counters include every task of the actions that already returned."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def jobs(self) -> int:
        return int(self.sc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        """Cumulative executor totals, plus job and stage ids."""
        self.drain()
        snap = {"jobs": self.jobs(), "next_stage": int(self.sc.dagScheduler().nextStageId())}
        keys = ("tasks", "task_ms", "gc_ms", "input", "shuffle_read", "shuffle_write")
        snap.update(dict.fromkeys(keys, 0))
        for e in _seq(self.sc.statusStore().executorList(True)):
            snap["tasks"] += e.totalTasks()
            snap["task_ms"] += e.totalDuration()
            snap["gc_ms"] += e.totalGCTime()
            snap["input"] += e.totalInputBytes()
            snap["shuffle_read"] += e.totalShuffleRead()
            snap["shuffle_write"] += e.totalShuffleWrite()
        return snap

    def spill_bytes(self, first_stage: int) -> int:
        """Memory plus disk spill of every retained stage with id at or
        above ``first_stage``."""
        self.drain()
        gw = self.spark.sparkContext._gateway
        stages = self.sc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        return sum(
            s.memoryBytesSpilled() + s.diskBytesSpilled()
            for s in _seq(stages)
            if s.stageId() >= first_stage
        )

    def execution_count(self) -> int:
        return int(self.sql_store.executionsCount())

    def root_execution_seconds(self, since_count: int) -> float:
        """Wall seconds of the root SQL executions registered after the
        store held ``since_count`` of them (nested executions are part
        of their root's interval)."""
        self.drain()
        n = self.execution_count()
        total = 0.0
        for x in _seq(self.sql_store.executionsList(since_count, max(0, n - since_count))):
            if x.rootExecutionId() == x.executionId() and x.completionTime().isDefined():
                total += (x.completionTime().get().getTime() - x.submissionTime()) / 1000.0
        return total


class StreamProgress:
    """Sums ``durationMs`` of every ``StreamingQueryProgress`` through
    the package's own listener, ``streaming.observe.capture_progress``."""

    def __init__(self, spark) -> None:
        from aws_callcenter_delta_lakehouse_spark.streaming.observe import capture_progress

        self.spark = spark
        self.batches = 0
        self.ms = dict.fromkeys(STREAM_DURATIONS, 0)
        self.listener = capture_progress(spark)
        inner = self.listener.onQueryProgress

        def on_progress(event) -> None:
            inner(event)
            self.batches += 1
            for k, v in (json.loads(event.progress.json).get("durationMs") or {}).items():
                if k in self.ms:
                    self.ms[k] += int(v)

        self.listener.onQueryProgress = on_progress

    def close(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self.listener)
