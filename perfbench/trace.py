"""Spans recorded from outside the engine.

The engine has no tracing of its own, so the benchmark records one span
per call into each layer's public functions by replacing those
functions with timing wrappers, reads Spark jobs from the driver's
status store, and reads micro-batch progress from a
StreamingQueryListener. Nothing here edits engine code.

Modules bind `from … import f` at import time, so `install` patches each
defining module before any engine module that imports from it is
loaded.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# (defining module, function, span name), in dependency order: a module
# is patched before any module listed after it imports from it.
WRAPPED = [
    ("blockchain2graphdb_spark.plans.iterate", "local_checkpoint", "iterate.checkpoint"),
    ("blockchain2graphdb_spark.plans.iterate", "observed_checkpoint", "iterate.observe"),
    ("blockchain2graphdb_spark.catalog", "table", "catalog.table"),
    ("blockchain2graphdb_spark.graph.components", "connected_components", "graph.components"),
    ("blockchain2graphdb_spark.graph.components", "list_rank", "graph.list_rank"),
    ("blockchain2graphdb_spark.graph.pregel", "pregel", "graph.pregel"),
    ("blockchain2graphdb_spark.chain.maintain", "find_fork_height", "chain.fork_probe"),
    ("blockchain2graphdb_spark.chain.maintain", "reorg_rollback", "chain.rollback"),
    ("blockchain2graphdb_spark.chain.maintain", "resume", "chain.resume"),
]
# Shared memo dicts whose lookups and inserts are counted: (module,
# attribute, counter group).
MEMOS = [
    ("blockchain2graphdb_spark.operators.graphops", "_PAIRS_MEMO", "memo"),
    ("blockchain2graphdb_spark.operators.centrality", "_SEED_BFS_MEMO", "memo"),
    ("blockchain2graphdb_spark.catalog", "_TABLE_MEMO", "catalog"),
]


@dataclass
class Span:
    id: int
    op: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class CountingDict(dict):
    """dict that counts `get` hits and inserts of new keys; stands in
    for an engine memo dict while tracing is on."""

    def __init__(self, tracer: "Tracer", group: str, *args):
        super().__init__(*args)
        self._tracer = tracer
        self._group = group

    def get(self, key, default=None):
        hit = super().get(key, default)
        if hit is not None and self._tracer.enabled:
            self._tracer.count(f"{self._group}.hits")
        return hit

    def __setitem__(self, key, value):
        if key not in self and self._tracer.enabled:
            self._tracer.count(f"{self._group}.builds")
        super().__setitem__(key, value)


class Tracer:
    """In-memory span recorder. Disabled, every wrapper is one attribute
    check; enabled, it appends a Span per call. Spans made on another
    thread (foreachBatch callbacks) hang under the main thread's
    innermost open span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._op = 0
        self._main: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + 1

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sp = Span(len(self.spans), self._op, name, time.time(), parent=parent, attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def add_jobs(self, op: int, jobs: list[dict]) -> None:
        """Attach Spark jobs as child spans of the innermost span of
        `op` open at each job's submission."""
        mine = [s for s in self.spans if s.op == op and s.name != "spark.job"]
        for j in jobs:
            holders = [s for s in mine if s.start <= j["start"] <= s.end]
            parent = max(holders, key=lambda s: s.start).id if holders else None
            attrs = {k: v for k, v in j.items() if k not in ("start", "end")}
            self.spans.append(
                Span(len(self.spans), op, "spark.job", j["start"], j["end"], parent, attrs)
            )


def install(tracer: Tracer) -> None:
    """Replace each WRAPPED function with a tracing wrapper and each
    MEMOS dict with a CountingDict. Must run before any other engine
    import, so that every `from … import f` (the operators,
    `streaming.ingest`'s `resume`, `chain.wallets`'
    `connected_components`) binds the wrapper."""
    if any(m.startswith("blockchain2graphdb_spark") for m in sys.modules):
        raise RuntimeError("install() must run before the engine is imported")
    for mod_name, attr, name in WRAPPED:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, tracer.wrap(getattr(mod, attr), name))
    for mod_name, attr, group in MEMOS:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, CountingDict(tracer, group, getattr(mod, attr)))


class SparkJobs:
    """Reads finished jobs and their stages from the driver's
    AppStatusStore (works with the UI off)."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen = -1

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> None:
        """Forget every job finished so far."""
        self.drain()
        self._seen = max([-1] + [j.jobId() for j in self._jobs()])

    def _jobs(self) -> list:
        it = self._store.jobsList(None).iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    def new_jobs(self) -> list[dict]:
        """Jobs finished since the last call, with stage totals."""
        self.drain()
        fresh = sorted((j for j in self._jobs() if j.jobId() > self._seen), key=lambda j: j.jobId())
        out = []
        for j in fresh:
            self._seen = max(self._seen, j.jobId())
            st, ct = j.submissionTime(), j.completionTime()
            if not (st.isDefined() and ct.isDefined()):
                continue
            rec = {
                "job": j.jobId(),
                "start": st.get().getTime() / 1000.0,
                "end": ct.get().getTime() / 1000.0,
                "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            }
            sids = j.stageIds()
            for i in range(sids.length()):
                try:
                    s = self._store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:
                    continue  # never attempted
                if s.numCompleteTasks() == 0:
                    continue  # skipped: its output came from an earlier job
                rec["stages"] += 1
                rec["tasks"] += s.numCompleteTasks()
                rec["run_s"] += s.executorRunTime() / 1e3
                rec["cpu_s"] += s.executorCpuTime() / 1e9
                rec["gc_s"] += s.jvmGcTime() / 1e3
                rec["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
                rec["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                rec["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            out.append(rec)
        return out


class BatchProgress(StreamingQueryListener):
    """Keeps every micro-batch progress report."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs)
        with self._lock:
            self.batches.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, expected: int, timeout_s: float = 30.0) -> list[dict]:
        """Wait until `expected` reports arrived, then hand them over."""
        deadline = time.monotonic() + timeout_s
        while len(self.batches) < expected and time.monotonic() < deadline:
            time.sleep(0.01)
        with self._lock:
            got, self.batches = self.batches, []
        return sorted(got, key=lambda b: b["batch"])
