"""Tracing for the benchmark's traced run, entirely from outside the package.

- ``Tracer`` records spans (name, layer, start, end, parent span, op id)
  around the public driver-side functions of the package's layer modules,
  by rebinding those functions to timing wrappers in every module of the
  package that refers to them.  UDF objects, generator functions (the
  executor kernels of ``mapInPandas``/``mapInArrow``) and classes are left
  alone; a wrapped function shipped to an executor is pickled by
  reference, so the Python workers run the original.
- The ``read_*`` functions read Spark's own status stores (jobs, stages,
  SQL executions) and the driver JVM's memory and GC beans through py4j.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress event.

Spans use ``time.time()`` so they share a clock with Spark's job and
execution timestamps (epoch milliseconds).
"""

from __future__ import annotations

import contextlib
import functools
import gc
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
import types
from dataclasses import asdict, dataclass

PACKAGE = "big_data_co2_emission_analysis_spark"
#: layers whose public functions get spans; ``queries`` and ``engine``
#: are measured by the harness itself (op build/action, status stores)
LAYERS = ("sources", "operators", "functions", "ml", "streaming", "co2")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str
    thread: str


def _is_plain_function(obj: object, module: types.ModuleType) -> bool:
    return (
        isinstance(obj, types.FunctionType)
        and obj.__module__ == module.__name__
        and not inspect.isgeneratorfunction(obj)
        and not hasattr(obj, "evalType")  # pandas_udf / udf objects
    )


class Tracer:
    """Span recorder plus the wrappers that feed it.

    ``op(op_id)`` opens the root span of one op; layer spans opened while
    it is active (on any driver thread) carry its id.  A span opened on a
    thread with no open span of its own takes the op's root span as
    parent, so spans from an op's helper threads still nest under it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op: str = ""
        self._op_span: int | None = None
        self._originals: dict[int, tuple[types.FunctionType, types.FunctionType]] = {}

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str) -> tuple[int, int | None, float]:
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        return sid, parent, time.time()

    def _close(self, sid: int, name: str, layer: str, parent: int | None, start: float) -> float:
        end = time.time()
        self._stack().pop()
        span = Span(sid, name, layer, start, end, parent, self._op, threading.current_thread().name)
        with self._lock:
            self.spans.append(span)
        return end - start

    def span(self, name: str, layer: str) -> "OpenSpan":
        return OpenSpan(self, name, layer)

    @contextlib.contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one op (layer ``queries``); yields its OpenSpan."""
        self._op = op_id
        with self.span(name, "queries") as root:
            self._op_span = root.sid
            try:
                yield root
            finally:
                self._op_span = None

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn: types.FunctionType, layer: str) -> types.FunctionType:
        name = f"{fn.__module__[len(PACKAGE) + 1:]}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid, parent, start = tracer._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sid, name, layer, parent, start)

        return traced

    def install(self) -> int:
        """Wrap every public function of the layer modules and rebind all
        references to them across the package.  Returns how many
        functions were wrapped."""
        for layer in LAYERS:
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                importlib.import_module(f"{pkg.__name__}.{info.name}")
        importlib.import_module(f"{PACKAGE}.queries").all_queries()
        for mod_name, module in list(sys.modules.items()):
            parts = mod_name.split(".")
            if parts[0] != PACKAGE or len(parts) < 2 or parts[1] not in LAYERS:
                continue
            for attr, obj in list(vars(module).items()):
                if not attr.startswith("_") and _is_plain_function(obj, module):
                    if id(obj) not in self._originals:
                        self._originals[id(obj)] = (obj, self._wrap(obj, parts[1]))
        self._rebind(lambda original, wrapper: (original, wrapper))
        return len(self._originals)

    def uninstall(self) -> None:
        self._rebind(lambda original, wrapper: (wrapper, original))
        self._originals.clear()

    def _rebind(self, direction) -> None:
        swap = {}
        for original, wrapper in self._originals.values():
            old, new = direction(original, wrapper)
            swap[id(old)] = (old, new)
        for mod_name, module in list(sys.modules.items()):
            if mod_name.split(".")[0] != PACKAGE:
                continue
            for attr, obj in list(vars(module).items()):
                hit = swap.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(module, attr, hit[1])

    def dump(self) -> list[dict]:
        with self._lock:
            return [asdict(s) for s in self.spans]


class OpenSpan:
    """Context manager timing one span; ``start`` is set on entry and
    ``seconds`` on exit."""

    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> "OpenSpan":
        self.sid, self.parent, self.start = self.tracer._open(self.name, self.layer)
        return self

    def __exit__(self, *exc) -> bool:
        self.seconds = self.tracer._close(self.sid, self.name, self.layer, self.parent, self.start)
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_seconds([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        out[s.id] = (s.end - s.start) - covered
    return out


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# -- Spark status stores -------------------------------------------------


def drain(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status stores hold the jobs and executions just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def last_ids(spark) -> tuple[int, int, int]:
    """(max job id, max stage id, max SQL execution id) seen so far."""
    drain(spark)
    jobs, stages, execs = read_jobs(spark, -1), read_stages(spark, -1), read_sql_metrics(spark, -1, ids_only=True)
    return (
        max((j["id"] for j in jobs), default=-1),
        max((s["id"] for s in stages), default=-1),
        max(execs, default=-1),
    )


def read_jobs(spark, after: int) -> list[dict]:
    sc = spark.sparkContext
    jobs = sc._jsc.sc().statusStore().jobsList(spark._jvm.java.util.ArrayList())
    out = []
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= after:
            continue
        sub, done = j.submissionTime(), j.completionTime()
        out.append(
            {
                "id": j.jobId(),
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
            }
        )
    return out


def read_stages(spark, after: int) -> list[dict]:
    sc = spark.sparkContext
    jvm = spark._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    out = []
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() <= after or str(s.status()) != "COMPLETE":
            continue
        out.append(
            {
                "id": s.stageId(),
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.diskBytesSpilled() + s.memoryBytesSpilled(),
            }
        )
    return out


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
#: SQL metric name -> key in read_sql_metrics' result
SQL_SIZE_METRICS = {
    "size of files read": "scan_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: ``'1018.0 KiB'``, or the
    total (first value of the last line) of
    ``'total (min, med, max ...)\\n79.9 KiB (20.0 KiB, ...)'``."""
    m = _SIZE_RE.search(text.splitlines()[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def read_sql_metrics(spark, after: int, ids_only: bool = False):
    """Sum of the SIZE_METRICS over every SQL execution with id > after.

    Scan bytes come from the scan nodes' "size of files read" metric:
    on this Spark build ``StageData.inputBytes`` under-reports parquet
    scans (0.115 MB against 128.4 MB for a full sf1 lineitem scan)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    ids, totals = [], {"scan_bytes": 0.0, "python_bytes": 0.0}
    it = execs.iterator()
    while it.hasNext():
        e = it.next()
        eid = e.executionId()
        if eid <= after:
            continue
        ids.append(eid)
        if ids_only:
            continue
        wanted = {}
        mit = e.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.name() in SQL_SIZE_METRICS:
                wanted[m.accumulatorId()] = SQL_SIZE_METRICS[m.name()]
        if not wanted:
            continue
        values = store.executionMetrics(eid)
        vit = values.iterator()
        while vit.hasNext():
            kv = vit.next()
            key = wanted.get(kv._1())
            if key is not None:
                totals[key] += parse_size(kv._2())
    return ids if ids_only else totals


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


def retained_heap_mb(spark) -> float:
    """Driver JVM heap in use after full GCs, read until two readings
    agree within 1 MB (at most five).

    A single reading flipped between about 70 and 134 MB on one workload:
    the last op's plan and broadcasts stay reachable until the next query
    replaces them, a py4j proxy in a Python reference cycle keeps its JVM
    object alive until Python's collector runs, and Spark's
    ContextCleaner frees released state asynchronously after a GC.  So a
    trivial job runs first, and each reading runs Python's collector, a
    JVM GC, waits for the cleaner, and collects again."""
    spark.range(1).collect()
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    previous = None
    for _ in range(5):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        spark._jvm.System.gc()
        used = memory.getHeapMemoryUsage().getUsed() / 2**20
        if previous is not None and abs(used - previous) < 1.0:
            break
        previous = used
    return used


def residual_blocks(spark) -> tuple[int, float]:
    """(persistent RDDs, MB of cached blocks) left in the session."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
    return n, mb


class StreamProgress:
    """Collects every ``QueryProgressEvent`` while registered."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.events.append(
                    {
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "state": [
                            (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs) for s in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def take(self) -> list[dict]:
        out, self.events = self.events, []
        return out
