"""Spans around calls into the program's layers, plus Spark's own counters.

Everything here observes the program from outside: spans are timed in the
benchmark process around public calls (``CrunchWorker.process_batch``, the
view's delta-plan function, ``PointTable.merge`` / ``read``), and Spark-side counts
come from Spark's public status APIs:

- each span runs its Spark jobs under its own job group, so the status
  store attributes every job (and its stages' executor metrics) to the
  innermost span that launched it;
- a ``QueryExecutionListener`` registered through the Py4J callback server
  reads each action's Catalyst phase tracker (analysis, optimization,
  planning);
- a wrapper on the Py4J client connection counts gateway round trips made
  from the benchmark's thread.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

from stats import self_time

#: stage fields summed per span: status-store name -> (metric suffix, scale)
STAGE_FIELDS = {
    "numTasks": ("tasks", 1.0),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1.0),
    "shuffleReadBytes": ("shuffle_read_bytes", 1.0),
    "inputBytes": ("input_bytes", 1.0),
    "outputBytes": ("output_bytes", 1.0),
    "memoryBytesSpilled": ("spill_bytes", 1.0),
    "diskBytesSpilled": ("spill_bytes", 1.0),
}

#: SQL metric names of the Arrow/Python-UDF operators -> metric suffix
UDF_SQL_METRICS = {
    "time to run Python workers": "python_time_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

#: physical operators that cross the Arrow/Python-UDF boundary
PYTHON_OPERATORS = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    #: epoch seconds at start, to place Spark's job timestamps in the span
    epoch_start: float = 0.0
    parent: int | None = None
    py4j_calls: int = 0
    jobs: list[dict] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False
    active = False

    @contextmanager
    def span(self, name: str, op: str):
        yield None

    def wrap(self, name: str, fn, op):
        return fn

    def collect(self, op: str) -> None:
        pass

    def close(self, out: Path | None = None) -> None:
        pass


class _Py4jCounter:
    """Counts gateway round trips from one thread while enabled."""

    def __init__(self) -> None:
        self.count = 0
        self.thread = threading.get_ident()
        self.paused = False
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command
            counter = self

            def send_command(conn, command, *a, _orig=orig, **k):
                if not counter.paused and threading.get_ident() == counter.thread:
                    counter.count += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = send_command
            self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


class _PhaseListener:
    """``QueryExecutionListener`` implemented in Python via Py4J."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        self._record(func_name, qe, duration_ns)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self._record(func_name, qe, 0)

    def _record(self, func_name, qe, duration_ns) -> None:
        phases = qe.tracker().phases()
        ev = {"action": func_name, "duration_s": duration_ns * 1e-9}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            ev[ph] = opt.get().durationMs() * 1e-3 if opt.isDefined() else 0.0
        self.events.append(ev)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans and per-span Spark counters for a traced run."""

    enabled = True

    def __init__(self, spark) -> None:
        #: spans and counters are recorded only while active
        self.active = True
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j = _Py4jCounter()
        self.py4j.install()
        self.listener = _PhaseListener()
        from pyspark.java_gateway import ensure_callback_server_started

        with self._internal():
            ensure_callback_server_started(self.sc._gateway)
            self._jlm = spark._jsparkSession.listenerManager()
            self._jlm.register(self.listener)
            self._store = self.sc._jsc.sc().statusStore()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._bus = self.sc._jsc.sc().listenerBus()
        self._last_execution = self._max_execution_id()
        #: catalyst events and UDF SQL metrics per op, filled by collect()
        self.op_counters: dict[str, dict] = {}
        #: wall spent reading counters between ops (outside every span)
        self.collect_s = 0.0

    @contextmanager
    def _internal(self):
        prev = self.py4j.paused
        self.py4j.paused = True
        try:
            yield
        finally:
            self.py4j.paused = prev

    def _set_group(self, group: str | None) -> None:
        with self._internal():
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, op: str):
        if not self.active:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, 0.0, parent=parent)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(f"span-{idx}")
        calls0 = self.py4j.count
        sp.epoch_start = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.py4j.count - calls0
            self._stack.pop()
            self._set_group(f"span-{parent}" if parent is not None else None)

    def wrap(self, name: str, fn, op):
        """``fn`` with a span around every call; ``op`` gives the current
        batch or read id."""

        def wrapped(*a, **k):
            if not self.active:
                return fn(*a, **k)
            with self.span(name, op()):
                return fn(*a, **k)

        return wrapped

    # -- counters, read after each op ----------------------------------------

    def _max_execution_id(self) -> int:
        with self._internal():
            execs = self._sql_store.executionsList()
            return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def collect(self, op: str) -> None:
        """Attach Spark jobs/stages to this op's spans, and record its
        Catalyst phases and UDF SQL metrics. Call after the op ends; an
        op run while inactive only has its events drained."""
        t0 = time.perf_counter()
        with self._internal():
            self._collect(op)
        self.collect_s += time.perf_counter() - t0

    def _collect(self, op: str) -> None:
        self._bus.waitUntilEmpty(30_000)
        if not self.active:
            self.listener.events = []
            self._udf_metrics()
            return
        tracker = self.sc.statusTracker()
        for idx, sp in enumerate(self.spans):
            if sp.op != op or sp.jobs:
                continue
            for jid in sorted(tracker.getJobIdsForGroup(f"span-{idx}")):
                sp.jobs.append(self._job(jid))
        events, self.listener.events = self.listener.events, []
        self.op_counters[op] = {"catalyst": events, "udf": self._udf_metrics()}

    def _job(self, jid: int) -> dict:
        jd = self._store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        done = sub.isDefined() and comp.isDefined()
        job = {
            "id": jid,
            "name": jd.name(),
            "submitted": sub.get().getTime() * 1e-3 if done else 0.0,
            "completed": comp.get().getTime() * 1e-3 if done else 0.0,
            "stages": 0,
        }
        for suffix, _ in STAGE_FIELDS.values():
            job[suffix] = 0.0
        ids = jd.stageIds()
        for i in range(ids.size()):
            try:
                st = self._store.lastStageAttempt(ids.apply(i))
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            job["stages"] += 1
            for attr, (suffix, scale) in STAGE_FIELDS.items():
                job[suffix] += getattr(st, attr)() * scale
        return job

    def _udf_metrics(self) -> dict:
        """Arrow/Python-UDF SQL metrics of the executions since the last
        call. Execution ids are sequential; only plans that contain a
        Python operator get their metric graph walked."""
        out = {v: 0.0 for v in UDF_SQL_METRICS.values()}
        eid = self._last_execution + 1
        misses = 0
        while misses < 8:
            opt = self._sql_store.execution(eid)
            eid += 1
            if not opt.isDefined():
                misses += 1
                continue
            misses = 0
            self._last_execution = eid - 1
            plan = opt.get().physicalPlanDescription()
            if any(op in plan for op in PYTHON_OPERATORS):
                self._add_udf_metrics(eid - 1, out)
        return out

    def _add_udf_metrics(self, eid: int, out: dict) -> None:
        wanted = {}
        nodes = self._sql_store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            ms = nodes.apply(n).metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                if pm.name() in UDF_SQL_METRICS:
                    wanted[pm.accumulatorId()] = UDF_SQL_METRICS[pm.name()]
        it = self._sql_store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in wanted:
                out[wanted[kv._1()]] += parse_sql_metric(kv._2())

    def close(self, out: Path | None = None) -> None:
        # the callback server stays up: closing it while its connection
        # thread blocks in a read hangs; it ends with the JVM
        with self._internal():
            try:
                self._jlm.unregister(self.listener)
            finally:
                self.py4j.uninstall()
        if out is not None:
            out.parent.mkdir(parents=True, exist_ok=True)
            out.write_text(
                json.dumps(
                    {"spans": [asdict(s) for s in self.spans], "ops": self.op_counters}
                )
            )


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_sql_metric(text: str) -> float:
    """Total of a rendered SQL metric (``"total (min, med, max ...)\\n12.3
    KiB (...)"`` or a bare ``"12.3 KiB"``), in bytes or seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    tok = line.split("(")[0].split()
    if not tok:
        return 0.0
    value = float(tok[0].replace(",", ""))
    unit = tok[1] if len(tok) > 1 else ""
    return value * _UNITS.get(unit, 1.0)


def layer_self_times(spans: list[Span], op: str) -> dict[str, float]:
    """Self time per span name within one op (span minus its children)."""
    out: dict[str, float] = {}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.op == op and s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    for idx, s in enumerate(spans):
        if s.op != op:
            continue
        out[s.name] = out.get(s.name, 0.0) + self_time(s.start, s.end, kids.get(idx, []))
    return out
