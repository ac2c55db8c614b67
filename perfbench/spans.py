"""In-memory span tracer and the runtime wrappers of the traced run.

A span is recorded around each wrapped public call of the engine: name,
layer, start, end, the operation it belongs to and its parent span.
Wrappers are installed only in traced mode and removed afterwards; no
engine file is edited. A layer's self time is its span's duration minus
the time covered by its child spans.

Spark-side counters are read through public interfaces: each operation
runs under its own job group, and after the run the jobs of each group
are looked up with `statusTracker` and their stages in the application
status store (the data the monitoring REST API serves, reachable here
without the web UI). Python UDF time is the "time to run Python workers"
SQLMetric of the SQL executions those jobs belong to, from the SQL status
store. Planning phases come from `QueryExecution.tracker().phases()`,
scan counts from the SQLMetrics of the executed plan.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "parent", "op", "layer", "name", "t0", "t1", "counters")

    def __init__(self, sid, parent, op, layer, name):
        self.id, self.parent, self.op, self.layer, self.name = sid, parent, op, layer, name
        self.t0 = time.perf_counter()
        self.t1 = None
        self.counters: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def to_json(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "op": self.op, "layer": self.layer,
            "name": self.name, "t0": self.t0, "t1": self.t1, "counters": self.counters,
        }


class Tracer:
    """Collects spans from every thread; one stack of open spans per thread."""

    def __init__(self, sc=None):
        self.sc = sc  # SparkContext, for per-operation job groups
        self.spans: list[Span] = []
        self.op_groups: dict[int, str] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_layers(self) -> list[str]:
        return [s.layer for s in self._stack()]

    @contextmanager
    def span(self, layer: str, name: str, op: bool = False):
        """Open a span. `op=True` starts a new operation: its spans share
        the operation id, and its Spark jobs run under their own group."""
        st = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = st[-1] if st else None
        op_id = sid if (op or parent is None) else parent.op
        sp = Span(sid, parent.id if parent else None, op_id, layer, name)
        st.append(sp)
        if op and self.sc is not None:
            group = f"perfbench-op-{sid}"
            self.sc.setJobGroup(group, name)
            with self._lock:
                self.op_groups[sid] = group
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            st.pop()
            if op and self.sc is not None:
                self.sc.setJobGroup("", "")
            with self._lock:
                self.spans.append(sp)

    # -- self time -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        return {s.id: s.dur - child.get(s.id, 0.0) for s in self.spans}


# --------------------------------------------------------------------------
# Runtime wrappers
# --------------------------------------------------------------------------


class Patches:
    """Monkeypatches installed for one traced run; `remove` restores them."""

    def __init__(self):
        self._orig: list[tuple[object, str, object]] = []
        self.tracer: Tracer | None = None

    def wrap(self, owner, attr: str, layer, after=None):
        orig = getattr(owner, attr)
        tracer_ref = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            tr = tracer_ref.tracer
            lay = layer(tr) if callable(layer) else layer
            with tr.span(lay, attr) as sp:
                out = orig(*a, **k)
                if after is not None:
                    after(sp, a, out)
                return out

        setattr(owner, attr, wrapper)
        self._orig.append((owner, attr, orig))

    def remove(self):
        for owner, attr, orig in reversed(self._orig):
            setattr(owner, attr, orig)
        self._orig.clear()


def _plan_counters(df) -> dict:
    """Planning phases and scan SQLMetrics of an executed DataFrame."""
    out = {"rows_scanned": 0, "files_read": 0}
    try:
        qe = df._jdf.queryExecution()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[f"{kv._1()}_ms"] = kv._2().durationMs()
        stack = [qe.executedPlan()]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if "Scan" in name:
                m = node.metrics()
                if m.contains("numOutputRows"):
                    out["rows_scanned"] += int(m.apply("numOutputRows").value())
                if m.contains("numFiles"):
                    out["files_read"] += int(m.apply("numFiles").value())
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    except Exception as exc:  # noqa: BLE001 — counters are best effort
        out["plan_error"] = str(exc)[:200]
    return out


def install(patches: Patches, tracer: Tracer) -> Patches:
    """Wrap the public calls of each measured module."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from apache_pinot_spark import session
    from apache_pinot_spark.sources import batch
    from apache_pinot_spark.sqlfront import PinotEngine

    patches.tracer = tracer

    def sql_layer(tr):
        # SparkSession.sql under the broker envelope is the sqlfront
        # analysis step; elsewhere (inside operators) it is plain Spark.
        return "sqlfront.sql" if any(l.startswith("sqlfront") for l in tr.current_layers()) else "spark.sql"

    def after_collect(sp, args, rows):
        sp.counters.update(_plan_counters(args[0]))
        sp.counters["rows_returned"] = len(rows) if isinstance(rows, list) else 1

    patches.wrap(session, "get_spark", "session.start")
    patches.wrap(PinotEngine, "__init__", "catalog.register")
    patches.wrap(PinotEngine, "query", "sqlfront.envelope")
    patches.wrap(PinotEngine, "rewrite", "sqlfront.rewrite")
    patches.wrap(PinotEngine, "register_ingested", "batch.register")
    patches.wrap(SparkSession, "sql", sql_layer)
    patches.wrap(DataFrame, "collect", "spark.exec", after=after_collect)
    patches.wrap(DataFrame, "count", "spark.exec")
    patches.wrap(batch, "ingest_batch", "batch.ingest")
    patches.wrap(batch, "compact_segments", "batch.compact")
    return patches


# --------------------------------------------------------------------------
# Spark stage counters per operation
# --------------------------------------------------------------------------


def stage_counters(spark, groups: dict[int, str]) -> dict[int, dict]:
    """Jobs, stages, tasks, shuffle, spill, executor CPU and Python UDF
    time for each operation's job group."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    no_tasks = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    tracker = sc.statusTracker()
    out = {}
    job_op = {}
    for op, group in groups.items():
        c = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
             "spill_bytes": 0, "executor_cpu_ns": 0, "python_ms": 0.0}
        for jid in tracker.getJobIdsForGroup(group):
            job_op[int(jid)] = op
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in list(info.stageIds):
                try:
                    attempts = store.stageData(int(sid), False, no_tasks, False, no_q)
                except Exception:  # noqa: BLE001 — skipped stages have no data
                    continue
                if attempts.isEmpty():
                    continue
                sd = attempts.head()
                if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["executor_cpu_ns"] += sd.executorCpuTime()
        out[op] = c
    for op, ms in python_udf_ms(spark, job_op).items():
        out[op]["python_ms"] += ms
    return out


PYTHON_TIME = "time to run Python workers"
_DURATION = re.compile(r"([\d.]+) (ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def python_udf_ms(spark, job_op: dict[int, int]) -> dict[int, float]:
    """Per operation, the summed PYTHON_TIME metric of every plan node
    that ran Python (UDFs, mapInPandas) in the SQL executions whose jobs
    belong to the operation. The status store keeps each metric as the
    text the SQL UI shows; its first duration is the total."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, float] = {}
    execs = store.executionsList().iterator()
    while execs.hasNext():
        ex = execs.next()
        jobs = ex.jobs().keys().iterator()
        op = None
        while jobs.hasNext() and op is None:
            op = job_op.get(int(jobs.next()))
        if op is None:
            continue
        ids = []
        ms = ex.metrics().iterator()
        while ms.hasNext():
            m = ms.next()
            if m.name() == PYTHON_TIME:
                ids.append(m.accumulatorId())
        if not ids:
            continue
        values = store.executionMetrics(ex.executionId())
        for acc in ids:
            v = values.get(acc)
            hit = _DURATION.search(str(v.get())) if v.isDefined() else None
            if hit:
                out[op] = out.get(op, 0.0) + float(hit.group(1)) * _UNIT_MS[hit.group(2)]
    return out


def jvm_gc_ms(sc) -> int:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)
