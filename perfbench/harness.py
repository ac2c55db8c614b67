"""Shared machinery of the workloads: process environment, Spark start
and stop, memory and CPU sampling, host labels, correctness comparison
and the per-layer summary of a traced run."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DRIVER_MEM = "2g"


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark and the JVM write inside the checkout, and
    size the session for a small shared host. Must run before pyspark or
    the engine's session module is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        # The web UI costs ~6 s of start-up per JVM on a 4-core host; the
        # traced run reads the same status store the UI serves.
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        # keep every job, stage and SQL execution of the run for the
        # per-operation counters
        confs["spark.ui.retainedJobs"] = "1000000"
        confs["spark.ui.retainedStages"] = "1000000"
        confs["spark.sql.ui.retainedExecutions"] = "1000000"
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values):
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# Spark process lifetime
# --------------------------------------------------------------------------


class SparkProcess:
    """The engine's session plus the JVM process PySpark launched for it."""

    def __init__(self):
        self.spark = None

    def start(self):
        from apache_pinot_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark("perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            if proc.poll() is None:
                proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def proc_tree(root: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of `root` and every process below it.
    CPU counts user and system time, including that of exited children
    their parents reaped (the Python workers the JVM forked)."""
    kids: dict[int, list[int]] = {}
    info: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()  # fields from `state` on
        except OSError:
            continue
        kids.setdefault(int(f[1]), []).append(int(d))
        info[int(d)] = (int(f[21]) * _PAGE, sum(int(x) for x in f[11:15]) / _TICK)
    rss, cpu, todo = 0, 0.0, [root]
    while todo:
        p = todo.pop()
        r, c = info.get(p, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo.extend(kids.get(p, []))
    return rss, cpu


class ProcSampler:
    """Peak resident memory of the JVM plus every process below it (the
    Python workers), sampled once a second on a background thread, and
    the CPU time the engine has used: this process (the PySpark driver
    side, where the SQL front-end runs) plus the JVM tree."""

    def __init__(self, pid_fn):
        self.pid_fn = pid_fn
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> tuple[int, float]:
        pid = self.pid_fn()
        return proc_tree(pid) if pid is not None else (0, 0.0)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree()[0])

    def cpu_s(self) -> float:
        t = os.times()
        return t.user + t.system + self._tree()[1]

    def _loop(self):
        while not self._stop.wait(1.0):
            self.sample()


# --------------------------------------------------------------------------
# Host labels
# --------------------------------------------------------------------------


def cpu_jiffies() -> tuple[int, int, int] | None:
    """(steal, busy, total) jiffies of the aggregate cpu line of
    /proc/stat, or None; busy is everything but idle and iowait."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        user, nice, system, idle, iowait, irq, softirq, steal = (int(x) for x in f[1:9])
    except (OSError, ValueError):
        return None
    busy = user + nice + system + irq + softirq + steal
    return steal, busy, busy + idle + iowait


def steal_share(j0, j1, of: int) -> float | None:
    """Steal jiffies between two cpu_jiffies() reads as a share of field
    `of` (1 = busy, 2 = total); None when a read failed or the share is
    not in [0, 1]."""
    if j0 is None or j1 is None or j1[of] <= j0[of]:
        return None
    share = (j1[0] - j0[0]) / (j1[of] - j0[of])
    return share if 0.0 <= share <= 1.0 else None


class HostLabels:
    """Steal share over the run, 1-minute load and the pinned CPU probe
    of bench.py. Labels that explain a run, not targets."""

    def __init__(self):
        self.j0 = cpu_jiffies()

    def finish(self) -> dict:
        share = steal_share(self.j0, cpu_jiffies(), 2)
        steal = None if share is None else 100.0 * share
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            load1 = None
        from bench import _calib_cpu_sec

        return {"steal_pct": steal, "load1": load1, "calib_cpu_s": _calib_cpu_sec()}


# --------------------------------------------------------------------------
# Answers
# --------------------------------------------------------------------------


def norm_value(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, Decimal)):
        return round(float(v), 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_rows(rows) -> list[tuple]:
    return sorted((tuple(norm_value(x) for x in r) for r in rows), key=repr)


def dir_stats(path: str) -> dict:
    """Parquet files, bytes and segment directories under a table path."""
    files = nbytes = 0
    segs = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
                segs.add(root)
    return {"files": files, "bytes": nbytes, "segments": len(segs)}


# --------------------------------------------------------------------------
# Operation log and the end-to-end summary
# --------------------------------------------------------------------------


class OpLog:
    """Every operation of the measured phase: kind, latency, outcome."""

    def __init__(self):
        self.ops: list[dict] = []
        self._lock = threading.Lock()

    def add(self, **rec) -> dict:
        with self._lock:
            self.ops.append(rec)
        return rec


def wall_metrics(ops: list[dict], window_s: float) -> dict:
    """Wall-clock throughput and latency of the measured window."""
    lat_ms = [o["lat"] * 1000.0 for o in ops]
    return {
        "wall.qps": metric(len(ops) / window_s, "1/s"),
        "wall.query_p50_ms": metric(percentile(lat_ms, 50), "ms"),
        "wall.query_p90_ms": metric(percentile(lat_ms, 90), "ms"),
    }


def metric(value, unit):
    return {"value": value, "unit": unit}


# --------------------------------------------------------------------------
# Per-layer summary of a traced run
# --------------------------------------------------------------------------


def layer_metrics(tracer, counters: dict[int, dict], measured_ops: set[int],
                  gc_ms: float, batch_calls: list[dict], files_per_segment: float,
                  warmup_s: float, host: dict) -> dict:
    """Per-layer numbers from the spans of one traced run.

    Times are the median self time per call of the layer's wrapped
    function over the whole run (set-up included, so a layer the measured
    phase never calls still shows its set-up cost); Spark counts are per
    operation of the measured phase."""
    selft = tracer.self_times()
    by_layer: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_layer.setdefault(s.layer, []).append(selft[s.id])
    ms = {k: [v * 1000.0 for v in vs] for k, vs in by_layer.items()}

    execs = [s for s in tracer.spans if s.layer == "spark.exec" and s.op in measured_ops
             and "rows_returned" in s.counters]
    phase = {p: median([s.counters.get(f"{p}_ms", 0) for s in execs])
             for p in ("analysis", "optimization", "planning")}
    rows_ret = sum(max(1, s.counters["rows_returned"]) for s in execs)
    rows_scanned = sum(s.counters.get("rows_scanned", 0) for s in execs)
    n_ops = max(1, len(measured_ops))
    tot = {k: sum(counters.get(op, {}).get(k, 0) for op in measured_ops)
           for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "executor_cpu_ns",
                     "python_ms")}
    files = sum(s.counters.get("files_read", 0) for s in execs)
    ing = [c for c in batch_calls if c["kind"] == "ingest"]

    out = {
        "session.start_s": metric(median(by_layer.get("session.start", [0.0])), "s"),
        "catalog.register_s": metric(median(by_layer.get("catalog.register", [0.0])), "s"),
        "warmup_s": metric(warmup_s, "s"),
        "sqlfront.rewrite_ms": metric(median(ms.get("sqlfront.rewrite", [0.0])), "ms"),
        "sqlfront.sql_ms": metric(median(ms.get("sqlfront.sql", [0.0])), "ms"),
        "sqlfront.envelope_ms": metric(median(ms.get("sqlfront.envelope", [0.0])), "ms"),
        "spark.analysis_ms": metric(phase["analysis"], "ms"),
        "spark.optimization_ms": metric(phase["optimization"], "ms"),
        "spark.planning_ms": metric(phase["planning"], "ms"),
        "spark.exec_ms": metric(median(ms.get("spark.exec", [0.0])), "ms"),
        "spark.jobs_per_op": metric(tot["jobs"] / n_ops, "count"),
        "spark.stages_per_op": metric(tot["stages"] / n_ops, "count"),
        "spark.tasks_per_op": metric(tot["tasks"] / n_ops, "count"),
        "spark.rows_scanned_per_row_returned": metric(rows_scanned / max(1, rows_ret), "ratio"),
        "spark.files_read_per_op": metric(files / n_ops, "count"),
        "spark.shuffle_bytes_per_op": metric(tot["shuffle_bytes"] / n_ops, "bytes"),
        "spark.spill_bytes_per_op": metric(tot["spill_bytes"] / n_ops, "bytes"),
        "spark.executor_cpu_ms_per_op": metric(tot["executor_cpu_ns"] / 1e6 / n_ops, "ms"),
        "spark.gc_ms_per_op": metric(gc_ms / n_ops, "ms"),
        "spark.python_udf_ms_per_op": metric(tot["python_ms"] / n_ops, "ms"),
        "batch.ingest_s": metric(median([c["s"] for c in ing]), "s"),
        "batch.ingest_rows_per_s": metric(median([c["rows"] / c["s"] for c in ing]), "1/s"),
        "batch.time_to_query_s": metric(median([c["ttq_s"] for c in ing]), "s"),
        "batch.segments_written": metric(statistics.fmean([c["segments"] for c in ing]) if ing else 0, "count"),
        "batch.files_written": metric(statistics.fmean([c["files"] for c in ing]) if ing else 0, "count"),
        "batch.bytes_written": metric(statistics.fmean([c["bytes"] for c in ing]) if ing else 0, "bytes"),
        "batch.register_ms": metric(median(ms.get("batch.register", [0.0])), "ms"),
        "batch.files_per_segment": metric(files_per_segment, "count"),
        "host.steal_pct": metric(host["steal_pct"] if host["steal_pct"] is not None else -1.0, "%"),
        "host.load1": metric(host["load1"] if host["load1"] is not None else -1.0, "load"),
        "host.calib_cpu_s": metric(host["calib_cpu_s"], "s"),
    }
    return out


def kind_metrics(tracer, measured_ops: set[int]) -> dict:
    """Per template and per declared query, from the operation spans of
    the measured phase: `broker.<template>.p50_ms`, and the median build
    and execution time of each declared query,
    `curation.<query>.build_s` / `.exec_s`. A workload reports zero for
    the kinds it does not run, so both emit the same metric names."""
    from broker import TEMPLATES
    from curation import QUERIES

    ops = {s.id: s for s in tracer.spans if s.id in measured_ops}
    lat: dict[str, list[float]] = {}
    for s in ops.values():
        lat.setdefault(s.name, []).append(s.dur)
    part: dict[tuple[str, str], list[float]] = {}
    for s in tracer.spans:
        if s.op in ops and s.layer in ("operators.build", "spark.exec") and s.parent == s.op:
            part.setdefault((ops[s.op].name, s.layer), []).append(s.dur)
    out = {f"broker.{k}.p50_ms": metric(1000.0 * percentile(lat[k], 50) if k in lat else 0.0, "ms")
           for k in TEMPLATES}
    for q in QUERIES:
        out[f"curation.{q}.build_s"] = metric(median(part.get((q, "operators.build"), [])), "s")
        out[f"curation.{q}.exec_s"] = metric(median(part.get((q, "spark.exec"), [])), "s")
    return out


def breakdown(tracer, counters: dict[int, dict], measured_ops: set[int]) -> dict:
    """Per operation kind (template or declared query) of the measured
    phase: operations, median wall time, jobs per operation and the
    median self time of each layer within one operation."""
    selft = tracer.self_times()
    ops = {s.id: s for s in tracer.spans if s.id in measured_ops}
    per_op_layer: dict[tuple[int, str], float] = {}
    for s in tracer.spans:
        if s.op in ops:
            key = (s.op, s.layer)
            per_op_layer[key] = per_op_layer.get(key, 0.0) + selft[s.id] * 1000.0
    out = {}
    for kind in sorted({s.name for s in ops.values()}):
        mine = [o for o, s in ops.items() if s.name == kind]
        layers: dict[str, list[float]] = {}
        for (op, layer), v in per_op_layer.items():
            if ops[op].name == kind:
                layers.setdefault(layer, []).append(v)
        out[kind] = {
            "ops": len(mine),
            "p50_ms": percentile([ops[o].dur * 1000.0 for o in mine], 50),
            "jobs_per_op": statistics.fmean(counters.get(o, {}).get("jobs", 0) for o in mine),
            "self_ms_p50": {k: median(v) for k, v in sorted(layers.items())},
        }
    return out


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)


def append_record(work_root: str, rec: dict) -> None:
    os.makedirs(work_root, exist_ok=True)
    with open(os.path.join(work_root, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(rec, default=str) + "\n")


def now() -> float:
    return time.perf_counter()
