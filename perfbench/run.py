"""Benchmark entry point.

    python3 perfbench/run.py --workload broker_sql --seed 1 --seconds 12 --trace 0

Runs one workload of BENCHMARK.json against the engine in this checkout
and prints, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 wrappers are installed around the
engine's public calls and the metrics are the per-layer ones. Every run,
with its host labels and generator facts, is appended to
.perfbench/runs.jsonl; a traced run also writes its spans to
.perfbench/trace-<workload>-s<seed>.json.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("broker_sql", "llm_curation")

# Input sizes. "bench" is what BENCHMARK.json runs: the engine's sf0.1
# row counts for the broker tables, and the sf0.01 corpus of 500
# documents for curation (see README.md). "tiny" is the self-test's
# short mode (about sf0.001).
SCALES = {
    "bench": {"orders": 150000, "events": 100000, "days": 30, "users": 1500,
              "documents": 5000, "corpus": 500, "stream": 4000},
    "tiny": {"orders": 1500, "events": 2000, "days": 30, "users": 50,
             "documents": 100, "corpus": 100, "stream": 600},
}


class Runtime:
    """What a workload needs from the harness: the Spark session, the
    operation log, the tracer (traced runs only) and batch-call stats."""

    def __init__(self, tracer):
        self.proc = H.SparkProcess()
        self.tracer = tracer
        self.ops = H.OpLog()
        self.batch_calls: list[dict] = []
        self.measured_ops: set[int] = set()
        self.measuring = False

    @property
    def spark(self):
        return self.proc.spark

    def start_spark(self):
        spark = self.proc.start()
        if self.tracer is not None:
            self.tracer.sc = spark.sparkContext
            self.tracer.op_groups.clear()  # groups of a stopped context are gone
        return spark

    def op_span(self, kind: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self._traced_op(kind)

    @contextlib.contextmanager
    def _traced_op(self, kind: str):
        with self.tracer.span("op", kind, op=True) as sp:
            if self.measuring:
                self.measured_ops.add(sp.id)
            yield sp


def make_workload(name: str, seed: int, scale: dict, work: str):
    if name == "broker_sql":
        from broker import BrokerSQL as W
    else:
        from curation import LLMCuration as W
    return W(seed, scale, work)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: corrupt one expected answer")
    return p.parse_args(argv)


def run(args) -> dict:
    """One benchmark run; returns the result object plus the run record."""
    work_root = os.path.join(H.ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    H.prepare_env(work, bool(args.trace))
    from spans import Patches, Tracer, install, jvm_gc_ms, stage_counters

    phases = {}
    t_run = H.now()
    W = make_workload(args.workload, args.seed, SCALES[args.scale], work)
    W.generate()
    phases["generate"] = H.now() - t_run
    host = H.HostLabels()
    tracer = Tracer() if args.trace else None
    patches = install(Patches(), tracer) if tracer else None
    rt = Runtime(tracer)
    try:
        with H.ProcSampler(lambda: rt.proc.jvm_pid) as proc:
            # Set-up, as a user meets it: the first session in a new JVM,
            # table registration and warm-up, up to the first timed call.
            t0 = H.now()
            W.setup(rt)
            phases["setup"] = H.now() - t0
            W.warmup(rt)
            setup_s = H.now() - t0
            warmup_s = setup_s - phases["setup"]
            gc0 = jvm_gc_ms(rt.spark.sparkContext) if tracer else 0
            rt.measuring = True
            c0, j0 = proc.cpu_s(), H.cpu_jiffies()
            window = W.measure(rt, args.seconds)
            window_cpu = proc.cpu_s() - c0
            window_steal = H.steal_share(j0, H.cpu_jiffies(), 1)
            rt.measuring = False
            proc.sample()
            if tracer:
                gc_ms = jvm_gc_ms(rt.spark.sparkContext) - gc0
                groups = {op: g for op, g in tracer.op_groups.items() if op in rt.measured_ops}
                counters = stage_counters(rt.spark, groups)
            seg = H.dir_stats(W.main_table())
    finally:
        if patches:
            patches.remove()
        t0 = H.now()
        rt.proc.shutdown()
        phases["shutdown"] = H.now() - t0
    t0 = H.now()
    W.verify(rt, corrupt=args.corrupt)
    phases["verify"] = H.now() - t0
    host = host.finish()
    phases["total"] = H.now() - t_run

    ops = rt.ops.ops
    failures = [o for o in ops if o.get("err")]
    result = {
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
    }
    wall = H.wall_metrics(ops, window)
    if tracer is None:
        last_push = rt.batch_calls[-1]
        metrics = {
            "setup_s": H.metric(setup_s, "s"),
            "cpu_ms_per_op": H.metric(1000.0 * window_cpu / max(1, len(ops)), "ms"),
            "stored_bytes_per_row": H.metric(last_push["bytes"] / last_push["rows"], "bytes"),
            "peak_rss_mb": H.metric(proc.peak_bytes / 2**20, "MB"),
        }
    else:
        metrics = wall | H.layer_metrics(
            tracer, counters, rt.measured_ops, gc_ms, rt.batch_calls,
            seg["files"] / max(1, seg["segments"]), warmup_s, host,
        ) | H.kind_metrics(tracer, rt.measured_ops)
    result["metrics"] = metrics
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "scale": args.scale, "host": host, "facts": W.facts,
        "window_s": window, "p90_tail_samples": len(ops) - int(0.9 * len(ops)),
        "wall": {k: v["value"] for k, v in wall.items()},
        "setup_s": setup_s, "window_cpu_s": window_cpu,
        "window_steal_of_busy": window_steal,
        "warmup_s": warmup_s, "phases_s": phases,
        "failures": [{"kind": o.get("kind"), "err": o["err"]} for o in failures[:20]],
        "ops": [[o["kind"], round(o["lat"], 4), round(o["end"], 3)] for o in ops],
        **result,
    }
    if tracer is not None:
        record["qps_traced"] = len(ops) / window
        record["overhead_pct"] = tracing_overhead(work_root, record)
        record["breakdown"] = H.breakdown(tracer, counters, rt.measured_ops)
        H.write_json(os.path.join(work_root, f"trace-{args.workload}-s{args.seed}.json"), {
            "breakdown": record["breakdown"],
            "counters": counters,
            "spans": [s.to_json() for s in tracer.spans],
        })
    H.append_record(work_root, record)
    shutil.rmtree(work, ignore_errors=True)  # inputs and warehouses; records stay
    return result, record


def tracing_overhead(work_root: str, rec: dict) -> float | None:
    """Throughput lost to tracing, against the latest untraced run of the
    same workload and seed in runs.jsonl (None when there is none)."""
    import json

    path = os.path.join(work_root, "runs.jsonl")
    base = None
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"], r["seed"], r["trace"], r["scale"]) == (
                        rec["workload"], rec["seed"], 0, rec["scale"]) and "wall" in r:
                    base = r
    if base is None or not rec["qps_traced"]:
        return None
    return 100.0 * (base["wall"]["wall.qps"] / rec["qps_traced"] - 1.0)


def main(argv=None) -> int:
    import json

    args = parse_args(argv)
    if not os.path.isdir(os.path.join(H.ROOT, "apache_pinot_spark")) or not os.path.isfile(
            os.path.join(H.ROOT, "bench.py")):
        print(f"perfbench: no engine checkout at {H.ROOT}", file=sys.stderr)
        return 2
    result, rec = run(args)
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "host", "facts", "wall", "window_s",
                                          "p90_tail_samples", "setup_s",
                                          "warmup_s", "phases_s", "failures")
                      } | ({"overhead_pct": rec.get("overhead_pct")} if args.trace else {}),
                     default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
