"""Self-test of the benchmark, and the pinning of curation answers.

    python3 perfbench/selftest.py          # short mode, about sf0.001
    python3 perfbench/selftest.py --pin    # re-pin digests.json

Short mode runs every workload at the "tiny" scale for a few seconds,
untraced, traced and with one expected answer corrupted, and checks that:
  * every metric BENCHMARK.json names is printed, with its unit;
  * the corrupted answer is counted as a failed operation;
  * on broker_sql, the self times of the spans of each traced operation
    add up to that operation's traced wall time.

--pin runs the curation queries on the fixed corpus at both scales,
checks each against its DuckDB oracle from `querysuite.REGISTRY` (rows
stringified and compared exactly, columns in name order, as the engine's
own correctness suite does) and writes the Spark answers' digests.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

SEED = 7


def run_bench(workload: str, trace: int, corrupt: bool = False, seconds: float = 3) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace),
           "--scale", "tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=H.ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, wanted: list[dict], tag: str) -> list[str]:
    errs = []
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            errs.append(f"{tag}: metric {m['name']} missing")
        elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            errs.append(f"{tag}: metric {m['name']} printed as {got}")
    return errs


def check_self_times(workload: str) -> list[str]:
    with open(os.path.join(H.ROOT, ".perfbench", f"trace-{workload}-s{SEED}.json")) as fh:
        spans = json.load(fh)["spans"]
    dur = {s["id"]: s["t1"] - s["t0"] for s in spans}
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    per_op: dict[int, float] = {}
    for s in spans:
        per_op[s["op"]] = per_op.get(s["op"], 0.0) + dur[s["id"]] - child.get(s["id"], 0.0)
    ops = [s for s in spans if s["layer"] == "op"]
    errs = [f"op {s['id']} ({s['name']}): self times {per_op[s['id']]:.6f} s "
            f"!= wall {dur[s['id']]:.6f} s"
            for s in ops if abs(per_op[s["id"]] - dur[s["id"]]) > 1e-6]
    if not ops:
        errs.append("no traced operations")
    return errs


def short_mode() -> int:
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errs = []
    for w in (x["name"] for x in spec["workloads"]):
        res = run_bench(w, 0)
        errs += check_metrics(res, spec["end_to_end"], f"{w} untraced")
        if not res["correct"] or res["failed"]:
            errs.append(f"{w}: {res['failed']} of {res['attempted']} operations failed")
        res = run_bench(w, 1)
        errs += check_metrics(res, spec["per_layer"], f"{w} traced")
        if w == "broker_sql":
            errs += check_self_times(w)
        res = run_bench(w, 0, corrupt=True)
        if res["failed"] < 1 or res["correct"]:
            errs.append(f"{w}: a corrupted expected answer was not counted as failed")
        print(f"{w}: checked", file=sys.stderr)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "ok" if not errs else f"{len(errs)} failures")
    return 1 if errs else 0


# --------------------------------------------------------------------------
# Pinning the curation digests
# --------------------------------------------------------------------------


def _canon(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


def pin() -> int:
    import duckdb

    work = os.path.join(H.ROOT, ".perfbench", "pin")
    H.prepare_env(work, False)
    import curation
    from run import SCALES, Runtime

    import apache_pinot_spark.suites  # noqa: F401
    from apache_pinot_spark import querysuite

    pinned, bad = {}, []
    rt = Runtime(None)
    try:
        for scale in ("tiny", "bench"):
            w = curation.LLMCuration(0, SCALES[scale], os.path.join(work, scale))
            w.generate()
            w.setup(rt)
            con = duckdb.connect()
            con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(w.main_table(), '*.parquet')}')")
            digests = {}
            for name in curation.QUERIES:
                df = querysuite.REGISTRY[name].fn(rt.spark, w.sf_dir)
                rows = df.collect()
                orc = con.sql(querysuite.REGISTRY[name].oracle)
                if _canon(rows, df.columns) != _canon(orc.fetchall(), orc.columns):
                    bad.append(f"{name} at {w.rows} documents: Spark != DuckDB oracle")
                digests[name] = curation.digest([tuple(r) for r in rows])
                print(f"{scale} {name}: {len(rows)} rows, {digests[name][:12]}", file=sys.stderr)
            con.close()
            pinned[str(w.rows)] = digests
    finally:
        rt.proc.shutdown()
    if bad:
        for b in bad:
            print("FAIL", b)
        return 1
    H.write_json(curation.DIGESTS, pinned)
    print("pinned", curation.DIGESTS)
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--pin", action="store_true", help="re-pin the curation digests")
    a = p.parse_args()
    if not os.path.isdir(os.path.join(H.ROOT, "apache_pinot_spark")):
        print(f"selftest: no engine checkout at {H.ROOT}", file=sys.stderr)
        return 2
    return pin() if a.pin else short_mode()


if __name__ == "__main__":
    sys.exit(main())
