"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads broker_sql llm_curation --seeds 1-10

Runs the benchmark once per seed and workload, one run at a time, and
prints for each end-to-end metric its median and the distance between the
first and third quartile as a share of the median (statistics.quantiles,
n=4), next to the metric's bound from BENCHMARK.json. All results are also
written to .perfbench/spread-<first seed>-<last seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = p.parse_args()
    ss = seeds(a.seeds)
    runs: dict[str, list[dict]] = {}
    for w in a.workloads:
        for s in ss:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            if out.returncode != 0:
                print(f"{w} seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            runs.setdefault(w, []).append({"seed": s, **res})
            print(f"{w} seed {s}: failed {res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
    summary = {}
    for w, rs in runs.items():
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            summary[f"{w}/{m['name']}"] = {"median": med, "spread": spread, "bound": m["bound"]}
            flag = "" if spread <= m["bound"] / 3 else ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
            print(f"{w:14s} {m['name']:22s} median {med:12.4f}  spread {spread:6.3f}  "
                  f"bound {m['bound']:.2f}{flag}")
    path = os.path.join(ROOT, ".perfbench", f"spread-{ss[0]}-{ss[-1]}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
