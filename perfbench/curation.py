"""`llm_curation`: the engine's LLM-data operators.

Closed loop, 1 client. The corpus is batch-ingested as a Pinot table,
read back through the broker, and then the declared curation queries of
`querysuite.REGISTRY` run over it in a seeded order, whole passes until
the run's time is used. The corpus itself is fixed (gen.CORPUS_SEED) so
each query's answer is pinned as a digest in digests.json; the seed sets
only the order. `selftest.py --pin` recomputes the digests after checking
every query against its DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os

import numpy as np

import gen
import harness as H
from broker import documents_config, push

QUERIES = ["dedup_simhash_buckets", "curation_boilerplate_removal"]
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(rows) -> str:
    """Order-free digest of a result, values stringified exactly."""
    lines = sorted("\x1f".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class LLMCuration:
    name = "llm_curation"

    def __init__(self, seed: int, scale: dict, work: str):
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        self.raw_dir = os.path.join(work, "raw")
        self.sf_dir = os.path.join(work, "sf")
        self.warehouse = os.path.join(work, "warehouse")
        self.facts: dict = {}

    def generate(self) -> None:
        docs = gen.documents_table(np.random.default_rng(gen.CORPUS_SEED), self.scale["corpus"])
        gen.write_tables({"documents": docs}, self.raw_dir)
        self.rows = docs.num_rows
        with open(DIGESTS) as fh:
            self.pinned = json.load(fh).get(str(self.rows), {})
        self.facts["rows"] = {"documents": self.rows}
        self.facts["orders"] = []

    def setup(self, rt) -> None:
        """Start a session, push the corpus, read it back through the
        broker, and register it where the declared queries read it."""
        from apache_pinot_spark import catalog
        from apache_pinot_spark.sqlfront import PinotEngine

        spark = rt.start_spark()
        path = push(rt, PinotEngine(spark), os.path.join(self.raw_dir, "documents.parquet"),
                    documents_config(False), self.warehouse, self.rows)
        # the declared queries read <sf_dir>/documents.parquet
        os.makedirs(self.sf_dir, exist_ok=True)
        link = os.path.join(self.sf_dir, "documents.parquet")
        os.symlink(path, link)
        catalog.load_tables(spark, self.sf_dir, ["documents"], refresh=True)

    def main_table(self) -> str:
        return os.path.join(self.warehouse, "documents")

    def _run_query(self, rt, name: str) -> dict:
        from apache_pinot_spark import querysuite

        q = querysuite.REGISTRY[name]
        with rt.op_span(name):
            t0 = H.now()
            with rt.tracer.span("operators.build", name) if rt.tracer else contextlib.nullcontext():
                df = q.fn(rt.spark, self.sf_dir)
            rows = df.collect()
            lat = H.now() - t0
        return {"kind": name, "lat": lat, "rows": [tuple(r) for r in rows]}

    def warmup(self, rt) -> None:
        """Three passes: after one, per-operation CPU still falls by ~25 %
        over the next passes, and after two by ~15 %."""
        import apache_pinot_spark.suites  # noqa: F401 — registers the declared queries

        for name in QUERIES * 3:
            self._run_query(rt, name)

    def measure(self, rt, seconds: float) -> float:
        t_start = H.now()
        while True:
            order = [QUERIES[i] for i in self.rng.permutation(len(QUERIES))]
            self.facts["orders"].append(order)
            for name in order:
                rt.ops.add(**self._run_query(rt, name), end=H.now() - t_start)
            if H.now() - t_start >= seconds:
                return H.now() - t_start

    def verify(self, rt, corrupt: bool = False) -> None:
        for i, o in enumerate(rt.ops.ops):
            want = self.pinned.get(o["kind"])
            got = digest(o.pop("rows"))
            if corrupt and i == 0:
                want = "0" * 64
            if want is None:
                o["err"] = f"no pinned digest for {o['kind']} at {self.rows} documents"
            elif got != want:
                o["err"] = f"digest {got[:12]} != pinned {want[:12]}"

