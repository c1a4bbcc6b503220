"""``batch_pipeline``: headline query lines from
``bench.HEADLINE`` run one at a time, each as its plan function followed by
one ``.count()``, over one fixed table set; the seed shuffles the order
of the lines in every pass.

The PQ build line uses ``bench._pq_index_build`` as it is (fit + encode +
persist); its result is the persisted code count.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import inputs
from common import Op

PQ_BUILD = "sim_pq_fit_encode"

# Iterative fixed-point and explode-heavy lines plus the outer
# stream-stream join: many Spark jobs per query (checkpoints, broadcasts,
# per-iteration joins, micro-batches).
PIPELINE = [
    "graph_hits", "er_customer_entities", "dedup_minhash_lsh", PQ_BUILD,
    "stream_outer_attribution",
]


class Batch:
    pass_s = 12.0  # one pass on the reference box (4 cores)

    def __init__(self, name: str, queries: list[str], spark, work_dir: str, seed: int,
                 tiny: bool, tracer):
        import bench

        unknown = [q for q in queries if q not in bench.HEADLINE + [PQ_BUILD]]
        if unknown:
            raise ValueError(f"not headline lines: {unknown}")
        from rearview_spark.plans import all_queries

        self.name, self.spark, self.work, self.seed, self.tracer = (
            name, spark, work_dir, seed, tracer)
        self.queries = queries[:2] if tiny else list(queries)
        self.specs = all_queries()
        self.passes = 0
        self.con = None
        self.problems: list[str] = []
        self.compared = 0

    def build(self, rep: int) -> None:
        """One set-up: generate the tables (fixed shape), write them, and
        take each line's expected row count from its oracle SQL in DuckDB."""
        from tools.oracle_check import duck_con

        self.sf_dir = os.path.join(self.work, f"{self.name}-{rep}")
        frames = inputs.tables(inputs.shape_rng())
        inputs.write_tables(frames, self.sf_dir)
        self.index_dir = os.path.join(self.sf_dir, "pq_index")
        if self.con is not None:
            self.con.close()
        self.con = duck_con(self.sf_dir)
        self.expected = {}
        for q in self.queries:
            if q == PQ_BUILD:  # one code row per vector and sub-space (m=4)
                self.expected[q] = 4 * len(frames["embeddings"])
            else:
                sql = self.specs[q]["oracle"]
                self.expected[q] = self.con.execute(
                    f"SELECT count(*) FROM ({sql}) AS oracle"
                ).fetchone()[0]

    def warm(self) -> None:
        """One untimed pass that is also the run's full value check: every
        line's result against its oracle SQL, order-insensitive, through
        ``tools.oracle_check.compare``."""
        from tools.oracle_check import compare

        for q in self.queries:
            self.compared += 1
            try:
                if q == PQ_BUILD:
                    n = self._pq_build()
                    got = [] if n == self.expected[q] else [f"codes: {n} != {self.expected[q]}"]
                else:
                    sdf = self.specs[q]["fn"](self.spark, self.sf_dir).toPandas()
                    got = compare(q, sdf, self.con.execute(self.specs[q]["oracle"]).fetchdf())
            except Exception as e:  # noqa: BLE001 — a raising line is a failed op
                got = [f"raised {e!r}"[:300]]
            if got:
                self.problems.append(f"{q}: " + "; ".join(got))

    def _pq_build(self) -> int:
        import bench

        bench._pq_index_build(self.spark, self.sf_dir, self.index_dir)
        return self.spark.read.parquet(os.path.join(self.index_dir, "pq_codes")).count()

    def instrument(self) -> None:
        pass  # the plan/action split is timed directly in run_pass

    def close(self) -> None:
        if self.con is not None:
            self.con.close()

    def run_pass(self, group) -> list[Op]:
        import bench

        order = np.random.default_rng([self.seed, self.passes]).permutation(self.queries)
        self.passes += 1
        ops = []
        t = self.tracer
        for q in order:
            q = str(q)
            self.spark.catalog.clearCache()
            ok = False
            with group(q) as g:
                t0 = time.perf_counter()
                try:
                    with t.span(f"query.{q}"):
                        if q == PQ_BUILD:
                            with t.span("plan.build"):
                                bench._pq_index_build(self.spark, self.sf_dir, self.index_dir)
                            n = self.expected[q]  # checked once per run in warm()
                        else:
                            with t.span("plan.build"):
                                df = self.specs[q]["fn"](self.spark, self.sf_dir)
                            with t.span("exec.action"):
                                n = df.count()
                    ok = n == self.expected[q]
                except Exception as e:  # noqa: BLE001
                    print(f"{q} raised {e!r}"[:400], file=sys.stderr)
                t1 = time.perf_counter()
            ops.append(Op(q, t0, t1, ok, g.figures))
        return ops

    def outcome(self) -> dict:
        return {
            "attempted": self.compared,
            "failed": len(self.problems),
            "checks": {"compared": self.compared, "problems": self.problems},
            "layer": {},
        }

    @staticmethod
    def layer_metrics(tracer) -> dict[str, float]:
        tot = tracer.totals()
        return {
            "plan.build_s": tot.get("plan.build", (0, 0.0))[1],
            "exec.action_s": tot.get("exec.action", (0, 0.0))[1],
        }
