"""The ``batch_queries`` workload: a fixed list of registered catalog
queries with DuckDB oracles, run one at a time over seeded tables.

Half of the list builds eagerly (its DataFrame construction runs Spark
jobs), half lazily, so the build layer and the execution layer show
apart. Results are compared with the oracles after the timed passes.
"""

from __future__ import annotations

import sys
import time
import traceback

import gen
from common import Workload, p50
from spans import StageMetrics, next_job_id

# Half of the list builds eagerly: its DataFrame construction runs Spark
# jobs (CC loops, BPE merge rounds, global row numbering, rank fetches).
EAGER = [
    "bpe_merges_docs",
    "dedup_cc_components",
    "customer_pareto_deciles",
]
# The other half builds lazily (no job at build) and spends its time in
# execution.
LAZY = [
    "daily_sales_by_region",
    "edit_distance_pairs",
    "tfidf_cosine_pairs",
]


def _normalize(df):
    """Order-insensitive, dtype-insensitive form of a result frame (the
    comparison the repository's oracle tests make)."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


class BatchQueries(Workload):
    """A fixed list of registered catalog queries with DuckDB oracles,
    half eager-building and half lazy, run one at a time over seeded
    tables at ``SF``. Every timed pass reads its own copy of the tables,
    so the per-process caches keyed by table directory (BPE state, IVF
    layouts, txlog tables) do their work in every pass; the warm-up runs
    the same list over other tables at ``WARM_SF``."""

    name = "batch_queries"
    OP_S = 20.0  # run seconds per pass: a pass ~10 s, its cold warm-up ~20 s
    SF = 0.01
    WARM_SF = 0.002

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.n_passes = max(1, round(self.seconds / self.OP_S))
        self.names = EAGER + LAZY

    def setup(self) -> None:
        from dea05_e2e_kafka_streaming_pipeline_spark import queries as registry

        self.fns = registry.queries()
        self.oracles = registry.oracles()
        gen.write_tables(self.path("warm"), gen.tables(self.WARM_SF, self.seed + 1))
        tabs = gen.tables(self.SF, self.seed)
        for p in range(self.n_passes):
            gen.write_tables(self.path(f"pass{p}"), tabs)
        self.log("tables written")
        for name in self.names:
            t = time.perf_counter()
            self.fns[name](self.spark, self.path("warm")).toPandas()
            self.log(f"warm {name} {time.perf_counter() - t:.2f}s")

    def run(self) -> dict:
        stages = StageMetrics(self.spark) if self.tracer is not None else None
        recs: list[dict] = []
        pass_s, pass_cpu, op_cpu_ms = [], [], []
        for p in range(self.n_passes):
            sf_dir = self.path(f"pass{p}")
            cpu0, total, cpu = self.cpu(), 0.0, 0.0
            for name in self.names:
                self.set_op(f"{name}#{p}")
                rec = {"name": name, "pass": p, "eager": name in EAGER}
                c0, j0, t0 = self.cpu(), next_job_id(self.spark), time.perf_counter()
                try:
                    df = self.fns[name](self.spark, sf_dir)
                    t1, j1 = time.perf_counter(), next_job_id(self.spark)
                    rec["result"] = df.toPandas()
                    t2, j2 = time.perf_counter(), next_job_id(self.spark)
                except Exception:  # noqa: BLE001 - a failing query is a failed op
                    traceback.print_exc()
                    t1 = t2 = time.perf_counter()
                    j1 = j2 = next_job_id(self.spark)
                    rec["error"] = True
                rec.update(
                    build_s=t1 - t0,
                    exec_s=t2 - t1,
                    build_jobs=j1 - j0,
                    exec_jobs=j2 - j1,
                    cpu_s=self.cpu() - c0,
                )
                total += t2 - t0
                cpu += rec["cpu_s"]
                if stages is not None and "error" not in rec:
                    rec.update(stages.delta())
                    rec["catalyst_ms"] = _catalyst_ms(df)
                recs.append(rec)
                self.log(
                    f"pass {p} {name} build {rec['build_s']:.2f}s/{rec['build_jobs']}j "
                    f"exec {rec['exec_s']:.2f}s/{rec['exec_jobs']}j cpu {rec['cpu_s']:.2f}s"
                )
            pass_s.append(total)
            pass_cpu.append(self.cpu() - cpu0)
            op_cpu_ms.append(cpu * 1000.0 / len(self.names))
        self.set_op(None)
        failed = sum(1 for r in recs if "error" in r or not self.check(r))
        if self.tracer is not None:
            self.batch_layer(recs)
        return {
            "attempted": len(recs),
            "failed": failed,
            "suite_s": p50(pass_s),
            "op_ms": [(r["build_s"] + r["exec_s"]) * 1000.0 for r in recs],
            "op_cpu_ms": p50(op_cpu_ms),
            "cpu_s": p50(pass_cpu),
        }

    def check(self, rec: dict) -> bool:
        """Compare a result with its DuckDB oracle over the same tables
        (outside the timed region)."""
        if not hasattr(self, "_want"):
            import duckdb

            from dea05_e2e_kafka_streaming_pipeline_spark.schemas import TESTDATA_TABLES

            con = duckdb.connect()
            for t in TESTDATA_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.path('pass0', t)}.parquet'"
                )
            self._want = {n: _normalize(con.execute(self.oracles[n]).df()) for n in self.names}
            con.close()
        got = _normalize(rec["result"])
        want = self._want[rec["name"]]
        ok = list(got.columns) == list(want.columns) and got.equals(want)
        if not ok:
            print(f"{rec['name']}: result differs from its oracle", file=sys.stderr)
        return ok

    def batch_layer(self, recs: list[dict]) -> None:
        ok = [r for r in recs if "error" not in r]
        n = max(1, self.n_passes)

        def per_pass(key, eager=None):
            return sum(r[key] for r in ok if eager is None or r["eager"] == eager) / n

        self.layer.update(
            {
                "batch.build_s.eager": per_pass("build_s", True),
                "batch.build_s.lazy": per_pass("build_s", False),
                "batch.build_jobs.eager": per_pass("build_jobs", True),
                "batch.build_jobs.lazy": per_pass("build_jobs", False),
                "batch.catalyst_ms": per_pass("catalyst_ms"),
                "batch.exec_s": per_pass("exec_s"),
                "batch.exec_jobs": per_pass("exec_jobs"),
                "batch.task_cpu_s": per_pass("task_cpu_s"),
                "batch.shuffle_write_mb": per_pass("shuffle_write_mb"),
                "batch.spill_mb": per_pass("spill_mb"),
                "batch.gc_s": per_pass("gc_s"),
            }
        )


def _catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the query's final
    QueryExecution, from its phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)

