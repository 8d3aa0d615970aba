"""The ``streaming`` workload: the paper's two stream paths, each drained
in turn by closed-loop ``available_now`` queries, one input chunk per
trigger.

- :class:`Medallion` — orders topic → bronze (``ingest_to_lake``) and
  topic → DQ gate (``dq_gated_sink`` with ``default_orders_validator``)
  → silver or quarantine, then silver → ``incremental_gold_sink`` daily
  sales; ends with ``read_incremental_gold`` checked against the
  generator's exact per-date sums.
- :class:`CdcUpsert` — Debezium envelopes → ``normalize_cdc(keep_meta=
  True, drop_deletes=False)`` → ``stream_upsert_sink`` merging into a
  bucketed parquet silver table preloaded so per-batch cost does not
  drift with run length; ends with the table checked against the
  generator's replay of the changes.

One operation is one chunk on each topic: its latency is the
``triggerExecution`` of every trigger that processed it, summed over
the queries of both paths, and its CPU cost (``op_cpu_ms``) is the CPU
the JVM and the Python driver spend in the drains of both paths,
divided by the number of chunk pairs.
"""

from __future__ import annotations

import json
import os
import sys
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from spans import next_job_id
from common import Workload, p50, pct

N_CUSTOMERS = 15_000
GOLD_KEYS = ["order_date"]
GOLD_SPEC = [("sales", "order_amount", "sum"), ("n_orders", "order_id", "count")]


def drain(query) -> list[dict]:
    """Wait for an ``available_now`` query; return the progress of every
    trigger that processed data, in batch order."""
    query.awaitTermination()
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream query failed: {exc}")
    return [p for p in query.recentProgress if "addBatch" in p["durationMs"]]


def phases(progress: list[dict], *names: str) -> list[float]:
    """Per trigger, the sum of the named ``durationMs`` phases."""
    return [float(sum(p["durationMs"].get(n, 0) for n in names)) for p in progress]


def _spread_evenly(progress: list[dict], n: int) -> list[float]:
    """Per-chunk latency when triggers do not map one-to-one onto chunks:
    the total trigger time shared evenly (the run is failed anyway)."""
    return [sum(phases(progress, "triggerExecution")) / n] * n


def _back_dated() -> float:
    """Modification-time origin for topic files (ten days ago), so the
    file source sees them as settled."""
    return time.time() - 10 * 86400


class _Path:
    """One stream path inside the ``streaming`` workload."""

    def __init__(self, wl: Workload, root: str, n_chunks: int):
        self.wl, self.spark, self.root, self.n = wl, wl.spark, root, n_chunks
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


class Medallion(_Path):
    ROWS = 1000  # orders per chunk

    def setup(self, warm: bool) -> None:
        from pyspark.sql import types as T

        from dea05_e2e_kafka_streaming_pipeline_spark.schemas import ORDERS_SCHEMA

        self.fields = T.StructType(ORDERS_SCHEMA.fields[:4])
        self.silver_schema = T.StructType(
            self.fields.fields + [T.StructField("_kafka_ts", T.TimestampType())]
        )
        dim = self.path("dim", "customer.parquet")
        os.makedirs(os.path.dirname(dim), exist_ok=True)
        pq.write_table(
            pa.table({"customer_id": np.arange(N_CUSTOMERS, dtype=np.int32)}), dim
        )
        self.customers = self.spark.read.parquet(dim)
        seed = self.wl.seed
        chunks, self.expected = gen.orders_topic(seed, self.n, self.ROWS, N_CUSTOMERS)
        gen.write_chunks(self.path("timed", "topic"), chunks, _back_dated())
        if warm:  # one passing and one quarantined chunk (bad_every=2)
            chunks, exp = gen.orders_topic(seed + 1, 2, self.ROWS, N_CUSTOMERS, bad_every=2)
            gen.write_chunks(self.path("warm", "topic"), chunks, _back_dated())
            if self.check_gold(self.flow(self.path("warm"))["gold"], exp):
                raise RuntimeError("warm-up gold view differs from the generator's sums")

    def flow(self, root: str) -> dict:
        from dea05_e2e_kafka_streaming_pipeline_spark.plans.medallion import (
            default_orders_validator,
        )
        from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
            dq_gated_sink,
            incremental_gold_sink,
            ingest_to_lake,
            read_incremental_gold,
        )
        from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
            file_stream,
            kafka_json_stream_surrogate,
        )

        spark, customers = self.spark, self.customers
        out: dict = {"jobs": {}, "drain_s": 0.0}

        def run(name, query):
            j0, t0 = next_job_id(spark), time.perf_counter()
            out[name] = drain(query())
            out["drain_s"] += time.perf_counter() - t0
            out["jobs"][name] = next_job_id(spark) - j0

        def topic():
            return kafka_json_stream_surrogate(
                spark, os.path.join(root, "topic"), self.fields, max_offsets_per_trigger=1
            )

        def at(*parts):
            return os.path.join(root, *parts)

        run(
            "bronze",
            lambda: ingest_to_lake(
                topic(), at("bronze"), at("cp", "bronze"), available_now=True
            ),
        )
        run(
            "silver",
            lambda: dq_gated_sink(
                topic(),
                lambda df: default_orders_validator(df, customers),
                at("silver"),
                at("quarantine"),
                at("cp", "silver"),
                available_now=True,
            ),
        )
        run(
            "goldq",
            lambda: incremental_gold_sink(
                file_stream(
                    spark,
                    at("silver"),
                    self.silver_schema,
                    fmt="parquet",
                    max_files_per_trigger=1,
                ),
                at("gold"),
                at("cp", "gold"),
                GOLD_KEYS,
                GOLD_SPEC,
                available_now=True,
            ),
        )
        t = time.perf_counter()
        out["gold"] = read_incremental_gold(spark, at("gold"), GOLD_KEYS, GOLD_SPEC).collect()
        out["gold_read_ms"] = (time.perf_counter() - t) * 1000.0
        return out

    @staticmethod
    def check_gold(rows, expected: dict) -> list[str]:
        """Dates whose gold row differs from the generator's exact sums."""
        want = expected["gold"]
        got = {r.order_date.date().isoformat(): (r.sales, r.n_orders) for r in rows}
        bad = [d for d in set(want) ^ set(got)]
        for d in set(want) & set(got):
            cents, n = want[d]
            if got[d] != (cents / 100, n):
                bad.append(d)
        return bad

    def routed(self) -> tuple[np.ndarray, np.ndarray]:
        """Rows per chunk found in silver and in quarantine, read from the
        files without Spark."""
        silver = ds.dataset(self.path("timed", "silver"), format="parquet")
        ids = silver.to_table(columns=["order_id"]).column("order_id").to_numpy()
        q_ids: list[int] = []
        qdir = self.path("timed", "quarantine")
        for name in sorted(os.listdir(qdir)) if os.path.isdir(qdir) else []:
            if name.startswith("part-"):
                with open(os.path.join(qdir, name)) as f:
                    q_ids += [json.loads(line)["order_id"] for line in f if line.strip()]

        def per_chunk(a) -> np.ndarray:
            return np.bincount(np.asarray(a, dtype=np.int64) // self.ROWS, minlength=self.n)

        return per_chunk(ids), per_chunk(q_ids)

    def run(self) -> tuple[list[float], set[int]]:
        """Drain, check; return per-chunk latency and the failed chunks."""
        cpu0 = self.wl.cpu()
        out = self.flow(self.path("timed"))
        self.cpu_s = self.wl.cpu() - cpu0
        t = time.perf_counter()
        bad_dates = self.check_gold(out["gold"], self.expected)
        in_silver, in_quarantine = self.routed()
        self.check_s = time.perf_counter() - t
        self.drain_s = out["drain_s"]
        bad_chunks = set(self.expected["bad_chunks"])
        failed = set()
        for c in range(self.n):
            want = (0, self.ROWS) if c in bad_chunks else (self.ROWS, 0)
            if (int(in_silver[c]), int(in_quarantine[c])) != want:
                failed.add(c)
        if len(in_silver) > self.n or len(in_quarantine) > self.n:
            failed = set(range(self.n))  # rows outside any chunk's id range
        if bad_dates:
            print(f"gold differs on {len(bad_dates)} dates", file=sys.stderr)
            failed = set(range(self.n))
        self.progress = out["bronze"] + out["silver"] + out["goldq"]
        passed = [c for c in range(self.n) if c not in bad_chunks]
        triggers = (len(out["bronze"]), len(out["silver"]), len(out["goldq"]))
        if triggers != (self.n, self.n, len(passed)):
            print(f"medallion triggers {triggers} for {self.n} chunks", file=sys.stderr)
            return _spread_evenly(self.progress, self.n), set(range(self.n))
        # a chunk's bronze and silver triggers, plus the gold trigger of
        # its silver file when it passed the gate
        lat = [
            b["durationMs"]["triggerExecution"] + s["durationMs"]["triggerExecution"]
            for b, s in zip(out["bronze"], out["silver"])
        ]
        for c, g in zip(passed, out["goldq"]):
            lat[c] += g["durationMs"]["triggerExecution"]
        if self.wl.tracer is not None:
            self.trace_layer(out)
        return lat, failed

    def trace_layer(self, out: dict) -> None:
        tr, rows = self.wl.tracer, self.expected["rows"]
        bronze_files = sum(
            f.startswith("part-")
            for _, _, files in os.walk(self.path("timed", "bronze"))
            for f in files
        )
        gold = self.path("timed", "gold")
        epochs = [e for e in os.listdir(gold) if e.startswith("epoch=")]
        state_rows = sum(
            pq.ParquetFile(os.path.join(gold, e, f)).metadata.num_rows
            for e in epochs
            for f in os.listdir(os.path.join(gold, e))
            if f.startswith("part-")
        )
        nb, ns = len(out["bronze"]), len(out["silver"])
        self.layer = {
            "bronze.add_batch_ms_p50": p50(phases(out["bronze"], "addBatch")),
            "bronze.jobs_per_batch": out["jobs"]["bronze"] / nb,
            "bronze.files_per_batch": bronze_files / nb,
            "quality.passed_ms_p50": p50(tr.durations_ms("quality.passed")),
            "quality.write_ms_p50": p50(tr.self_ms("quality.gate")),
            "silver.jobs_per_batch": out["jobs"]["silver"] / ns,
            "silver.source_reads_per_row": sum(p["numInputRows"] for p in out["silver"])
            / rows,
            "gold.add_batch_ms_p50": p50(phases(out["goldq"], "addBatch")),
            "gold.jobs_per_batch": out["jobs"]["goldq"] / max(1, len(out["goldq"])),
            "gold.state_rows_per_batch": state_rows / max(1, len(epochs)),
            "gold.epoch_dirs": float(len(epochs)),
            "gold.read_ms": out["gold_read_ms"],
        }


def _decimal_cents(cents: np.ndarray) -> pa.Array:
    """Amounts in cents as the ``decimal(10,2)`` the CDC schema uses."""
    return pa.array([Decimal(int(c)).scaleb(-2) for c in cents], pa.decimal128(10, 2))


def _part_files(target: str) -> dict[str, int]:
    """Data files under a table directory with their sizes."""
    out = {}
    for d, _, files in os.walk(target):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class CdcUpsert(_Path):
    ROWS = 400  # changes per chunk
    PRELOAD = 20_000  # target rows before the first change
    BUCKETS = 16

    def setup(self) -> None:
        from dea05_e2e_kafka_streaming_pipeline_spark.schemas import CDC_ORDERS_ENVELOPE

        self.schema = CDC_ORDERS_ENVELOPE
        seed = self.wl.seed
        base = gen.cdc_base(seed, self.PRELOAD, N_CUSTOMERS)
        chunks, self.expected = gen.cdc_topic(seed, base, self.n, self.ROWS, N_CUSTOMERS)
        gen.write_chunks(self.path("timed", "topic"), chunks, _back_dated())
        # the preload runs the same merge the stream applies per batch,
        # and the medallion warm-up has already run the topic source
        self.preload(self.path("timed"), base)

    def preload(self, root: str, base: dict[str, np.ndarray]) -> None:
        """Write the target through the same merge the stream applies."""
        from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
            upsert_batch_into_parquet,
        )

        n = len(base["order_id"])
        src = os.path.join(root, "preload.parquet")
        os.makedirs(root, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "order_id": base["order_id"].astype(np.int32),
                    "order_date": base["order_date"].astype(np.int32),
                    "order_amount": _decimal_cents(base["order_amount"]),
                    "customer_id": base["customer_id"].astype(np.int32),
                    "_cdc_op": pa.array(["r"] * n),
                    "_cdc_ts_ms": np.zeros(n, dtype=np.int64),
                }
            ),
            src,
        )
        upsert_batch_into_parquet(
            self.spark.read.parquet(src),
            os.path.join(root, "silver"),
            "order_id",
            n_buckets=self.BUCKETS,
        )

    def flow(self, root: str) -> dict:
        from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import normalize_cdc
        from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
            stream_upsert_sink,
        )
        from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
            kafka_json_stream_surrogate,
        )

        changes = normalize_cdc(
            kafka_json_stream_surrogate(
                self.spark, os.path.join(root, "topic"), self.schema, max_offsets_per_trigger=1
            ),
            keep_meta=True,
            drop_deletes=False,
        )
        j0, t0 = next_job_id(self.spark), time.perf_counter()
        progress = drain(
            stream_upsert_sink(
                changes,
                os.path.join(root, "silver"),
                os.path.join(root, "cp"),
                "order_id",
                n_buckets=self.BUCKETS,
                available_now=True,
            )
        )
        return {
            "progress": progress,
            "jobs": next_job_id(self.spark) - j0,
            "drain_s": time.perf_counter() - t0,
        }

    @staticmethod
    def mismatches(root: str, state: dict) -> set[int]:
        """Keys whose final silver row differs from the replay (or that
        landed twice), read from the files without Spark."""
        t = ds.dataset(
            os.path.join(root, "silver"), format="parquet", partitioning="hive"
        ).to_table(columns=gen.CDC_COLUMNS)
        ids = t.column("order_id").to_pylist()
        got = {
            k: (d, int(a.scaleb(2)), c)
            for k, d, a, c in zip(
                ids,
                t.column("order_date").to_pylist(),
                t.column("order_amount").to_pylist(),
                t.column("customer_id").to_pylist(),
            )
        }
        bad = {k for k in set(got) | set(state) if got.get(k) != state.get(k)}
        if len(ids) != len(got):
            seen: set[int] = set()
            bad |= {k for k in ids if k in seen or seen.add(k)}
        return bad

    def run(self) -> tuple[list[float], set[int]]:
        cpu0 = self.wl.cpu()
        out = self.flow(self.path("timed"))
        self.cpu_s = self.wl.cpu() - cpu0
        t = time.perf_counter()
        bad_keys = self.mismatches(self.path("timed"), self.expected["state"])
        self.check_s = time.perf_counter() - t
        self.drain_s = out["drain_s"]
        # a wrong key fails the chunk that changed it last; a wrong key
        # no chunk touched means the preload is wrong: every chunk fails
        last = self.expected["last_chunk"]
        failed = {last.get(k, -1) for k in bad_keys}
        if -1 in failed:
            failed = set(range(self.n))
        if bad_keys:
            print(f"cdc silver differs on {len(bad_keys)} keys", file=sys.stderr)
        self.progress = out["progress"]
        if len(self.progress) != self.n:
            print(f"cdc triggers {len(self.progress)} for {self.n} chunks", file=sys.stderr)
            return _spread_evenly(self.progress, self.n), set(range(self.n))
        if self.wl.tracer is not None:
            n, rows = len(out["progress"]), self.expected["rows"]
            self.layer = {
                "cdc.upsert_ms_p50": p50(self.wl.tracer.durations_ms("cdc.upsert")),
                "cdc.jobs_per_batch": out["jobs"] / n,
                "cdc.source_reads_per_row": sum(p["numInputRows"] for p in out["progress"])
                / rows,
                "cdc.buckets_touched_per_batch": p50(self.touched),
                "cdc.rewrite_bytes_per_change": sum(self.rewritten) / rows,
            }
        return phases(out["progress"], "triggerExecution"), failed

    def trace_upserts(self, tracer) -> None:
        """Span ``upsert_batch_into_parquet`` and record the bucket
        directories each call rewrote and the bytes it wrote (listed
        outside the span)."""
        from dea05_e2e_kafka_streaming_pipeline_spark.streaming import pipeline

        original = pipeline.upsert_batch_into_parquet
        self.touched: list[int] = []
        self.rewritten: list[int] = []

        def wrapper(batch, target_dir, *args, **kwargs):
            before = _part_files(target_dir)
            with tracer.span("cdc.upsert"):
                original(batch, target_dir, *args, **kwargs)
            after = _part_files(target_dir)
            new = set(after) - set(before)
            self.touched.append(len({os.path.dirname(p) for p in new}))
            self.rewritten.append(sum(after[p] for p in new))

        tracer.replace(pipeline, "upsert_batch_into_parquet", wrapper)


class Streaming(Workload):
    """Both stream paths over ``n`` chunks each, medallion first."""

    name = "streaming"
    OP_S = 5.0  # run seconds per chunk pair on a 4-core host

    def __init__(self, *args, warm: bool = True, **kwargs):
        super().__init__(*args, **kwargs)
        self.n = max(2, round(self.seconds / self.OP_S))
        self.warm = warm
        self.medallion = Medallion(self, self.path("medallion"), self.n)
        self.cdc = CdcUpsert(self, self.path("cdc"), self.n)

    def setup(self) -> None:
        self.medallion.setup(self.warm)
        self.log("medallion inputs and warm-up done")
        self.cdc.setup()
        self.log("cdc inputs and preload done")

    def trace(self, tracer) -> None:
        self.cdc.trace_upserts(tracer)

    def run(self) -> dict:
        cpu0, t0 = self.cpu(), time.perf_counter()
        m_lat, m_failed = self.medallion.run()
        t1 = time.perf_counter()
        c_lat, c_failed = self.cdc.run()
        suite_s = time.perf_counter() - t0
        m_cpu, c_cpu = self.medallion.cpu_s, self.cdc.cpu_s
        self.log(
            f"medallion {t1 - t0:.2f}s (drain {self.medallion.drain_s:.2f}s, cpu {m_cpu:.2f}s, "
            f"triggers {[round(x) for x in m_lat]} ms), cdc {t0 + suite_s - t1:.2f}s (drain "
            f"{self.cdc.drain_s:.2f}s, cpu {c_cpu:.2f}s, triggers {[round(x) for x in c_lat]} ms)"
        )
        cpu_s = self.cpu() - cpu0
        lat = [a + b for a, b in zip(m_lat, c_lat)]
        rows = self.medallion.expected["rows"] + self.cdc.expected["rows"]
        if self.tracer is not None:
            every = self.medallion.progress + self.cdc.progress
            trigger_s = sum(phases(every, "triggerExecution")) / 1000.0
            self.layer.update(self.medallion.layer)
            self.layer.update(self.cdc.layer)
            self.layer.update(
                {
                    "sources.latest_offset_ms_p50": p50(phases(every, "latestOffset")),
                    "sources.get_batch_ms_p50": p50(phases(every, "getBatch")),
                    "stream.commit_ms_p50": p50(phases(every, "walCommit", "commitOffsets")),
                    "stream.planning_ms_p50": p50(phases(every, "queryPlanning")),
                    "stream.trigger_s": trigger_s,
                    # drain time outside any trigger: query start and stop
                    "stream.query_start_stop_s": self.medallion.drain_s
                    + self.cdc.drain_s
                    - trigger_s,
                    "stream.check_s": self.medallion.check_s + self.cdc.check_s,
                    "stream.rows_per_s": rows / suite_s,
                    "stream.batch_ms_p90": pct(lat, 90),
                    "medallion.cpu_ms_per_chunk": m_cpu * 1000.0 / self.n,
                    "cdc.cpu_ms_per_chunk": c_cpu * 1000.0 / self.n,
                }
            )
        return {
            "attempted": self.n,
            "failed": len(m_failed | c_failed),
            "suite_s": suite_s,
            "op_ms": lat,
            "op_cpu_ms": (m_cpu + c_cpu) * 1000.0 / self.n,
            "cpu_s": cpu_s,
            "rows": rows,
        }
