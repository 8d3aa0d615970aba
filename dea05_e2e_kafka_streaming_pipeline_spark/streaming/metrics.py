"""Streaming ops metrics — the one custom observability piece SURVEY §4
names for a production deployment (the reference has no metrics at all:
its consumer loop prints nothing but errors,
``ingestion/s3-orders-ingestion.py``).

A ``StreamingQueryListener`` receives every micro-batch's progress
driver-side — rows read, processing rate, batch duration and its
phases, observed DQ counters, sink — with ZERO cost on the executor
path (the engine already computes these; the listener only observes).
Collected rows land in memory and optionally a JSONL file, the shape a
metrics shipper (CloudWatch/Prometheus sidecar) would tail in
production.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Per-micro-batch progress collector.

    ``progress`` holds one dict per completed micro-batch:
    query_id / batch_id / num_input_rows / processed_rows_per_second /
    batch_duration_ms / sink / timestamp, plus ``duration_ms`` (the
    progress's ``durationMs`` phase dict: addBatch, getBatch,
    queryPlanning, walCommit, triggerExecution, ...) and
    ``observed_metrics`` (``observedMetrics``: observation name → its
    counters as a dict, e.g. from :func:`observe_quality`). ``started``
    maps query id → name at start; ``terminated`` maps query id →
    exception string (None for clean stops). Pass ``jsonl_path`` to also
    append each row as a JSON line (the production tail-me file)."""

    def __init__(self, jsonl_path: str | None = None) -> None:
        self.progress: list[dict] = []
        self.started: dict[str, str | None] = {}
        self.terminated: dict[str, str | None] = {}
        self._path = jsonl_path

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self.started[str(event.id)] = event.name

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        row = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "processed_rows_per_second": p.processedRowsPerSecond,
            "batch_duration_ms": getattr(p, "batchDuration", None),
            "sink": p.sink.description,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "observed_metrics": {k: v.asDict() for k, v in p.observedMetrics.items()},
        }
        self.progress.append(row)
        if self._path:
            with open(self._path, "a") as f:
                f.write(json.dumps(row, default=str) + "\n")

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated[str(event.id)] = (
            str(event.exception) if event.exception else None
        )

    def total_input_rows(self) -> int:
        return sum(r["num_input_rows"] for r in self.progress)


@contextmanager
def capture_stream_metrics(spark, jsonl_path: str | None = None):
    """Attach a :class:`MetricsListener` for the duration of a block:

        with capture_stream_metrics(spark) as m:
            ... run streaming queries ...
        assert m.total_input_rows() == expected

    Detaches on exit so test sessions don't accumulate listeners."""
    listener = MetricsListener(jsonl_path)
    spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        spark.streams.removeListener(listener)


def observe_quality(
    df,
    name: str = "dq",
    required: list[str] | None = None,
    value_col: str | None = None,
):
    """Attach inline data-quality counters to a (streaming or batch)
    DataFrame with ``Dataset.observe`` — per micro-batch: row count,
    per-required-column null counts, and an optional value sum. The
    metrics ride the EXISTING pass (Spark accumulates them inside the
    plan — zero extra jobs, zero extra scans, unlike a count()-based
    check) and surface in every ``StreamingQueryProgress`` under
    ``observedMetrics[name]``, where :class:`MetricsListener` or any
    ops shipper can read them.

    This is the streaming-native complement to the batch
    ``DataQualityValidator``: the validator GATES a batch after
    computing its report; ``observe_quality`` emits the same
    completeness counters continuously without touching the data path.
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in required or []:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(28,6)"))
            .cast("double")
            .alias(f"sum_{value_col}")
        )
    return df.observe(name, *aggs)
