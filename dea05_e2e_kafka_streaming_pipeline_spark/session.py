"""SparkSession factory.

Carries forward the reference's proven runtime configuration (AQE enabled,
per ``enriched/custome_lifetime_value.py:9``) and adds the settings a
100 TB deployment wants on by default: adaptive partition coalescing,
skew-join handling, Arrow-based Python interop, and a UTC session timezone
so results are reproducible against external oracles regardless of host
timezone.

In production the same builder runs under YARN/K8s with executors; locally
it runs ``local[N]``. Only ``master`` and memory sizing differ — the
query code is identical, which is the point of declaring plans and letting
Catalyst pick physical strategies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the local test harness; a cluster deployment overrides via
# spark-submit --conf. shuffle.partitions ≈ total cores keeps local runs
# from over-parallelizing; AQE coalesces further at runtime.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Runtime filters for the joins AQE can't broadcast: when one side
    # of a shuffle join carries a selective filter, inject a bloom
    # filter of its join keys into the other side's scan — at 100 TB
    # this is the difference between shuffling the full fact table and
    # shuffling only rows that can possibly match. Explicit (it IS the
    # Spark default) because tests/test_runtime_filters.py pins the
    # behavior; thresholds stay at defaults (creation side ≤ 10 MB
    # post-filter, application side ≥ 10 GB scan).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # partition-column joins against filtered dims prune fact partitions
    # at runtime (also the default; pinned by the same test module)
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # Session-wide policy, set HERE rather than toggled per-read (a
    # per-read toggle would silently change the meaning of later reads):
    # parquet TIMESTAMP(NANOS) columns always arrive as nanosecond longs
    # — callers convert explicitly (see sources/registry.py:load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # file sources: bound split size so a 100 TB table yields sane task counts
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    # recursive CTEs: the default 1M-ROW safety valve trips on any
    # corpus-scale hierarchy (the referral closure emits ~5 rows per
    # customer — 7.5M at the x100 tier). Depth stays guarded by
    # cteRecursionLevelLimit (default 100); rows are data-sized, so the
    # row valve is raised to a number that only a runaway (cyclic)
    # recursion would reach.
    "spark.sql.cteRecursionRowLimit": "1000000000",
    # Streaming checkpoint log (offsets, commits, state metadata) through
    # the Hadoop FileSystem API rather than FileContext. Without the
    # native Hadoop library, FileContext.rename calls getFileLinkStatus
    # on both paths and each call starts a `readlink` process — about
    # half the processes a micro-batch stream started; FileSystem.rename
    # on the local file system is File.renameTo, in process. Both
    # managers write a temp file and rename it to the batch's fresh
    # name: atomic on the local file system and HDFS, non-atomic on S3A
    # under either. This manager checks that the name is still free
    # before its rename instead of the rename refusing to overwrite, so
    # two runs of one query racing on one batch are not told apart by
    # the file system; one writer per checkpoint is the contract anyway.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": "-Djava.security.manager=allow",
}


def get_spark(
    app_name: str = "dea05_e2e_kafka_streaming_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — the driver harness runs local
    mode; a real deployment passes its own master / uses spark-submit.

    ``rocksdb_state_store=True`` switches Structured Streaming state to
    the RocksDB provider — required once stateful-operator state (e.g.
    ``dedup_stream``'s global fingerprint set, large stream-stream join
    buffers) outgrows executor heap; the default in-memory HDFS-backed
    provider is right for tests and bounded-state queries.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Local mode runs driver and executors in ONE JVM whose heap
    # defaults to 1g — fine at sf0.1 (17 MB of parquet), an instant
    # OutOfMemoryError at the persisted 10x tier (185 MB parquet, GBs of
    # shuffle intermediates across 32 threads). Size it like the
    # single node it is; a cluster deployment sizes executors via
    # spark-submit and this setting only affects its driver.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    confs = dict(_DEFAULT_CONFS)
    confs["spark.driver.memory"] = driver_mem
    confs["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    if rocksdb_state_store:
        confs["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    # env escape hatch for harness-level conf overrides (e.g. the x100
    # spill bench constrains execution memory without code changes):
    # SPARK_GRAFT_EXTRA_CONFS="spark.memory.fraction=0.2;spark.foo=bar"
    env_confs = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for pair in filter(None, (p.strip() for p in env_confs.split(";"))):
        k, _, v = pair.partition("=")
        confs[k.strip()] = v.strip()
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if any (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
