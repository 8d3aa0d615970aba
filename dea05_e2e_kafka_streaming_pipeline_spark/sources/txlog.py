"""Versioned snapshot log over plain parquet — table-format-lite.

The reference's Delta features (S10/S18: snapshot isolation, history,
time travel — ``mage-programs/orders_delta_lake.py:61-63``,
``delta_metadata.py:114-116``) are jar-gated in this container; this
module reproduces the READ-side semantics those features actually give a
pipeline, on nothing but parquet + JSON manifests:

- a **snapshot** is a manifest file ``_log/v00000N.json`` listing the
  exact data files (with sizes) that version comprises;
- **committing** = writing version N's data files under ``data-vN/``
  (never touching a published file), then atomically publishing
  manifest N (:func:`write_json_atomic`: write-temp + rename — the same
  single-file atomic-publish trick Delta's ``_last_checkpoint`` uses).
  :func:`commit_snapshot` appends or logically overwrites;
  :func:`commit_buckets` swaps the file lists of the buckets a CDC
  merge touched (``streaming/pipeline.py:upsert_batch_into_parquet``),
  Delta's add/remove actions. Both publish through :func:`_commit`;
- **reading as of version N** = scanning exactly the files in manifest
  N, through :func:`read_snapshot` — a plain parquet read of the table
  directory sees every version's files. Old versions stay readable
  until their files are vacuumed.

A bucketed table records ``n_buckets`` in each manifest and keeps
bucket ``b``'s files under ``data-vN/bucket=b/``, so a merge reads and
replaces only the buckets its batch touches: O(touched buckets).

This is the one module that knows the log format: a directory of
``vNNNNNN.json`` manifests, latest = highest number
(:func:`log_versions`, :func:`resolve_version`, :func:`manifest_path`).
The versioned ANN store (``operators/similarity.py:ann_store_*``)
keeps its own log, ``_ann_log/``, through the same three functions.

What this deliberately does NOT provide: multi-writer conflict
resolution (Delta's optimistic concurrency) — single-writer-per-table
(and per ANN store) is the contract, which matches the reference's
job-per-table layout. File operations are the driver's local ``os``
calls.

At 100 TB the manifest is metadata (one JSON row per file); scan
planning cost is the listing it replaces.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_BUCKET = "bucket"


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def manifest_path(log_dir: str, version: int) -> str:
    """Path of version ``version``'s manifest in ``log_dir``."""
    return os.path.join(log_dir, f"v{version:06d}.json")


def log_versions(log_dir: str) -> list[int]:
    """Versions published in ``log_dir``, ascending (empty if none)."""
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(log_dir)
        if f.startswith("v") and f.endswith(".json")
    )


def resolve_version(log_dir: str, version: int | None = None) -> int:
    """``version`` checked against ``log_dir``'s published versions;
    ``None`` resolves to the latest. A reader resolves ONCE and keeps
    the number: later publishes never change what it reads."""
    versions = log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {log_dir}")
    if version is None:
        return versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return version


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` through a temp file and one
    rename (creating the parent directory), so a reader sees the old
    file or the new one, never a torn write. Every manifest of both
    logs, and every ANN state file, is written here."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def snapshot_versions(table_path: str) -> list[int]:
    """Committed versions, ascending (empty if never committed)."""
    return log_versions(_log_path(table_path))


def _manifest(table_path: str, version: int) -> dict:
    with open(manifest_path(_log_path(table_path), version)) as f:
        return json.load(f)


def commit_snapshot(df: DataFrame, table_path: str, mode: str = "append") -> int:
    """Write ``df`` as new data files and publish the next snapshot
    version. ``mode="append"``: the new version = previous version's
    files + the new files; ``mode="overwrite"``: the new version = only
    the new files (the OLD files stay on disk, so prior versions remain
    readable — logical overwrite, physical append).
    Returns the committed version number."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite: {mode!r}")
    return _commit(df, table_path, mode, None, lambda f: mode == "append")


def commit_buckets(
    df: DataFrame, table_path: str, buckets: list[int], n_buckets: int
) -> int:
    """Publish the next version of a table bucketed ``n_buckets`` ways
    with the files of ``buckets`` replaced by ``df``'s, which carries an
    int ``bucket`` column. A listed bucket ``df`` has no row for drops
    out; every other bucket keeps its files. Returns the version."""
    _bucketed_files(table_path, n_buckets)
    touched = _in_buckets(buckets)
    return _commit(df, table_path, "merge", n_buckets, lambda f: not touched(f))


def _commit(df: DataFrame, table_path: str, mode: str, n_buckets, keep) -> int:
    """Write ``df`` as version N's files under ``data-vN/`` (partitioned
    by bucket when ``n_buckets`` is set), then publish manifest N = the
    previous version's files that ``keep`` accepts + the new files, and
    the schema of ``df``'s files (a bucket column is in the path, not
    the file), so a version with no file still reads. The
    write overwrites ``data-vN``: no manifest lists it, so anything
    there is what a failed attempt at N left, and the retry is N too."""
    versions = snapshot_versions(table_path)
    version = (versions[-1] + 1) if versions else 0
    prev = _manifest(table_path, versions[-1])["files"] if versions else []
    data_dir = os.path.join(table_path, f"data-v{version:06d}")
    writer = df.write.mode("overwrite")
    if n_buckets is not None:
        writer = writer.partitionBy(_BUCKET)
    writer.parquet(data_dir)
    file_schema = df.drop(_BUCKET).schema if n_buckets is not None else df.schema
    new_files = sorted(
        os.path.relpath(os.path.join(d, f), table_path)
        for d, _, names in os.walk(data_dir)
        for f in names
        if f.endswith(".parquet")
    )
    manifest = {
        "version": version,
        "mode": mode,
        "n_buckets": n_buckets,
        "schema": file_schema.json(),
        "files": [f for f in prev if keep(f)] + new_files,
        "sizes": {
            f: os.path.getsize(os.path.join(table_path, f)) for f in new_files
        },
    }
    write_json_atomic(manifest_path(_log_path(table_path), version), manifest)
    return version


def _in_buckets(buckets: list[int]):
    """Predicate: is the file ``data-vN/bucket=b/…`` in ``buckets``."""
    dirs = {f"{_BUCKET}={b}" for b in buckets}
    return lambda f: f.split(os.sep)[1] in dirs


def _bucketed_files(table_path: str, n_buckets: int) -> list[str]:
    """The latest version's files (none before the first commit). A
    table bucketed another way raises: the merge would read the wrong
    buckets and leave a second row for every key it moves."""
    versions = snapshot_versions(table_path)
    if not versions:
        return []
    m = _manifest(table_path, versions[-1])
    if m.get("n_buckets") != n_buckets:
        raise ValueError(
            f"{table_path} has n_buckets={m.get('n_buckets')}, not {n_buckets}"
        )
    return m["files"]


def read_buckets(
    spark: SparkSession, table_path: str, buckets: list[int], n_buckets: int
) -> DataFrame | None:
    """Scan only ``buckets`` of the latest version of a table bucketed
    ``n_buckets`` ways — no other file is opened. ``None`` when those
    buckets hold no file."""
    files = filter(_in_buckets(buckets), _bucketed_files(table_path, n_buckets))
    paths = [os.path.join(table_path, f) for f in files]
    return spark.read.parquet(*paths) if paths else None


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Scan the table AS OF ``version`` (default: latest). Reads exactly
    the manifest's file list — concurrent later commits are invisible
    (snapshot isolation for readers). A version with no file (a merge
    that deleted every key) reads as an empty frame of the manifest's
    schema."""
    version = resolve_version(_log_path(table_path), version)
    m = _manifest(table_path, version)
    if m["files"]:
        return spark.read.parquet(*[os.path.join(table_path, f) for f in m["files"]])
    if "schema" not in m:  # published before manifests recorded one
        raise ValueError(f"version {version} has no files")
    return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))


def snapshot_history(table_path: str) -> list[dict]:
    """History rows (version, mode, file count, byte total) — the
    jar-less answer to ``DeltaTable.history()``."""
    out = []
    for v in snapshot_versions(table_path):
        m = _manifest(table_path, v)
        out.append(
            {
                "version": v,
                "mode": m["mode"],
                "n_files": len(m["files"]),
                "added_bytes": sum(m.get("sizes", {}).values()),
            }
        )
    return out


def vacuum_snapshots(table_path: str, keep_last: int = 1) -> list[str]:
    """Retention for superseded versions: drop the manifests older than
    the last ``keep_last`` versions, then clear the data directories
    older than the oldest kept version of every file no kept manifest
    lists (``.crc`` sidecars and ``_SUCCESS`` markers included) and of
    the directories left empty. Time travel works up to the vacuum
    horizon — exactly Delta's VACUUM contract. Manifests go first, so
    an interrupted vacuum leaves files the next one removes. Returns
    the removed data files."""
    versions = snapshot_versions(table_path)
    if len(versions) <= keep_last:
        return []
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    live: set[str] = set()
    for v in keep:
        live.update(_manifest(table_path, v)["files"])
    for v in drop:
        os.remove(manifest_path(_log_path(table_path), v))
    removed = []
    for name in os.listdir(table_path):
        if not name.startswith("data-v") or int(name[6:]) >= keep[0]:
            continue
        for d, _, names in os.walk(os.path.join(table_path, name), topdown=False):
            for f in names:
                rel = os.path.relpath(os.path.join(d, f), table_path)
                if f.endswith(".crc"):  # Hadoop's sidecar ".<name>.crc"
                    rel_data = os.path.join(os.path.dirname(rel), f[1:-4])
                else:
                    rel_data = rel
                if rel_data in live:
                    continue
                os.remove(os.path.join(d, f))
                if f.endswith(".parquet"):
                    removed.append(rel)
            if not os.listdir(d):
                os.rmdir(d)
    return sorted(removed)


def snapshot_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: tuple[str, ...] = (),
    compare_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Row-level change feed between two committed versions — the
    jar-less ``table_changes(from, to)`` (Delta's Change Data Feed
    read surface, delta.io docs): every insert/update/delete a consumer
    would need to catch up from ``from_version`` to ``to_version``
    (default: latest), as ``op`` ∈ i/u/d rows via
    :func:`~..operators.cdc.snapshot_diff`.

    Delta materializes CDF files at write time; here the feed derives
    from the two retained snapshots with ONE full-outer key join —
    same information, zero write-path cost, valid as long as VACUUM
    keeps ``from_version`` (a vacuumed version raises, same as Delta's
    out-of-range CDF read)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import snapshot_diff

    if not key_cols:
        raise ValueError("key_cols is required to align versions")
    old = read_snapshot(spark, table_path, from_version)
    new = read_snapshot(spark, table_path, to_version)
    return snapshot_diff(old, new, key_cols, compare_cols)
