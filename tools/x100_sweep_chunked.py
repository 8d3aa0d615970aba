#!/usr/bin/env python
"""Value-hash correctness sweep AT THE x100 SPILL TIER: the same
engine-vs-DuckDB rows/schema/value-hash contract as the sf0.01 driver
sweep and tools/x10_sweep.py, run against ``testdata_x100/sf10`` (60M
lineitem / 500k docs / 200k vectors) under the constrained 8 GiB heap —
so the external sort/shuffle/agg paths that measurably SPILLED in
BENCH_x100_subset.json are proven VALUE-PRESERVING, not just
non-crashing.

CHUNKED across subprocesses: a single-process x100 sweep dies with a
DuckDB ``bad allocation`` in a FRESH connection after ~76
multi-million-row compares — per-query connection recycling
(selfcheck.run_sweep) is not enough, because glibc never returns the
freed buffer-pool pages to the OS and the process RSS ratchets until an
8-byte allocation fails (observed rounds 7, 8 AND 9). Process death is
the only reliable allocator reset, so this runner executes the sweep in
chunks of ``--chunk-size`` queries, one subprocess each (each with its
own SparkSession and DuckDB), then merges the per-chunk detail files
and re-runs the rows-only companion adjudication over the MERGED detail
(a companion can land in a different chunk).

Exclusions — each by documented necessity, never convenience
(tools/x10_sweep.py documents the x10 ancestry of each class):

- QUADRATIC_ORACLE: the nation/label-blocked exactness exhibits plus
  ``knn_blocked_exact`` / ``edit_distance_pairs``, whose DUCKDB replay
  is a multi-billion-pair CASE/cosine/levenshtein evaluation at x100
  (the x10 replay was already 200-450M pairs). The engine sides are
  hash-matched at sf0.01 and x10; their measured-linear twins
  (SNB, adaptive cells, the delegating prefix operator) DO sweep here.
- ISOTROPIC_FLOOR: the single-probe recall audit — its floor is a
  driver-tier contract that decays with cell count by design (see
  tools/x10_sweep.py); the multi-probe, planted-twin and hierarchical
  audits DO sweep.
- DUCKDB_WALL: oracles whose DuckDB replay exceeded the 15-minute
  per-query patience at this tier (recursive-CTE closures
  over multi-million-row graphs). Their engine plans ARE swept at x10;
  nothing in this class spills in the bench subset. Populated from the
  run log — empty means everything feasible was swept.

Usage:
    SPARK_GRAFT_DRIVER_MEM=8g python tools/x100_sweep_chunked.py \
        [sf_dir] [detail_out] [--chunk-size=20]

``detail_out`` defaults to the untagged ``CORRECTNESS_x100.json``, so a
default run never overwrites a committed round's artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.x10_sweep import EXCLUDE as X10_EXCLUDE  # noqa: E402

# DuckDB-side infeasibility AT x100 (beyond the x10 exclusions) —
# append names here only with the measured wall that justified it.
DUCKDB_WALL: set[str] = set()

EXCLUDE = X10_EXCLUDE | DUCKDB_WALL

_CHILD = """
import importlib, json, sys
sys.path.insert(0, {here!r})
from selfcheck import run_sweep
from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark
importlib.import_module("__spark_entry__")
res = run_sweep(
    get_spark(app_name="x100_sweep_chunk"), {sf_dir!r},
    only=set({names!r}), quiet=False, detail_out={out!r},
)
print("chunk summary:", res)
"""


def main() -> int:
    import importlib

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.path.join(here, "testdata_x100", "sf10")
    detail_out = args[1] if len(args) > 1 else os.path.join(
        here, "CORRECTNESS_x100.json"
    )
    chunk = 20
    for a in sys.argv[1:]:
        if a.startswith("--chunk-size"):
            chunk = int(a.split("=", 1)[1] if "=" in a else sys.argv[
                sys.argv.index(a) + 1
            ])
    mod = importlib.import_module("__spark_entry__")
    names = sorted(set(mod.queries()) - EXCLUDE)
    detail: dict[str, dict] = {}
    tmpdir = tempfile.mkdtemp(prefix="x100_chunks_")
    for i in range(0, len(names), chunk):
        part = names[i : i + chunk]
        out = os.path.join(tmpdir, f"part_{i}.json")
        print(f"### chunk {i // chunk + 1}: {part[0]}..{part[-1]}", flush=True)
        rc = subprocess.run(
            [sys.executable, "-c", _CHILD.format(
                here=here, sf_dir=sf_dir, names=part, out=out
            )],
            cwd=here,
        ).returncode
        if rc != 0 and not os.path.exists(out):
            # the chunk died before writing detail: record the whole
            # chunk as errored rather than silently dropping it
            for n in part:
                detail[n] = {
                    "rows_match": False, "schema_match": False,
                    "hash_match": False, "spark_rows": None,
                    "oracle_rows": None, "err": f"chunk died rc={rc}",
                }
            continue
        with open(out) as f:
            detail.update(json.load(f))
    # companion adjudication over the MERGED detail (mirrors
    # selfcheck.run_sweep's post-loop pass)
    bad = [
        n for n, rec in detail.items()
        if rec.get("err") or rec.get("rows_match") is False
        or rec.get("hash_match") is False
    ]
    for name, rec in detail.items():
        for comp in rec.get("audited_by", ()):
            crec = detail.get(comp)
            if crec is not None and crec.get("hash_match") is not True:
                rec["err"] = f"companion not green: {comp}"
                if name not in bad:
                    bad.append(name)
    checked = sum(1 for r in detail.values() if r.get("hash_match") is True)
    rows_only = sum(
        1 for r in detail.values()
        if r.get("hash_match") is None and not r.get("err")
    )
    with open(detail_out, "w") as f:
        json.dump(detail, f, indent=1)
    print(
        f"x100 chunked sweep: {checked} oracle hash-matches, "
        f"{rows_only} rows-only, {len(bad)} failures -> {detail_out}"
    )
    if bad:
        print(f"FAILURES: {sorted(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
