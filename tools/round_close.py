#!/usr/bin/env python
"""The round exit checklist (round-7 verdict item 7): one command that
produces EVERY per-round evidence artifact, so no round ships a rewrite
without tiered value evidence again. Rounds 5 and 6 committed
CORRECTNESS_x10_r0N.json; round 7 silently dropped it — this tool makes
the omission impossible to repeat silently: it runs each step in order,
stops on the first failure, and prints the artifact manifest at the end.

    python tools/round_close.py --round 8            # everything
    python tools/round_close.py --round 8 --skip pytest,sweep_x100

Steps (each gated on the previous):
  pytest        python -m pytest tests/ -q
  sweep_sf001   full-registry sf0.01 sweep  -> CORRECTNESS_full_r{N}.json
  sweep_x10     tools/x10_sweep.py          -> CORRECTNESS_x10_r{N}.json
  sweep_x100    tools/x100_sweep_chunked.py @ 8 GiB
                                            -> CORRECTNESS_x100_r{N}.json
  bench_sf01    bench.py @ sf0.1            -> bench_metrics.json
  bench_x10     bench.py @ x10              -> bench_metrics_x10.json
  bench_x100    constrained x10-subset + x100 runs + tools/x100_ledger.py
                                            -> BENCH_x100_subset.json

Budget files are NOT regenerated here — a re-baseline is a deliberate,
documented act (SCALE.md names the trade), never part of routine close.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], env_extra: dict | None = None) -> None:
    env = dict(os.environ)
    env.update(env_extra or {})
    print(f"\n### {' '.join(cmd)}"
          + (f"   [env {env_extra}]" if env_extra else ""), flush=True)
    subprocess.run(cmd, cwd=HERE, env=env, check=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument(
        "--skip", default="",
        help="comma-separated step names to skip (state why in the commit)",
    )
    args = ap.parse_args()
    n = args.round
    skip = {s.strip() for s in args.skip.split(",") if s.strip()}
    t0 = time.time()
    artifacts: list[str] = []
    py = sys.executable

    def step(name: str, fn) -> None:
        if name in skip:
            print(f"\n### SKIPPED {name} (--skip)", flush=True)
            return
        t = time.time()
        fn()
        print(f"### {name} done in {time.time() - t:.0f}s", flush=True)

    step("pytest", lambda: _run([py, "-m", "pytest", "tests/", "-q"]))

    full_out = f"CORRECTNESS_full_r{n:02d}.json"
    step("sweep_sf001", lambda: _run([
        py, "-c",
        "import importlib, sys; sys.path.insert(0, '.');"
        "from selfcheck import run_sweep;"
        "from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark;"
        "importlib.import_module('__spark_entry__');"
        "res = run_sweep(get_spark(app_name='round_close'),"
        f" '/root/testdata/sf0.01', quiet=True, detail_out='{full_out}');"
        "print(res); sys.exit(1 if res['failures'] else 0)",
    ]))
    artifacts.append(full_out)

    x10_out = f"CORRECTNESS_x10_r{n:02d}.json"
    step("sweep_x10", lambda: _run(
        [py, "tools/x10_sweep.py", "testdata_x10/sf1.0", x10_out]
    ))
    artifacts.append(x10_out)

    x100_out = f"CORRECTNESS_x100_r{n:02d}.json"
    step("sweep_x100", lambda: _run(
        [py, "tools/x100_sweep_chunked.py", "testdata_x100/sf10", x100_out],
        {"SPARK_GRAFT_DRIVER_MEM": "8g"},
    ))
    artifacts.append(x100_out)

    step("bench_sf01", lambda: _run([py, "bench.py"]))
    artifacts.append("bench_metrics.json")

    step("bench_x10", lambda: _run([py, "bench.py"], {
        "SPARK_GRAFT_SF_DIR": "testdata_x10/sf1.0",
        "SPARK_GRAFT_BENCH_METRICS": "bench_metrics_x10.json",
    }))
    artifacts.append("bench_metrics_x10.json")

    def _bench_x100() -> None:
        subset = subprocess.run(
            [py, "tools/x100_ledger.py", "--print-subset"],
            cwd=HERE, capture_output=True, text=True, check=True,
        ).stdout.strip()
        regime = {
            "SPARK_GRAFT_DRIVER_MEM": "8g",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_SWEEP": "0",
            "SPARK_GRAFT_BENCH_ONLY": subset,
        }
        _run([py, "bench.py"], {
            **regime,
            "SPARK_GRAFT_SF_DIR": "testdata_x10/sf1.0",
            "SPARK_GRAFT_BENCH_METRICS": "bench_metrics_x10_subset.json",
        })
        _run([py, "bench.py"], {
            **regime,
            "SPARK_GRAFT_SF_DIR": "testdata_x100/sf10",
            "SPARK_GRAFT_BENCH_METRICS": "bench_metrics_x100.json",
        })
        _run([py, "tools/x100_ledger.py"])

    step("bench_x100", _bench_x100)
    artifacts.append("BENCH_x100_subset.json")

    print(f"\n=== round {n} close complete in {(time.time() - t0) / 60:.1f} min")
    for a in artifacts:
        ok = os.path.exists(os.path.join(HERE, a))
        print(f"  {'OK ' if ok else 'MISSING'} {a}")
    missing = [
        a for a in artifacts if not os.path.exists(os.path.join(HERE, a))
    ]
    if missing and not skip:
        return 1
    print("commit these with the round's code before the driver snapshot.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
