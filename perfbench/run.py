#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload streaming --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The program under test is the engine
package beside this directory; inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout and removed at the end.

The run pins the Spark session to the host: ``local[<cores>]`` with
cores = the CPUs this process may run on, a driver heap of a quarter of
RAM capped at 4 GiB (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``),
and the JIT to its first tier (``-XX:TieredStopAtLevel=1``), so a
one-minute run does not spend its timed phase in the C2 compile queue.
Everything the JVM and Python write goes under the work directory.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``BENCHMARK.json``); a traced run also writes its
spans to ``.perfbench_out/`` and, for the ``streaming`` workload,
repeats a short pass on ``local[1]`` as the single-thread baseline.
The last line of standard output is always the JSON result; the exit
code is non-zero and nothing is printed on stdout when the run cannot
complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dea05_e2e_kafka_streaming_pipeline_spark"
HEAP_CAP_MB = 4096


def process_age_s() -> float:
    """Seconds since this process started (from ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env(work: str, trace: bool) -> dict[str, str]:
    """Pin cores, heap and every scratch path before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024
    heap_mb = min(HEAP_CAP_MB, mem_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = ["spark.sql.streaming.numRecentProgressUpdates=100000"]
    if trace:
        confs += ["spark.ui.enabled=true", "spark.ui.port=0"]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_EXTRA_CONFS": ";".join(confs),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    from streams import Streaming
    from batch import BatchQueries

    workloads = {w.name: w for w in (Streaming, BatchQueries)}

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package beside {HERE}: nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pinned = pin_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from spans import Tracer, patch_engine
    from common import child_cpu_seconds, p50, peak_rss_mb

    from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else None
        wl = workloads[args.workload](spark, work, args.seed, args.seconds, tracer)
        wl.setup()
        if tracer is not None:
            patch_engine(tracer)
            wl.trace(tracer)
        setup_s = process_age_s()
        child0 = child_cpu_seconds(wl.pids[1])
        res = wl.run()
        child_s = child_cpu_seconds(wl.pids[1]) - child0
        rss_mb = peak_rss_mb(wl.pids)
        if tracer is not None:
            tracer.restore()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            layer = dict(wl.layer)
            layer["session.start_s"] = session_s
            layer["process.peak_rss_mb"] = rss_mb
            layer["process.cpu_s"] = res["cpu_s"]
            layer["process.child_cpu_s"] = child_s
            layer["trace.suite_s"] = res["suite_s"]
            layer["trace.op_ms_p50"] = p50(res["op_ms"])
            if isinstance(wl, Streaming):
                layer.update(single_thread_baseline(spark, wl, work))
                spark = None  # stopped by the baseline
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {n: float(layer.get(n, 0.0)) for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = {"setup_s": setup_s, "op_cpu_ms": res["op_cpu_ms"]}
    print(
        f"{args.workload} seed={args.seed} cores={pinned['SPARK_GRAFT_CPUS']} "
        f"heap={pinned['SPARK_GRAFT_DRIVER_MEM']} ops={res['attempted']} "
        f"failed={res['failed']} suite_s={res['suite_s']:.3f} "
        f"op_ms_p50={p50(res['op_ms']):.1f}",
        file=sys.stderr,
    )
    result = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }
    print(json.dumps(result))
    return 0


def single_thread_baseline(spark, wl, work: str) -> dict[str, float]:
    """Re-run two chunk pairs of the same streams on ``local[1]`` (fresh
    session in the same JVM, no warm-up, untraced): the single-thread
    baseline."""
    from common import p50

    from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark

    spark.stop()
    one = get_spark(app_name="perfbench-local1", master="local[1]")
    try:
        base = type(wl)(one, os.path.join(work, "local1"), wl.seed, 2 * wl.OP_S, warm=False)
        base.setup()
        res = base.run()
    finally:
        stop_jvm(one)
    return {
        "baseline.local1_rows_per_s": res["rows"] / res["suite_s"],
        "baseline.local1_batch_ms_p50": p50(res["op_ms"]),
    }


if __name__ == "__main__":
    sys.exit(main())
