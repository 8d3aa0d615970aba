"""What both workloads share: the :class:`Workload` base and the process
measurements (CPU seconds, peak RSS) and percentiles the metrics use.

Each workload (:mod:`streams`, :mod:`batch`) is a closed loop (one
stream query or one batch query at a time) over inputs :mod:`gen`
writes from the seed before timing starts. ``setup()`` generates
inputs, preloads state and warms up on inputs of its own; ``run()``
times a fixed amount of work, checks the outputs and returns the raw
figures :mod:`run` turns into metrics.

The amount of work is ``seconds / OP_S`` operations, where ``OP_S`` is
the share of a run's wall time (set-up included) one operation is
budgeted on a 4-core host. Every run with the same ``seconds`` does the
same work whatever the speed of the code.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

CLK_TCK = os.sysconf("SC_CLK_TCK")
T0 = time.perf_counter()


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / CLK_TCK


def child_cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of the children ``pid`` has waited for
    (the programs the JVM runs, such as Hadoop's shell-outs)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / CLK_TCK  # cutime, cstime


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    if not xs:
        return 0.0
    ys = sorted(xs)
    return float(ys[min(len(ys) - 1, max(0, int(np.ceil(q / 100 * len(ys))) - 1))])


class Workload:
    """Shared state: the session, a work directory, the seed, the amount
    of work and, in a traced run, the tracer."""

    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
        self.layer: dict[str, float] = {}

    def cpu(self) -> float:
        return cpu_seconds(self.pids)

    def log(self, what: str) -> None:
        """Progress line on stderr, stamped with seconds since import."""
        stamp = time.perf_counter() - T0
        print(f"[{stamp:7.2f}s] {self.name}: {what}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def trace(self, tracer) -> None:
        """Install workload-specific span wrappers (traced runs only)."""

    def set_op(self, op: str | None) -> None:
        if self.tracer is not None:
            self.tracer.op = op
