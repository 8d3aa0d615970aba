#!/usr/bin/env python3
"""Repeat the benchmark and write its evidence: steadiness of every
end-to-end metric, and the traced layer table with reconciliation and
tracing overhead.

    python3 perfbench/report.py --runs 10 --seed0 1000 --out perfbench/LAYERS.md
    python3 perfbench/report.py --runs 5 --workloads streaming --traced 0

For each workload it makes ``--runs`` untraced runs with seeds
``seed0, seed0+1, ...`` and ``--traced`` traced runs, each as its own
process exactly as the benchmark command is run, then prints and
writes:

- per end-to-end metric: median, quartile spread ``(Q3 - Q1) / median``
  (``statistics.quantiles(n=4)``) and the bound from ``BENCHMARK.json``;
- per per-layer metric: the median over the traced runs, and from
  ``layers.json`` the end-to-end metric it should move and where it
  should not;
- reconciliation: time the traced layers account for against the traced
  and the untraced median ``suite_s`` (the wall time of the timed work,
  which untraced runs print on stderr), and the tracing overhead (traced
  minus untraced median ``suite_s``).

Raw results go to ``.perfbench_out/report-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["seed"], out["wall_s"] = seed, wall
    # wall time of the timed work, which run.py prints on stderr
    summary = dict(re.findall(r"(suite_s|op_ms_p50)=([0-9.]+)", proc.stderr))
    out.update({k: float(v) for k, v in summary.items()})
    return out


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def accounted_s(layer: dict[str, float], workload: str) -> float:
    """Seconds of the traced run's timed phase the layer metrics cover:
    triggers, query start/stop, the gold read and the output checks for
    the streams; build plus execution for the batch list."""
    if workload == "streaming":
        return (
            layer["stream.trigger_s"]
            + layer["stream.query_start_stop_s"]
            + layer["gold.read_ms"] / 1000.0
            + layer["stream.check_s"]
        )
    return layer["batch.build_s.eager"] + layer["batch.build_s.lazy"] + layer["batch.exec_s"]


def report(spec: dict, layers: dict, workload: str, runs: list[dict], traced: list[dict]) -> str:
    lines = [f"### `{workload}`", ""]
    lines.append(
        f"{len(runs)} untraced runs, seeds {runs[0]['seed']}–{runs[-1]['seed']}, "
        f"run_seconds={spec['run_seconds']}; operations failed/attempted: "
        f"{sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)}; "
        f"wall per run (median): {statistics.median(r['wall_s'] for r in runs):.1f} s"
    )
    lines += [
        "",
        "| metric | unit | median | Q1–Q3 spread | bound | spread < bound/3 |",
        "|---|---|---|---|---|---|",
    ]
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        sp = spread(vals)
        lines.append(
            f"| `{m['name']}` | {m['unit']} | {statistics.median(vals):.4g} | "
            f"{sp:.3f} | {m['bound']} | {'yes' if sp < m['bound'] / 3 else 'no'} |"
        )
    wall = ", ".join(
        f"`{k}` median {statistics.median(r[k] for r in runs):.4g}, spread "
        f"{spread([r[k] for r in runs]):.3f}"
        for k in ("suite_s", "op_ms_p50")
    )
    lines += ["", f"Wall time of the same runs (no bound; see `layers.json`): {wall}."]
    if not traced:
        return "\n".join(lines) + "\n"
    layer = {
        m["name"]: statistics.median(t["metrics"][m["name"]]["value"] for t in traced)
        for m in spec["per_layer"]
    }
    untraced = statistics.median(r["suite_s"] for r in runs)
    traced_s = layer["trace.suite_s"]
    acc = statistics.median(
        accounted_s({k: v["value"] for k, v in t["metrics"].items()}, workload) for t in traced
    )
    lines += [
        "",
        f"{len(traced)} traced runs (seeds {traced[0]['seed']}–{traced[-1]['seed']}; per-layer "
        f"values below are their medians): median `suite_s` {traced_s:.2f} s against the "
        f"untraced median {untraced:.2f} s, so tracing overhead is "
        f"{traced_s - untraced:+.2f} s ({(traced_s - untraced) / untraced:+.1%}). "
        f"The layers account for {acc:.2f} s, {acc / untraced:.1%} of the untraced median "
        f"and {acc / traced_s:.1%} of the traced `suite_s`; the rest is "
        "driver-side Python between the measured calls.",
        "",
        "| per-layer metric | unit | value | layer | should move | mostly on | barely on |",
        "|---|---|---|---|---|---|---|",
    ]
    for m in spec["per_layer"]:
        info = layers["per_layer"][m["name"]]
        lines.append(
            f"| `{m['name']}` | {m['unit']} | {layer[m['name']]:.4g} | {info['layer']} | "
            f"{', '.join(info['moves']) or '—'} | {', '.join(info['mostly_on'])} | "
            f"{', '.join(info['barely_on']) or '—'} |"
        )
    return "\n".join(lines) + "\n"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--out", help="markdown file to write")
    args = ap.parse_args()

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    sections = []
    for wl in args.workloads:
        # traced runs spread evenly among the untraced ones, so host
        # speed drifting over the set biases neither side
        at = {round((k + 0.5) * args.runs / max(1, args.traced)) for k in range(args.traced)}
        runs, traced = [], []
        for i in range(args.runs):
            if i in at:
                traced.append(run_once(wl, args.seed0 + i, spec["run_seconds"], True))
            runs.append(run_once(wl, args.seed0 + i, spec["run_seconds"], False))
            print(wl, json.dumps(runs[-1]), file=sys.stderr, flush=True)
        with open(os.path.join(out_dir, f"report-{wl}.json"), "w") as f:
            json.dump({"runs": runs, "traced": traced}, f, indent=1)
        sections.append(report(spec, layers, wl, runs, traced))
        print(sections[-1], flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write("# Benchmark evidence\n\n")
            f.write("Written by `python3 perfbench/report.py`; see `perfbench/layers.json` "
                    "for the session pinning and the reasons behind each workload.\n\n")
            f.write("\n".join(sections))
    return 0


if __name__ == "__main__":
    sys.exit(main())
