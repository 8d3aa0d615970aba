"""The benchmark's own tests: seeded inputs and their expected results,
the BENCHMARK.json contract, the no-program failure mode, and the
steadiness checks (no drift within a stream run; counts that repeat
exactly across runs).

    python3 -m pytest perfbench -q

The Spark tests start one local session pinned as ``run.py`` pins it and
take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator


def test_generator_is_seeded():
    a, b, c = (gen.orders_topic(s, 3, 50, 100)[0] for s in (1, 1, 2))
    assert a == b and a != c
    ta, tb = gen.tables(0.001, 5), gen.tables(0.001, 5)
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["orders"].equals(gen.tables(0.001, 6)["orders"])


def _decode(line: str) -> dict:
    return json.loads(json.loads(line)["value"])


def test_orders_expected_results_match_the_chunks():
    chunks, exp = gen.orders_topic(3, 7, 200, 100)
    gold: dict[str, list[int]] = {}
    bad = []
    for c, lines in enumerate(chunks):
        rows = [_decode(x) for x in lines]
        negative = sum(r["order_amount"] <= 0 for r in rows)
        assert negative in (0, 6)  # 3% of 200 rows, or none
        if negative:
            bad.append(c)
            continue
        for r in rows:
            g = gold.setdefault(r["order_date"][:10], [0, 0])
            g[0] += round(r["order_amount"] * 100)
            g[1] += 1
    assert bad == exp["bad_chunks"] == [1, 4]
    assert {d: tuple(v) for d, v in gold.items()} == exp["gold"]
    assert exp["silver_rows"] + exp["quarantine_rows"] == exp["rows"] == 1400


def test_cdc_expected_state_is_the_replay():
    base = gen.cdc_base(4, 300, 50)
    chunks, exp = gen.cdc_topic(4, base, 5, 80, 50)
    state = {
        int(k): (int(d), int(a), int(c))
        for k, d, a, c in zip(
            base["order_id"], base["order_date"], base["order_amount"], base["customer_id"]
        )
    }
    ts = []
    for lines in chunks:
        for line in lines:
            env = _decode(line)
            ts.append(env["ts_ms"])
            row = env["after"] or env["before"]
            k = row["order_id"]
            if env["op"] == "d":
                del state[k]
            else:
                a = env["after"]
                state[k] = (a["order_date"], round(a["order_amount"] * 100), a["customer_id"])
    assert ts == sorted(set(ts))  # one ts_ms per change: latest-wins = replay order
    assert state == exp["state"]
    assert exp["ops"]["c"] > exp["ops"]["u"] > exp["ops"]["d"] > 0


# ------------------------------------------------------------- contract


def test_benchmark_json_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and unit.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["per_layer"]
    assert [m["name"] for m in spec["per_layer"]] == list(layers)
    known = {m["name"] for m in spec["end_to_end"]}
    workloads = {w["name"] for w in spec["workloads"]}
    for info in layers.values():
        assert set(info["moves"]) <= known
        assert set(info["mostly_on"]) | set(info["barely_on"]) <= workloads


def test_fails_without_the_program(tmp_path):
    """Beside only BENCHMARK.json and its own files the benchmark exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "streaming", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


# ------------------------------------------------------------ steadiness


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    run.pin_env(str(tmp_path_factory.mktemp("session")), trace=True)
    sys.path.insert(0, ROOT)
    from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests")
    yield session
    run.stop_jvm(session)


def _bound(name: str) -> float:
    return next(m["bound"] for m in _spec()["end_to_end"] if m["name"] == name)


def _traced_streaming(spark, work: str, n: int):
    from spans import Tracer, patch_engine
    from streams import Streaming

    tracer = Tracer(spark)
    wl = Streaming(spark, work, 7, n * Streaming.OP_S, tracer)
    wl.setup()
    patch_engine(tracer)
    wl.trace(tracer)
    try:
        res = wl.run()
    finally:
        tracer.restore()
    return wl, res


EXACT_STREAM_COUNTS = [
    "bronze.jobs_per_batch",
    "bronze.files_per_batch",
    "silver.jobs_per_batch",
    "silver.source_reads_per_row",
    "gold.jobs_per_batch",
    "gold.epoch_dirs",
    "cdc.jobs_per_batch",
    "cdc.source_reads_per_row",
]


def test_streams_do_not_drift_and_counts_repeat(spark, tmp_path):
    """First and last thirds of a longer stream run agree within the
    op_cpu_ms bound, and per-batch counts repeat exactly across runs."""
    wl, res = _traced_streaming(spark, str(tmp_path / "a"), 9)
    assert res["failed"] == 0
    lat = res["op_ms"]
    first, last = np.median(lat[:3]), np.median(lat[-3:])
    assert abs(last - first) / first <= _bound("op_cpu_ms"), lat
    again, res2 = _traced_streaming(spark, str(tmp_path / "b"), 9)
    assert res2["failed"] == 0
    for name in EXACT_STREAM_COUNTS:
        assert wl.layer[name] == again.layer[name], (name, wl.layer[name], again.layer[name])


def test_batch_counts_repeat_exactly(spark, tmp_path):
    """Every pass of the batch list runs the same jobs at build and at
    execution, and the list passes its oracles."""
    from spans import Tracer
    from batch import BatchQueries

    wl = BatchQueries(spark, str(tmp_path), 7, 2 * BatchQueries.OP_S, Tracer(spark))
    wl.setup()
    jobs: dict[str, set[tuple[int, int]]] = {}
    orig_check = wl.check

    def check(rec):
        jobs.setdefault(rec["name"], set()).add((rec["build_jobs"], rec["exec_jobs"]))
        return orig_check(rec)

    wl.check = check
    res = wl.run()
    assert res["failed"] == 0
    assert all(len(v) == 1 for v in jobs.values()), jobs
    assert wl.layer["batch.build_jobs.lazy"] == 0
