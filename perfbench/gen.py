"""Seeded input generator for the benchmark, with the expected results
computed alongside.

Everything here is numpy + pyarrow + plain file writes: no Spark job
runs while inputs are produced, so set-up time carries no Spark work for
data production. The same seed always yields the same bytes.

- :func:`tables` — the TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings`` that the batch query catalog reads,
  with the column names and types the catalog and its DuckDB oracles
  expect.
- :func:`orders_topic` — Kafka-shaped JSON chunks of orders for the
  streaming medallion, a fixed share of them carrying a DQ violation,
  plus the exact per-date gold sums and the silver/quarantine split.
- :func:`cdc_topic` — Debezium envelopes (mostly inserts of new ids,
  updates and a few deletes of recent ids) plus the final table state
  a replay of the changes gives.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small customer query group "
    "stream filter big vector"
).split()

_EPOCH = dt.date(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (drawn as integer cents)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _amount(cents: int) -> str:
    """Exact two-decimal JSON literal for an amount in cents."""
    sign = "-" if cents < 0 else ""
    return f"{sign}{abs(cents) // 100}.{abs(cents) % 100:02d}"


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The catalog's ten input tables at scale ``sf`` (sf=0.01 gives
    15,000 orders and 60,000 lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vec = max(100, int(50_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_days(rng.integers(d0, d1 + 1, n_ord)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * rng.integers(90_000, 210_000, n_li) / 100.0, 2
            ),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_days(rng.integers(d0 + 1, d1 + 95, n_li)),
        }
    )
    ev0 = _days(dt.date(2024, 1, 1)) * _US_PER_DAY
    ts = np.sort(rng.integers(ev0, ev0 + 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 80, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    dim = 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: str, tabs: dict[str, pa.Table]) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def write_chunks(topic_dir: str, chunks: list[list[str]], t0: float) -> None:
    """Write each chunk as one JSON-lines file of Kafka-shaped records.
    Modification times step by one second so the file source's
    oldest-first order is the chunk order."""
    os.makedirs(topic_dir, exist_ok=True)
    for i, lines in enumerate(chunks):
        path = os.path.join(topic_dir, f"chunk-{i:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        os.utime(path, (t0 + i, t0 + i))


def _record(key: int, value: str, ts_ms: int) -> str:
    """One Kafka-shaped wire record: ``key``, the JSON ``value`` string
    and the producer ``timestamp`` in the format Spark's JSON writer
    uses."""
    stamp = dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc)
    ts = stamp.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_ms % 1000:03d}Z"
    return json.dumps({"key": str(key), "value": value, "timestamp": ts})


ORDER_DAY0 = dt.date(2024, 1, 1)
ORDER_DAYS = 120


def orders_topic(
    seed: int,
    n_chunks: int,
    rows_per_chunk: int,
    n_customers: int,
    bad_every: int = 3,
) -> tuple[list[list[str]], dict]:
    """Kafka-shaped JSON orders chunks for the medallion.

    Chunk ``c`` with ``c % bad_every == bad_every // 2`` carries 3% of
    rows with a non-positive amount, above the validator's 1% accuracy
    threshold, so the gate routes it to quarantine. The positions are
    fixed, so every seed does the same mix of work. Returns the chunks
    and the expected results: per-date ``(sum_cents, count)`` over the
    passing chunks (the gold view), and the silver/quarantine split."""
    rng = np.random.default_rng([seed, 2])
    chunks: list[list[str]] = []
    gold: dict[str, list[int]] = {}
    silver_rows = quarantine_rows = 0
    bad_chunks: list[int] = []
    ts_ms = 1_700_000_000_000
    oid = 0
    for c in range(n_chunks):
        n = rows_per_chunk
        days = rng.integers(0, ORDER_DAYS, n)
        cents = rng.integers(100, 100_000, n)
        cust = rng.integers(0, n_customers, n)
        bad = c % bad_every == bad_every // 2
        if bad:
            idx = rng.choice(n, max(1, (3 * n) // 100), replace=False)
            cents[idx] = -cents[idx]
            bad_chunks.append(c)
            quarantine_rows += n
        else:
            silver_rows += n
        lines = []
        for i in range(n):
            day = (ORDER_DAY0 + dt.timedelta(days=int(days[i]))).isoformat()
            value = (
                f'{{"order_id":{oid},"order_date":"{day}T00:00:00",'
                f'"order_amount":{_amount(int(cents[i]))},"customer_id":{int(cust[i])}}}'
            )
            lines.append(_record(oid, value, ts_ms))
            if not bad:
                g = gold.setdefault(day, [0, 0])
                g[0] += int(cents[i])
                g[1] += 1
            oid += 1
            ts_ms += 1
        chunks.append(lines)
    expected = {
        "gold": {d: tuple(v) for d, v in gold.items()},
        "silver_rows": silver_rows,
        "quarantine_rows": quarantine_rows,
        "bad_chunks": bad_chunks,
        "rows": n_chunks * rows_per_chunk,
    }
    return chunks, expected


CDC_COLUMNS = ["order_id", "order_date", "order_amount", "customer_id"]
CDC_UPDATE_SHARE = 0.25  # of changes; deletes take CDC_DELETE_SHARE, inserts the rest
CDC_DELETE_SHARE = 0.05


def cdc_base(seed: int, n_rows: int, n_customers: int) -> dict[str, np.ndarray]:
    """The preloaded target: ``n_rows`` orders with ids ``0..n_rows-1``
    (``order_date`` in Debezium epoch days, ``order_amount`` in cents)."""
    rng = np.random.default_rng([seed, 3])
    return {
        "order_id": np.arange(n_rows, dtype=np.int64),
        "order_date": _days(ORDER_DAY0) + rng.integers(0, ORDER_DAYS, n_rows),
        "order_amount": rng.integers(100, 100_000, n_rows),
        "customer_id": rng.integers(0, n_customers, n_rows),
    }


def cdc_topic(
    seed: int,
    base: dict[str, np.ndarray],
    n_chunks: int,
    changes_per_chunk: int,
    n_customers: int,
) -> tuple[list[list[str]], dict]:
    """Debezium envelopes (``before``/``after``/``op``/``ts_ms``) over
    the preloaded target: per chunk, mostly inserts of new ids, with
    updates and a few deletes aimed at the most recent live ids. Every
    change has its own ``ts_ms``, so latest-wins within a batch equals
    replay order. Returns the chunks and the final state a replay
    gives (``{order_id: (order_date, amount_cents, customer_id)}``)."""
    rng = np.random.default_rng([seed, 4])
    state = {
        int(k): (int(d), int(a), int(c))
        for k, d, a, c in zip(
            base["order_id"], base["order_date"], base["order_amount"], base["customer_id"]
        )
    }
    live = list(state)  # insertion order: recent ids at the tail
    next_id = int(base["order_id"].max()) + 1 if len(base["order_id"]) else 0
    ts_ms = 1_700_000_000_000
    day0 = _days(ORDER_DAY0)
    chunks: list[list[str]] = []
    n_ops = {"c": 0, "u": 0, "d": 0}
    last: dict[int, int] = {}  # key -> chunk of its last change

    def image(k: int, row: tuple[int, int, int] | None) -> str:
        if row is None:
            return "null"
        return (
            f'{{"order_id":{k},"order_date":{row[0]},'
            f'"order_amount":{_amount(row[1])},"customer_id":{row[2]}}}'
        )

    for chunk in range(n_chunks):
        lines = []
        ops = rng.random(changes_per_chunk)
        for u in ops:
            if u < CDC_DELETE_SHARE and live:
                k = live.pop(len(live) - 1 - int(rng.integers(0, min(len(live), 200))))
                before, after, op = state.pop(k), None, "d"
            elif u < CDC_DELETE_SHARE + CDC_UPDATE_SHARE and live:
                k = live[len(live) - 1 - int(rng.integers(0, min(len(live), 200)))]
                new = (state[k][0], int(rng.integers(100, 100_000)), state[k][2])
                before, after, op = state[k], new, "u"
                state[k] = new
            else:
                k = next_id
                next_id += 1
                new = (
                    day0 + int(rng.integers(0, ORDER_DAYS)),
                    int(rng.integers(100, 100_000)),
                    int(rng.integers(0, n_customers)),
                )
                before, after, op = None, new, "c"
                state[k] = new
                live.append(k)
            n_ops[op] += 1
            last[k] = chunk
            env = (
                f'{{"before":{image(k, before)},"after":{image(k, after)},'
                f'"op":"{op}","ts_ms":{ts_ms}}}'
            )
            lines.append(_record(k, env, ts_ms))
            ts_ms += 1
        chunks.append(lines)
    expected = {
        "state": state,
        "last_chunk": last,
        "ops": n_ops,
        "rows": n_chunks * changes_per_chunk,
    }
    return chunks, expected
