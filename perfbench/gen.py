"""Seeded inputs for the benchmark: source tables and job plans.

Everything the program under test sees is made here from ``--seed``:
the parquet tables it reads, the business days the ETL backfill walks,
the order of the curation stages and the arrival times of the cron
burst. The same seed always gives byte-identical tables and plans.

The tables mimic the repository's TPC-H-ish fixtures (same columns,
types and value distributions) with two deliberate differences: orders
and line items are dated around the 30-day event month so that a
business day selects a realistic order backlog, and timestamps are
stored UTC-adjusted so ``load_table`` reads them without a staging
rewrite.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first day of the 30-day event month every workload windows over
MONTH_START = dt.datetime(2024, 1, 1)
MONTH_DAYS = 30
#: orders are placed over this many days ending on the last event day
ORDER_DAYS = 150

#: the fixture corpus vocabulary (30 words, uniform)
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMBED_DIM = 64

#: rows per table at scale factor 1 (the fixture ratios)
ROWS_AT_SF1 = {"customer": 150_000, "orders": 1_500_000, "events": 1_000_000,
               "documents": 50_000, "embeddings": 20_000}

_TS = pa.timestamp("us", tz="UTC")
_US_PER_DAY = 86_400 * 1_000_000


def _rng(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, table) so adding a table never
    changes the rows of another."""
    salt = int.from_bytes(name.encode(), "little") % (2 ** 32)
    return np.random.default_rng([seed, salt])


def _epoch_us(moment: dt.datetime) -> int:
    return int((moment - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _events(seed: int, sf: float) -> pa.Table:
    rng = _rng(seed, "events")
    n = int(ROWS_AT_SF1["events"] * sf)
    start = _epoch_us(MONTH_START)
    ts = np.sort(rng.integers(start, start + MONTH_DAYS * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=_TS),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _customer(seed: int, sf: float) -> pa.Table:
    rng = _rng(seed, "customer")
    n = int(ROWS_AT_SF1["customer"] * sf)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _orders_lineitem(seed: int, sf: float) -> tuple[pa.Table, pa.Table]:
    rng = _rng(seed, "orders")
    n = int(ROWS_AT_SF1["orders"] * sf)
    n_cust = int(ROWS_AT_SF1["customer"] * sf)
    last_day = _epoch_us(MONTH_START) // _US_PER_DAY + MONTH_DAYS - 1
    order_day = rng.integers(last_day - ORDER_DAYS + 1, last_day + 1, n)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[
            rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n),
                                          2)),
        "o_orderdate": pa.array(order_day * _US_PER_DAY, type=_TS),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n)]),
    })
    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    orderkey = np.repeat(np.arange(n, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(m) - first + 1).astype(np.int32)
    shipday = np.repeat(order_day, lines) + rng.integers(1, 61, m)
    lineitem = pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), m)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), m)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0,
                                                         m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, m)]),
        "l_shipdate": pa.array(shipday * _US_PER_DAY, type=_TS),
    })
    return orders, lineitem


def _documents(seed: int, sf: float) -> pa.Table:
    """Uniform bags of the 30-word vocabulary, 10-100 words each; 5% are
    near-duplicates (an earlier document plus the token ``dup``) and a
    few are verbatim copies, as in the fixture corpus."""
    rng = _rng(seed, "documents")
    n = int(ROWS_AT_SF1["documents"] * sf)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def _embeddings(seed: int, sf: float) -> pa.Table:
    rng = _rng(seed, "embeddings")
    n = int(ROWS_AT_SF1["embeddings"] * sf)
    vec = rng.standard_normal((n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_tables(seed: int, sf: float, names, out_dir: str) -> dict:
    """Write the named tables as ``<out_dir>/<name>.parquet``; returns
    their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    made: dict[str, pa.Table] = {}
    for name in names:
        if name in made:
            continue
        if name in ("orders", "lineitem"):
            made["orders"], made["lineitem"] = _orders_lineitem(seed, sf)
        else:
            made[name] = {"events": _events, "customer": _customer,
                          "documents": _documents,
                          "embeddings": _embeddings}[name](seed, sf)
    for name in names:
        pq.write_table(made[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: made[name].num_rows for name in names}


def day(index: int) -> dt.datetime:
    return MONTH_START + dt.timedelta(days=index)


def business_days(seed: int, count: int) -> list[int]:
    """A sorted seeded sample of day indexes within the event month."""
    rng = _rng(seed, "business_days")
    return sorted(int(d) for d in rng.choice(MONTH_DAYS, count,
                                             replace=False))


def stage_orders(seed: int, stages, rounds: int) -> list[list[str]]:
    """One seeded permutation of the curation stages per round."""
    rng = _rng(seed, "stage_order")
    return [[stages[i] for i in rng.permutation(len(stages))]
            for _ in range(rounds)]


def arrivals(seed: int, rate: float, seconds: float, shapes,
             weights) -> list[dict]:
    """Open-loop arrivals at a fixed ``rate`` jobs/s over ``seconds``:
    one seeded offset inside each 1/rate slot, a seeded shape per job
    and a seeded event day."""
    rng = _rng(seed, "arrivals")
    n = max(int(round(rate * seconds)), 1)
    offsets = (np.arange(n) + rng.uniform(0.0, 1.0, n)) / rate
    shape = rng.choice(len(shapes), n, p=np.asarray(weights) / sum(weights))
    days = rng.integers(0, MONTH_DAYS, n)
    return [{"offset": float(o), "shape": shapes[int(s)], "day": int(d)}
            for o, s, d in zip(offsets, shape, days)]
