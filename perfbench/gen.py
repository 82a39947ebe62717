"""Seeded input generators for the benchmark.

``write_tables`` writes the ten-table star schema the query registry
reads (``<dir>/<table>.parquet``) with the column types and value
domains of the engine's test data: TPC-H-like dimensions and facts,
an ``events`` table with unique microsecond timestamps, word-soup
``documents`` with a few percent near-duplicate copies, and unit-norm
64-d ``embeddings``.

``tick_feed`` builds the live loop's input: a time-ordered tick feed
``(symbol, price, ts)`` split into event-time-ordered micro-batch
files, with skewed symbol popularity, retransmitted duplicates, late
ticks inside the stream's 1-day watermark and a few invalid (NULL
price) ticks.

Both are pure functions of their seed: the same seed writes the same
bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Table scale: the row counts of the engine's sf0.01 test data.
SF = 0.01
#: Seed of the table data; the ``--seed`` argument drives query order and
#: the tick feed, so every run of a workload scans identical tables.
TABLE_SEED = 42

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def build_tables(seed: int = TABLE_SEED, sf: float = SF) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    ts_us = pa.timestamp("us")
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day0 = _epoch_us("1995-01-01")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2405, n_ord) * _DAY_US, ts_us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(day0 + rng.integers(1, 2500, n_li) * _DAY_US, ts_us),
    })
    # unique, sorted event times over 30 days (no timestamp ties, so
    # every order-by-time query has one answer)
    ev_ts = np.sort(rng.choice(30 * _DAY_US, n_ev, replace=False)) + _epoch_us("2024-01-01")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(w for w in words if w != "dup") or "a")
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int = TABLE_SEED, sf: float = SF) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ tick feed

TICK_SCHEMA = pa.schema([
    pa.field("symbol", pa.string(), nullable=False),
    pa.field("price", pa.float64()),
    # UTC-adjusted micros: a naive (NTZ) column or nanos would not match
    # the stream's TIMESTAMP read schema
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass(frozen=True)
class TickFeed:
    symbols: np.ndarray  # str, one per tick row as written (incl. duplicates)
    prices: np.ndarray  # float64, NaN = invalid tick
    ts_us: np.ndarray  # int64 UTC micros
    batch: np.ndarray  # int, micro-batch file index of each row
    n_batches: int

    def table(self, b: int) -> pa.Table:
        m = self.batch == b
        price = self.prices[m]
        return pa.table(
            {
                "symbol": pa.array(self.symbols[m], pa.string()),
                "price": pa.array(price, pa.float64(), mask=np.isnan(price)),
                "ts": pa.array(self.ts_us[m], pa.timestamp("us", tz="UTC")),
            },
            schema=TICK_SCHEMA,
        )


#: tick feed shape: 4 micro-batch files of 12 event-time hours each
TICK_COUNT, TICK_SYMBOLS, TICK_BATCHES, TICK_BATCH_HOURS = 3_200, 300, 4, 12
#: shares of retransmitted, late (up to 12 h) and invalid (NULL price) ticks
DUP_SHARE, LATE_SHARE, INVALID_SHARE = 0.02, 0.03, 0.005


def tick_feed(seed: int) -> TickFeed:
    """Ticks over ``TICK_BATCHES × TICK_BATCH_HOURS`` hours of event
    time. Batch ``b`` holds the ticks whose arrival time falls in its
    window, so a merge touches the one or two day partitions the window
    spans plus the day of any late tick."""
    n_ticks, n_symbols, n_batches = TICK_COUNT, TICK_SYMBOLS, TICK_BATCHES
    window = TICK_BATCH_HOURS * 3_600_000_000
    rng = np.random.default_rng(seed)
    names = np.array([f"S{i:03d}" for i in range(n_symbols)])
    rank = rng.permutation(n_symbols)
    pop = 1.0 / (rank + 1.0) ** 1.1
    sym = rng.choice(n_symbols, n_ticks, p=pop / pop.sum())
    span = n_batches * window
    start = _epoch_us("2024-03-04")
    # distinct event times: a (symbol, ts) pair identifies one trade
    ts = start + np.sort(rng.choice(span, n_ticks, replace=False))
    walk = np.cumsum(rng.normal(0.0, 0.4, n_ticks))
    base = rng.uniform(20.0, 400.0, n_symbols)
    price = np.round(np.maximum(base[sym] + walk * 0.05 * base[sym] / 20.0, 1.0), 2)
    price[rng.random(n_ticks) < INVALID_SHARE] = np.nan
    # arrival = event time, or up to 12 h later for late ticks (the
    # watermark is 1 day, so none is dropped as too late)
    arrival = ts.copy()
    late = rng.random(n_ticks) < LATE_SHARE
    arrival[late] += rng.integers(3_600_000_000, 12 * 3_600_000_000, int(late.sum()))
    # retransmissions: exact copies arriving up to 30 minutes later
    dup = np.flatnonzero(rng.random(n_ticks) < DUP_SHARE)
    idx = np.concatenate([np.arange(n_ticks), dup])
    arrival = np.concatenate([arrival, arrival[dup] + rng.integers(0, 1_800_000_000, dup.size)])
    batch = np.minimum((arrival - start) // window, n_batches - 1)
    order = np.lexsort((arrival, batch))
    idx, batch = idx[order], batch[order]
    return TickFeed(names[sym[idx]], price[idx], ts[idx], batch, n_batches)


def write_tick_batch(feed: TickFeed, b: int, path: str) -> None:
    _write(feed.table(b), path)
