"""Correctness checks, run outside the timed region.

Query results are compared with the DuckDB oracle the way
``scripts/oracle_check.py`` does it: same columns, same row count, and
the same order-insensitive value hash, both on the exact rows and on
their pandas-fetched view. The oracle side is computed once per table
set and oracle SQL text, then cached.

The live loop's tables are compared with a one-shot recompute over
every generated tick.
"""

from __future__ import annotations

import hashlib
import json
import os
from decimal import Decimal

import numpy as np

from scripts.oracle_check import TABLES, _pandasize_rows, _pd_canon, value_hash


def _oracle_entry(con, sql: str) -> dict:
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = [dict(zip(cols, r)) for r in rel.fetchall()]
    rel = con.execute(sql)
    types = {d[0]: str(d[1]) for d in rel.description}
    prows = [
        {c: _pd_canon(v, types.get(c, "")) for c, v in zip(cols, r)}
        for r in rel.df().itertuples(index=False, name=None)
    ]
    return {
        "cols": sorted(cols),
        "rows": len(rows),
        "hash": value_hash(rows, cols),
        "pandas_hash": value_hash(prows, cols),
    }


def oracle_results(tables_dir: str, oracle_sql: dict[str, str], names: list[str]) -> dict:
    """``{name: {cols, rows, hash, pandas_hash}}`` from DuckDB over the
    parquet tables in ``tables_dir``, cached in ``oracle.json`` there."""
    path = os.path.join(tables_dir, "oracle.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    keys = {n: hashlib.sha256(oracle_sql[n].encode()).hexdigest()[:16] for n in names}
    missing = [n for n in names if cache.get(n, {}).get("sql") != keys[n]]
    if missing:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t)}.parquet')"
            )
        for n in missing:
            cache[n] = {"sql": keys[n], **_oracle_entry(con, oracle_sql[n])}
        con.close()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n] for n in names}


def result_problems(rows: list[dict], cols: list[str], oracle: dict) -> list[str]:
    """Differences between a collected result and its oracle entry."""
    if sorted(cols) != oracle["cols"]:
        return [f"columns {sorted(cols)} != {oracle['cols']}"]
    if len(rows) != oracle["rows"]:
        return [f"{len(rows)} rows != {oracle['rows']}"]
    problems = []
    if value_hash(rows, cols) != oracle["hash"]:
        problems.append("value hash differs")
    if value_hash(_pandasize_rows(rows, cols), cols) != oracle["pandas_hash"]:
        problems.append("pandas-view value hash differs")
    return problems


# ------------------------------------------------------------ live loop

def expected_tick_tables(feed) -> tuple[list[tuple], list[tuple]]:
    """One-shot recompute over all generated ticks of what the live loop
    must hold after draining them.

    Bars (``incremental_agg.read_ohlc``): open/close at the first/last
    event time, high, low, tick count and the sum of cent prices, over
    the valid ticks with retransmissions removed.

    Latest prices (``prices_daily``): the upsert is last-write-wins per
    (symbol, day) in arrival order, so the ticks are replayed batch by
    batch; inside one batch the latest second-truncated event time wins,
    ties going to the higher price. A fresh (symbol, day) row holds only
    ``adj_close``, stamped at midnight UTC.
    """
    seen: set[tuple[str, int]] = set()
    bars: dict[tuple[str, int], list] = {}
    latest: dict[tuple[str, int], float] = {}
    for b in range(feed.n_batches):
        in_batch: dict[tuple[str, int], tuple[int, float]] = {}
        m = feed.batch == b
        for s, p, t in zip(feed.symbols[m], feed.prices[m], feed.ts_us[m]):
            s, p, t = str(s), float(p), int(t)
            if p != p or (s, t) in seen:  # invalid tick or retransmission
                continue
            seen.add((s, t))
            day = t // 86_400_000_000
            bar = bars.get((s, day))
            if bar is None:
                bars[(s, day)] = [t, p, p, p, t, p, 1, Decimal(f"{p:.2f}")]
            else:
                if t < bar[0]:
                    bar[0], bar[1] = t, p
                bar[2], bar[3] = max(bar[2], p), min(bar[3], p)
                if t > bar[4]:
                    bar[4], bar[5] = t, p
                bar[6] += 1
                bar[7] += Decimal(f"{p:.2f}")
            key = (t // 1_000_000, p)
            in_batch[(s, day)] = max(in_batch.get((s, day), key), key)
        latest.update({k: p for k, (_, p) in in_batch.items()})
    ohlc = sorted(
        (s, day, b[1], b[2], b[3], b[5], b[6], float(b[7])) for (s, day), b in bars.items()
    )
    prices = sorted(
        ("alpaca", s, day, day * 86_400, None, None, None, p, None, None, None)
        for (s, day), p in latest.items()
    )
    return ohlc, prices


def _epoch_day(d) -> int:
    return (d - d.__class__(1970, 1, 1)).days


def actual_tick_tables(ohlc_rows, price_rows) -> tuple[list[tuple], list[tuple]]:
    """Rows collected from ``read_ohlc`` and ``read_prices_daily`` in the
    shape of :func:`expected_tick_tables` (needs the process in UTC)."""
    ohlc = [
        (r["symbol"], _epoch_day(r["day"]), r["open"], r["high"], r["low"], r["close"],
         r["n_ticks"], r["notional"])
        for r in ohlc_rows
    ]
    prices = [
        (r["source"], r["symbol"], _epoch_day(r["day"]), int(r["timestamp"].timestamp()),
         r["open"], r["high"], r["low"], r["adj_close"], r["volume"], r["trade_count"],
         r["vwap"])
        for r in price_rows
    ]
    return ohlc, prices


def table_mismatches(actual: list[tuple], expected: list[tuple]) -> int:
    """Rows of ``actual`` and ``expected`` that differ (floats to 1e-6)."""
    def norm(row):
        return tuple(round(v, 6) if isinstance(v, float) else v for v in row)

    a = {norm(r) for r in actual}
    e = {norm(r) for r in expected}
    return len(a - e) + len(e - a) + abs(len(actual) - len(a))
