"""Self-tests of the benchmark; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402
from perfbench.workloads import E2E_UNITS, LAYER_UNITS  # noqa: E402
from scripts.oracle_check import value_hash  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_match_the_declaration():
    bench = _benchmark()
    for group in ("workloads", "end_to_end", "per_layer"):
        names = [m["name"] for m in bench[group]]
        assert len(names) == len(set(names))
        for name in names:
            assert NAME.fullmatch(name), name
    assert [m["name"] for m in bench["end_to_end"]] == list(E2E_UNITS)
    assert [m["name"] for m in bench["per_layer"]] == list(LAYER_UNITS)
    for group, units in (("end_to_end", E2E_UNITS), ("per_layer", LAYER_UNITS)):
        for m in bench[group]:
            assert m["unit"] == units[m["name"]]


def _oracle(rows, cols):
    from scripts.oracle_check import _pandasize_rows

    return {
        "cols": sorted(cols),
        "rows": len(rows),
        "hash": value_hash(rows, cols),
        "pandas_hash": value_hash(_pandasize_rows(rows, cols), cols),
    }


def test_checker_accepts_the_oracle_result_in_any_order():
    rows = [{"symbol": "S001", "close": 10.5}, {"symbol": "S002", "close": 11.25}]
    oracle = _oracle(rows, ["symbol", "close"])
    assert check.result_problems(rows[::-1], ["close", "symbol"], oracle) == []


@pytest.mark.parametrize(
    "alter",
    [
        lambda rows: [{**rows[0], "close": 10.51}, rows[1]],  # one value
        lambda rows: rows[:1],  # a lost row
        lambda rows: rows + rows[:1],  # a duplicated row
        lambda rows: [{"symbol": r["symbol"], "px": r["close"]} for r in rows],  # a renamed column
    ],
)
def test_checker_flags_an_altered_result(alter):
    rows = [{"symbol": "S001", "close": 10.5}, {"symbol": "S002", "close": 11.25}]
    oracle = _oracle(rows, ["symbol", "close"])
    altered = alter(rows)
    assert check.result_problems(altered, list(altered[0]), oracle)


def test_tick_checker_flags_an_altered_table():
    feed = gen.tick_feed(seed=3)
    ohlc, prices = check.expected_tick_tables(feed)
    assert check.table_mismatches(ohlc, ohlc) == 0
    bad = list(prices)
    row = bad[5]
    bad[5] = row[:7] + (row[7] + 0.01,) + row[8:]  # one adj_close off by a cent
    assert check.table_mismatches(bad, prices) == 2
    assert check.table_mismatches(prices[1:], prices) == 1


def test_tick_recompute_follows_arrival_order():
    # the same (symbol, day) in two batches: the later batch wins even
    # though its tick is older (a late tick), retransmissions are dropped
    day = 19_800 * 86_400_000_000
    feed = gen.TickFeed(
        symbols=np.array(["A", "A", "A", "A"]),
        prices=np.array([1.0, 2.0, 3.0, 2.0]),
        ts_us=np.array([day + 10, day + 5_000_000, day + 20, day + 5_000_000]),
        batch=np.array([0, 0, 1, 1]),
        n_batches=2,
    )
    ohlc, prices = check.expected_tick_tables(feed)
    assert prices == [("alpaca", "A", 19_800, 19_800 * 86_400, None, None, None, 3.0,
                       None, None, None)]
    # open at the earliest tick, close at the latest, duplicate not counted
    assert ohlc == [("A", 19_800, 1.0, 3.0, 1.0, 2.0, 3, 6.0)]


def _feed_bytes(seed: int, tmp_path) -> list[bytes]:
    feed = gen.tick_feed(seed)
    out = []
    for b in range(feed.n_batches):
        path = tmp_path / f"s{seed}-{b}.parquet"
        gen.write_tick_batch(feed, b, str(path))
        out.append(path.read_bytes())
    return out


def test_tick_feed_is_deterministic_per_seed_and_differs_across_seeds(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _feed_bytes(7, tmp_path / "a") == _feed_bytes(7, tmp_path / "b")
    assert _feed_bytes(7, tmp_path / "a") != _feed_bytes(8, tmp_path / "a")


def test_tick_feed_shape():
    feed = gen.tick_feed(seed=1)
    counts = np.unique(feed.symbols, return_counts=True)[1]
    assert len(counts) > 200 and counts.max() > 20 * np.median(counts)  # skewed
    arrival_days = [np.unique(feed.ts_us[feed.batch == b] // 86_400_000_000) for b in range(4)]
    assert all(len(d) <= 3 for d in arrival_days)
    keys = list(zip(feed.symbols, feed.ts_us))
    assert 0.01 < 1 - len(set(keys)) / len(keys) < 0.05  # retransmissions
    assert np.isnan(feed.prices).any()
    table = feed.table(0)
    assert str(table.schema.field("ts").type) == "timestamp[us, tz=UTC]"


def test_tables_are_deterministic():
    a = gen.build_tables(sf=0.001)
    b = gen.build_tables(sf=0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not gen.build_tables(seed=1, sf=0.001)["lineitem"].equals(a["lineitem"])
