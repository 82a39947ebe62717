"""The shared-subtree pin (functions/pins.py) is semantics-free, and
the session memo beside it is keyed, bounded and released as documented.

``pin()`` is a lazy localCheckpoint used at multi-consumer branch
points so an expensive subtree (fact join, Arrow kernel, corpus
tokenize) is evaluated once instead of once per consumer. These tests
pin (pun intended) the contract the optimization relies on:

1. flipping the A/B seam off reproduces IDENTICAL rows for operators
   that pin internally (basket_rules — whose items relation feeds six
   consumers — and pmi_cooccurrence, whose totals now FOLD the pinned
   aggregates instead of re-scanning the corpus);
2. with the seam on, the pinned operator's final plan carries no
   duplicated base-table scan (the subtree moved behind a single
   checkpointed relation);
3. ``memo()`` misses once a new file lands under the same path, never
   shares an entry between site tags, and frees the blocks of every
   entry it evicts or clears; no other module keeps a memo of its own.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.functions import pins
from asset_prices_parquet_saver_spark.operators import dedup
from asset_prices_parquet_saver_spark.operators.analytics import basket_rules
from asset_prices_parquet_saver_spark.operators.text import pmi_cooccurrence


def _rows(df, *sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


def test_basket_rules_pin_is_result_identical(spark, unpinned):
    baskets = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"),
            (3, "b"), (3, "c"),
            (4, "a"), (4, "a"),  # duplicate item rows collapse
            (5, "c"),
        ],
        ["o", "it"],
    )
    build = lambda: _rows(  # noqa: E731
        basket_rules(baskets, "o", "it", min_support=0.2),
        "antecedent", "consequent",
    )
    assert build() == unpinned(build)


def test_pmi_totals_fold_is_result_identical(spark, unpinned):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps the fox"),
            (2, "the quick red fox"),
            (3, "brown fox quick fox"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    build = lambda: _rows(  # noqa: E731
        pmi_cooccurrence(docs, "doc_id", "text", window=2, min_count=1, k=50),
        "a", "b",
    )
    assert build() == unpinned(build)


def test_basket_rules_plan_has_no_duplicated_scan(spark, sf_dir):
    # the gated query's shape: a fact join feeding basket_rules — the
    # pre-pin plan re-evaluated it 9x (one per consumer); pinned, the
    # final plan reads ONE checkpointed relation and zero parquet scans
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    baskets = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    plan = (
        basket_rules(baskets, "l_orderkey", "p_brand", min_support=0.022)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan.count("Location: InMemoryFileIndex") == 0, plan


# ------------------------------------------------------------ session memo


@pytest.fixture()
def empty_memo():
    pins.clear_memos()
    yield
    pins.clear_memos()


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _docs(spark, first_id: int):
    # pairs of identical documents, distinct between pairs: every file
    # contributes its own near-duplicate pairs
    return spark.createDataFrame(
        [
            (first_id + i, " ".join(f"w{i // 2}x{j}" for j in range(12)))
            for i in range(8)
        ],
        "doc_id long, text string",
    )


def test_memo_misses_after_a_new_file_lands(spark, tmp_path, empty_memo):
    path = str(tmp_path / "docs")
    _docs(spark, 0).write.parquet(path)
    pairs = lambda: dedup.minhash_dedup(  # noqa: E731
        spark.read.parquet(path), "doc_id", "text", memo=True
    )
    first = pairs()
    assert pairs() is first  # same files: a hit
    before = spark.read.parquet(path).semanticHash()
    _docs(spark, 100).write.mode("append").parquet(path)
    # the plan hash cannot see the new file; the data-version key can
    assert spark.read.parquet(path).semanticHash() == before
    second = pairs()
    assert second is not first
    assert second.count() > first.count()


def test_memo_tags_never_share_an_entry(spark, empty_memo):
    df = spark.range(10)
    build = lambda: df.selectExpr("id * 2 AS x")  # noqa: E731
    a = pins.memo(df, ("pairs", 1), build)
    b = pins.memo(df, ("cc", 1), build)
    assert a is not b
    assert len(pins._MEMO) == 2
    assert pins.memo(df, ("pairs", 1), build) is a


def test_memo_eviction_unpersists(spark, empty_memo):
    df = spark.range(10)
    before = _persistent_rdds(spark)
    pins.memo(df, ("t", 0), lambda: df)
    first = _persistent_rdds(spark) - before
    assert first
    for i in range(1, pins._MAX_ENTRIES):
        pins.memo(df, ("t", i), lambda: df)
    full = _persistent_rdds(spark)
    pins.memo(df, ("t", pins._MAX_ENTRIES), lambda: df)
    after = _persistent_rdds(spark)
    assert len(pins._MEMO) == pins._MAX_ENTRIES
    assert not first & after  # the evicted entry's blocks are gone
    assert len(after) <= len(full)  # one in, one out
    # a hit counts as a use: the entry just handed out is kept and the
    # next least recently used one goes instead
    kept = pins.memo(df, ("t", 1), lambda: df)
    pins.memo(df, ("t", pins._MAX_ENTRIES + 1), lambda: df)
    assert any(v is kept for v in pins._MEMO.values())
    assert [k[4] for k in pins._MEMO][:2] == [3, 4]


def test_clear_memos_empties_and_unpersists(spark, empty_memo):
    df = spark.range(10)
    before = _persistent_rdds(spark)
    for i in range(3):
        pins.memo(df, ("t", i), lambda: df)
    held = _persistent_rdds(spark) - before
    assert len(held) == 3
    pins.clear_memos()
    assert pins._MEMO == {}
    assert not held & _persistent_rdds(spark)


# ------------------------------------------------------------ structure

PINS = pathlib.Path(pins.__file__).resolve()
PACKAGE = PINS.parents[1]


def _dataframe_store(node: ast.stmt) -> bool:
    """A module-level dict that can hold DataFrames: annotated with a
    DataFrame value type, or an empty dict whose value type is not
    declared at all."""
    if isinstance(node, ast.AnnAssign):
        ann = node.annotation
        if isinstance(ann, ast.Subscript) and isinstance(ann.slice, ast.Tuple):
            return ast.unparse(ann.slice.elts[-1]).split(".")[-1] == "DataFrame"
        value = node.value
    elif isinstance(node, ast.Assign):
        value = node.value
    else:
        return False
    return (isinstance(value, ast.Dict) and not value.keys) or (
        isinstance(value, ast.Call)
        and ast.unparse(value.func) in ("dict", "OrderedDict")
        and not value.args
    )


def test_pins_holds_the_only_session_memo():
    """A fifth memo cannot grow back unseen: plan hashing and
    module-level DataFrame stores live only in functions/pins.py."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PINS:
            continue
        src = path.read_text()
        rel = path.relative_to(PACKAGE.parent)
        if "semanticHash(" in src:
            offenders.append(f"{rel}: semanticHash(")
        for node in ast.parse(src).body:
            if _dataframe_store(node):
                offenders.append(f"{rel}:{node.lineno}: module-level DataFrame dict")
    assert not offenders, offenders
