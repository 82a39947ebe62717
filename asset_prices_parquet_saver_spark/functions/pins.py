"""Shared-subtree pinning for multi-consumer plans, and the session memo.

Spark has no common-subexpression materialization across DataFrame
branches: a relation referenced by two consumers (a totals fold + a
probe join, both sides of a self-join, a broadcast build + a stream
side) is EVALUATED once per consumer unless an exchange happens to be
reusable — and AQE picking a broadcast side guarantees it is not. For
an expensive subtree (an Arrow kernel, a fact join, a corpus
tokenize), that duplication is the dominant avoidable cost at scale
(guide §1.2: don't compute things twice).

:func:`pin` is the repo-wide spelling of the fix: a LAZY
``localCheckpoint`` at the branch point — the first consuming job
materializes the blocks in-line (no separate barrier job, the
globalorder lesson: an eager barrier measured 8-10% slower at sf0.1)
and every later consumer reads them. Broadcast exchanges are built on
a separate driver thread, so in principle two consumers can race to
materialize the same RDD; the block manager's per-partition
getOrCompute locking de-dupes the compute (a fresh-JVM stderr audit
of the globalorder site saw zero "Block already exists" warnings),
and results are correct either way — both consumers share one RDD
identity.

:func:`memo` is the session memo of the curation family: the LSH pair
relation, its connected components, the substring-dedup window rows,
the embedding pair relation and the phrase-search postings are each
built once per (corpus, parameters) and reused by every query of the
family in the same Spark application. Entries are keyed by
(applicationId, plan ``semanticHash``, data-version token, site tag,
params) and held as eager ``localCheckpoint`` s, so a hit is a scan of
materialized blocks, not a recompute. The data-version token is a
digest of the plan's sorted input-file listing: ``semanticHash`` is a
32-bit PLAN hash that cannot see new files land under the same path.
A plan not backed by files (an in-memory relation) keys on the plan
hash only, so ``memo=True`` there needs an input that does not change
for the life of the process — which is why the library's ``memo``
parameters default to False.

What a pin or memo entry costs and guarantees:

- Blocks are executor-local and NOT replicated. Losing an executor
  fails any query that still reads them: a local checkpoint truncates
  the lineage, so nothing is left to recompute the lost partitions
  from (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).
- Blocks are freed only by the ContextCleaner (once no DataFrame
  references the RDD), by eviction from the memo, or by
  :func:`clear_memos`. Eviction and clearing unpersist the checkpoint
  RDD itself (``DataFrame.unpersist`` only touches the cache manager
  and would free nothing), so a DataFrame derived from an evicted
  entry fails on its next action the same way.
- A pin is an optimizer barrier: filters and projections applied
  after it do not push down into the pinned subtree.
- The memo holds at most ``_MAX_ENTRIES`` (32) entries for the whole
  process, across every site. Before the five sites shared this store,
  the same cap applied to each of four separate dicts, so up to 128
  entries could be held.

``ENABLED`` is a measurement seam for ``scripts/profile.py --ab
asset_prices_parquet_saver_spark.functions.pins:ENABLED`` — flipping it
False rebuilds plans in the duplicated form so the pin's win is
measurable inside one session (tests use it as the unpinned
reference). Always True in production. It covers :func:`pin` only: it
does not affect the memo, nor the three direct
``localCheckpoint(eager=False)`` barriers in ``operators/globalorder.py``
(``with_global_row_number``, ``with_grouped_row_number``,
``with_global_cumsum``), which stay pinned during such an A/B.
"""

from __future__ import annotations

import hashlib
from typing import Callable

from pyspark.sql import DataFrame

#: A/B seam for pin() only (scripts/profile.py --ab) — True in production
ENABLED = True

#: cap on memo entries for the whole process: a run touches a
#: handful of (corpus, params) combinations, but a long-lived service
#: process must not grow without bound
_MAX_ENTRIES = 32

#: the session memo (see module docstring); kept in use order, so the
#: first key is the least recently used entry
_MEMO: dict[tuple, DataFrame] = {}


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once (lazy localCheckpoint) so N consumers
    cost one evaluation. Use at branch points whose subtree is worth
    more than one narrow write+read of its output rows."""
    return df.localCheckpoint(eager=False) if ENABLED else df


def _data_version(df: DataFrame) -> str:
    """Digest of the sorted file listing behind ``df``. Parquet files
    are immutable by convention (writers add files; the manifest layer
    swaps path sets), so the path SET is a faithful version token;
    plans not backed by files return a constant."""
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plans (local relations, streams)
        files = []
    return hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()


def _release(df: DataFrame) -> None:
    """Unpersist the checkpoint RDD behind a memo entry."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass  # a dead session's blocks are already gone


def memo(df: DataFrame, key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """Return the memoized ``build().localCheckpoint()`` for ``df``
    under ``key`` — a site tag (``"pairs"``, ``"cc"``, ...) followed by
    every parameter the result depends on — building it on a miss.
    Past ``_MAX_ENTRIES`` the least recently used entry is evicted and
    unpersisted; a hit counts as a use, so an entry a builder was just
    handed is never the next one to go."""
    k = (
        df.sparkSession.sparkContext.applicationId,
        df.semanticHash(),
        _data_version(df),
        *key,
    )
    value = _MEMO.pop(k, None)
    if value is None:
        value = build().localCheckpoint()
        if len(_MEMO) >= _MAX_ENTRIES:
            _release(_MEMO.pop(next(iter(_MEMO))))
    _MEMO[k] = value
    return value


def clear_memos() -> None:
    """Pop and unpersist every memo entry."""
    while _MEMO:
        _release(_MEMO.popitem()[1])
