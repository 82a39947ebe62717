"""Day-partitioned prices layout + partition-pruned incremental merge.

The flat ``prices`` layout (sources/prices.py) rewrites the whole
dataset per merge — fine for bulk loads, absurd for a 60-second live
tick loop at 100 TB. This layout partitions by (source, day) so the
live upsert (J4, update_live_price.py:250-274) becomes:

1. reduce the batch to last-tick-per-(symbol, day);
2. read ONLY the affected day partitions (partition pruning — the
   scan's PartitionFilters, not a full-table read);
3. full-outer merge within those days;
4. write back with dynamic partition overwrite — Spark's commit
   replaces exactly the touched (source, day) directories, leaving
   every other partition byte-identical.

Per-batch cost is O(ticks + affected-day partition size), independent
of total dataset size — the property the reference got from per-symbol
files, without the small-files problem (day partitions hold all
symbols; compaction keeps file counts bounded).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators.merge import latest_ticks_per_day
from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA, BAR_VALUE_COLUMNS

#: data columns stored inside each partition file
_DATA_COLUMNS = ["symbol", "timestamp", *BAR_VALUE_COLUMNS]


def write_prices_daily(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write bars partitioned by (source, day); day derives from the
    bar timestamp. One shuffle keyed on the partition columns so each
    output partition is a single task's write."""
    (
        df.withColumn("day", F.to_date("timestamp"))
        .repartition("source", "day")
        .sortWithinPartitions("symbol", "timestamp")
        .select("source", "day", *_DATA_COLUMNS)
        .write.partitionBy("source", "day")
        .mode(mode)
        .parquet(path)
    )


def read_prices_daily(spark: SparkSession, path: str) -> DataFrame:
    """Scan the day-partitioned dataset; day/source come back as
    partition columns (strings/dates per partition discovery)."""
    return spark.read.parquet(path)


def _dataset_exists(path: str) -> bool:
    """True iff a prices dataset was ever written at ``path`` (any
    non-marker entry in the directory — partition dirs in practice).
    Local-FS check, consistent with sources/manifest.py; on an object
    store this becomes a prefix listing."""
    if not os.path.isdir(path):
        return False
    return any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    )


def merge_ticks_incremental(
    spark: SparkSession,
    path: str,
    ticks: DataFrame,
    source: str = "alpaca",
) -> list:
    """J4 upsert touching only affected partitions. Returns the list of
    affected days (useful for logging/metrics).

    Semantics match update_live_price.py:250-274 exactly: an existing
    (symbol, day) bar keeps all columns except ``adj_close`` (overwritten
    by the day's last valid tick); a new (symbol, day) appears as a
    NULL-padded row whose timestamp is the tick's midnight.
    """
    # localCheckpoint: `latest` feeds BOTH the affected-day collect and
    # the merge/write job — without materializing it the row_number
    # window over the tick batch runs twice per 60-second epoch
    latest = (
        latest_ticks_per_day(ticks)
        .select("symbol", "day", F.col("price").alias("__new_adj_close"))
        .localCheckpoint()
    )
    # the affected-day list is tiny (days-per-batch), collect is cheap
    # and becomes the partition-pruning predicate
    days = [r.day for r in latest.select("day").distinct().collect()]
    if not days:
        return []

    # EXPLICIT first-write detection — never catch read errors here: an
    # AnalysisException from a corrupt or permission-denied store must
    # propagate, not be mistaken for "nothing on disk yet" and silently
    # rebuild the dataset from this one batch (the durability path is
    # the last place to guess)
    if _dataset_exists(path):
        existing = (
            read_prices_daily(spark, path)
            .filter((F.col("source") == source) & (F.col("day").isin(days)))
            .select("day", *_DATA_COLUMNS)
        )
    else:
        existing = None

    if existing is None:
        merged = latest.select(
            F.col("symbol"),
            F.col("day"),
            F.col("day").cast("timestamp").alias("timestamp"),
            *[
                (
                    F.col("__new_adj_close") if c == "adj_close" else F.lit(None).cast("double")
                ).alias(c)
                for c in BAR_VALUE_COLUMNS
            ],
        )
    else:
        # KEEP IN SYNC with operators/merge.upsert_live_prices: this is
        # the day-partitioned twin of the flat layout's coalesce-merge
        # (differs only in the day-derived timestamp fallback); a
        # semantics change to either must land in both or the two
        # layouts silently diverge.
        joined = existing.alias("p").join(latest.alias("t"), ["symbol", "day"], "full_outer")
        merged = joined.select(
            F.col("symbol"),
            F.col("day"),
            F.coalesce(F.col("p.timestamp"), F.col("day").cast("timestamp")).alias(
                "timestamp"
            ),
            *[
                (
                    F.coalesce(F.col("t.__new_adj_close"), F.col(f"p.{c}")).alias(c)
                    if c == "adj_close"
                    else F.col(f"p.{c}").alias(c)
                )
                for c in BAR_VALUE_COLUMNS
            ],
        )

    out = merged.withColumn("source", F.lit(source)).select(
        "source", "day", *_DATA_COLUMNS
    )
    # dynamic overwrite replaces exactly the partitions present in
    # `out` — all other (source, day) directories are untouched
    # (spark.sql.sources.partitionOverwriteMode=dynamic is pinned in
    # session.get_spark; set per-write here for foreign sessions)
    (
        out.repartition("source", "day")
        .sortWithinPartitions("symbol", "timestamp")
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("source", "day")
        .mode("overwrite")
        .parquet(path)
    )
    return days

