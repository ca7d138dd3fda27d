"""External-store sink pattern (SURVEY.md §2.1 S6).

The reference pushes per-window UV counts into Redis with per-element
``hget/hset`` round-trips (UvWithBloomFilter.scala:112,121-136) — an RPC
per record.  The Spark-native shape is ``foreachBatch`` + bulk upsert:
each micro-batch merges into the store once, keyed, idempotent under
replay (micro-batch reprocessing overwrites the same keys).  Here the
"store" is a parquet key-value directory; swapping in Redis/JDBC/Delta
changes only ``_merge``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def read_store(spark, target_dir: str) -> DataFrame | None:
    """The store as a DataFrame, or None while it holds no data file (a
    missing directory, or one an empty batch left with only its commit
    markers)."""
    for _, _, files in os.walk(target_dir):
        if any(not f.startswith(("_", ".")) for f in files):
            return spark.read.parquet(target_dir)
    return None


def _committed(path: str) -> bool:
    """A Spark write to *path* ran to its job commit."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def foreach_batch_upsert(
    target_dir: str, key_cols: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """Returns a foreachBatch fn that upserts each batch into
    *target_dir* by *key_cols* (new batch wins — the reference's
    ``hset`` overwrite semantics).

    Each batch writes the merged store to a staging copy, then
    overwrites the store from it.  The overwrite deletes the store
    before it writes, so a driver that dies in that window leaves the
    store without its ``_SUCCESS`` marker while the staging copy holds
    the full merged store.  Spark then re-delivers the epoch; the sink
    first promotes the staging copy, so the replay merges into every
    earlier key instead of into a truncated store."""
    tmp = target_dir.rstrip("/") + ".staging"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if _committed(tmp) and not _committed(target_dir):
            spark.read.parquet(tmp).write.mode("overwrite").parquet(target_dir)
        existing = read_store(spark, target_dir)
        incoming = batch_df.withColumn("__v", F.lit(1))
        if existing is not None:
            merged = existing.withColumn("__v", F.lit(0)).unionByName(incoming)
        else:
            merged = incoming
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.col("__v").desc())
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__v")
        )
        # two-phase write: parquet overwrite of the store directory
        latest.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(target_dir)

    return process


def foreach_batch_partitioned_upsert(
    target_dir: str, partition_cols: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """Returns a foreachBatch fn writing each micro-batch into a
    hive-partitioned parquet store with DYNAMIC partition overwrite —
    only the partitions present in the batch are replaced, everything
    else is untouched.

    Exactly-once by construction when *partition_cols* functionally
    determine the row (e.g. update-mode aggregates partitioned on their
    full grouping key): replaying a micro-batch after a crash rewrites
    the same partitions with the same current values — idempotent, no
    read-merge-write cycle, no store-wide rewrite (contrast
    ``foreach_batch_upsert``, which rewrites the whole directory per
    batch).  This is the streaming → data-lake landing pattern; at
    100 TB the per-batch write cost is proportional to the CHANGED
    partitions only.  An empty batch is written too: it replaces no
    partition, and checking for emptiness first would run the batch's
    stateful plan a second time."""
    from ..io import write_partitioned

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitioned(batch_df, target_dir, list(partition_cols))

    return process
