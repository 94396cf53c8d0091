"""E3: last-write-wins dimension upsert (``OdsBaseDbApp.scala:139-166``).

The reference point-SETs each dim row into Redis and relies on Kafka
per-key ordering for last-write-wins. Here the dim store is a parquet
table and the upsert is an explicit MERGE-shaped batch op:

1. dedup incoming batch to the newest row per key (row_number over
   version desc — deterministic under any parallelism);
2. union with the committed state and keep the newest per key again;
3. commit the result as a new state version (``manifest_commit.
   commit_state``: version pointer and batch-id watermark move in one
   atomic rename, the previous version stays for lazy readers).

On a table format with real MERGE (Delta/Iceberg) steps 2-3 collapse
into ``MERGE INTO``; the versioned parquet keeps this
container-friendly. Read the table through ``read_dim``.
Dimension tables are small relative to facts (that's why they broadcast)
so the rewrite cost is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .manifest_commit import commit_state, fold_stream, read_state


def latest_per_key(df: DataFrame, key_cols: list[str], version_col: str) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def upsert_dim_parquet(updates: DataFrame, table_dir: str,
                       key_cols: list[str], version_col: str,
                       batch_id: int = 0) -> None:
    spark = updates.sparkSession
    incoming = latest_per_key(updates, key_cols, version_col)
    base = read_state(spark, table_dir)
    if base is not None:
        merged = latest_per_key(base.unionByName(incoming), key_cols, version_col)
    else:
        merged = incoming
    commit_state(merged, table_dir, batch_id)


def upsert_scd2_parquet(updates: DataFrame, table_dir: str, key: str,
                        ts_col: str, attr_cols: list[str],
                        tiebreak_cols: tuple = (), batch_id: int = 0) -> None:
    """SCD2 streaming maintenance: merge a micro-batch of change rows
    into a versioned-history table (the history-preserving counterpart
    of ``upsert_dim_parquet``'s SCD1 last-write-wins).

    Only the keys present in the batch are rebuilt: their existing
    versions replay as change rows (valid_from is the change instant),
    union the batch, dedup (idempotent under at-least-once redelivery),
    and re-derive the [valid_from, valid_to) tiling — so late/
    out-of-order changes insert mid-history and repair the neighbors'
    intervals. Untouched keys' files are carried over as-is; on a real
    lakehouse format this is MERGE with key-bucket pruning, so the
    rewrite cost tracks the batch's key set, not table size.

    ``tiebreak_cols`` must be drawn from ``attr_cols`` — only attribute
    columns survive the replay round-trip.
    """
    from pyspark.sql import functions as F

    from ..operators.temporal import scd2_history
    spark = updates.sparkSession
    cols = [key, ts_col, *attr_cols]
    incoming = updates.select(*cols)
    hist = read_state(spark, table_dir)
    if hist is not None:
        keys = updates.select(key).distinct()
        untouched = hist.join(F.broadcast(keys), key, "left_anti")
        replay = (hist.join(F.broadcast(keys), key, "left_semi")
                  .select(key, F.timestamp_micros("valid_from_us").alias(ts_col),
                          *attr_cols))
        changes = replay.unionByName(incoming).dropDuplicates(cols)
        rebuilt = scd2_history(changes, key, ts_col, attr_cols, tiebreak_cols)
        merged = untouched.unionByName(rebuilt)
    else:
        merged = scd2_history(incoming.dropDuplicates(cols), key, ts_col,
                              attr_cols, tiebreak_cols)
    commit_state(merged, table_dir, batch_id)


def scd2_stream(changes, table_dir: str, checkpoint: str, key: str,
                ts_col: str, attr_cols: list[str],
                tiebreak_cols: tuple = (), trigger_seconds: int | None = None):
    """Streaming SCD2 maintenance: ``foreachBatch(upsert_scd2_parquet)``
    over a change stream — every micro-batch leaves the history table
    correctly tiled, late data repairs in place. Committed batch ids
    skip against the table's watermark (``manifest_foreach_batch``)."""
    return fold_stream(
        changes, lambda b, i: upsert_scd2_parquet(
            b, table_dir, key, ts_col, attr_cols, tiebreak_cols, i),
        table_dir, checkpoint, trigger_seconds)


def read_dim(spark, table_dir: str) -> DataFrame | None:
    """The committed dim table (None before the first commit)."""
    return read_state(spark, table_dir)
