"""Streaming retention-bitmap index maintenance (VERDICT r09 §next 7).

The word-partitioned presence bitmap behind
``events_retention_bitmap_index`` (queries/analytics29.py) is the
canonical always-on dashboard state: (day, word, bits) rows where bit
``user_id mod 60`` of word ``user_id div 60`` marks the user active
that day. This module keeps that index current from an events stream
with a foreachBatch bit_or-merge.

Why this fold is the easy case of streaming state: bit_or is
associative, commutative, AND idempotent — folding a replayed
micro-batch in twice yields the same bits (same argument as the HLL
register max-merge in ``hll_maintain.py``). The index commits through
``manifest_commit.commit_state`` like every replaced-state fold;
read it through ``retention_from_index``. The maintained index is
byte-identical to a batch rebuild over all events ever seen, which is
what the stream≡batch test pins, and the retention query itself is the
SAME plan (``retention_over_bitmaps``) over either table.

State size: ≤ ceil(users/60) words per day regardless of traffic —
~60× smaller than the distinct (day, user) relation. At 100 TB the
micro-batch side is one map-side-combinable aggregate and the merge
touches only the days present in the batch window; the versioned
parquet here is the container-friendly stand-in for a lakehouse MERGE
with day-partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.analytics29 import day_word_bitmaps, retention_over_bitmaps
from .manifest_commit import commit_state, fold_stream, read_state


def merge_bitmaps(batch: DataFrame, table_dir: str,
                  batch_id: int = 0) -> None:
    """foreachBatch body: OR one micro-batch's (day, w, bits) rows
    into the committed index. Crash anywhere before the manifest
    rename → readers stay on the old version; the replayed batch
    re-ORs to the identical bits."""
    spark = batch.sparkSession
    part = day_word_bitmaps(batch)
    base = read_state(spark, table_dir)
    if base is not None:
        merged = (base.unionByName(part)
                  .groupBy("day", "w").agg(F.bit_or("bits").alias("bits")))
    else:
        merged = part
    commit_state(merged.coalesce(1), table_dir, batch_id)


def retention_bitmap_stream(events_stream: DataFrame, table_dir: str,
                            checkpoint_dir: str):
    """Wire a streaming events source into the bitmap-merge sink."""
    return fold_stream(events_stream,
                       lambda b, i: merge_bitmaps(b, table_dir, i),
                       table_dir, checkpoint_dir)


def retention_from_index(spark, table_dir: str) -> DataFrame:
    """The dashboard query over the maintained index — the identical
    plan the batch query runs (``retention_over_bitmaps``)."""
    return retention_over_bitmaps(read_state(spark, table_dir))
