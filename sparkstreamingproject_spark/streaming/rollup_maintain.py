"""Streaming incremental rollup maintenance — the streaming form of
the `agg_incremental_merge` batch query: a foreachBatch sink that folds
each micro-batch's partial aggregate into a persisted daily rollup by
additive MERGE, so the rollup stays current without ever rescanning
history.

Contrast with `dim_upsert.upsert_dim_parquet` (LWW — newest row wins):
a rollup merge is ADDITIVE (sum/count combine), which is only correct
under exactly-once batch delivery. Since r12 the fold commits through
the MANIFEST-LAST protocol (``streaming/manifest_commit.py``): the
state version and the batch-id watermark move in ONE atomic rename,
so a replay either re-merges the pre-merge version or is skipped by
the watermark — the old marker protocol's residual window (swap
committed, marker not → double-fold) no longer exists.

At scale the state side is a date-partitioned rollup table and the
batch touches a handful of recent partitions — MERGE with partition
pruning on a lakehouse format; here the container-friendly versioned
parquet + manifest pointer plays that role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .manifest_commit import commit_state, fold_stream, read_state


def merge_rollup(batch: DataFrame, table_dir: str,
                 batch_id: int = 0) -> None:
    """Fold one micro-batch of orders into the daily rollup: partial
    aggregate the batch (integer cents — order-free), then combine
    with the persisted state by key. Additive, so state ⊕ batch₁ ⊕
    batch₂ ≡ recompute over all rows (associativity — the invariant
    `agg_incremental_merge`'s oracle pins)."""
    spark = batch.sparkSession
    part = (batch.groupBy(F.to_date("o_orderdate").alias("day"))
            .agg(F.sum(F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT)"))
                .alias("cents"),
                F.count("*").alias("n")))
    base = read_state(spark, table_dir)
    if base is not None:
        merged = (base.unionByName(part)
                  .groupBy("day")
                  .agg(F.sum("cents").alias("cents"),
                       F.sum("n").alias("n")))
    else:
        merged = part
    commit_state(merged, table_dir, batch_id)


def maintain_rollup_stream(orders_stream: DataFrame, table_dir: str,
                           checkpoint_dir: str,
                           trigger_seconds: int | None = None):
    """writeStream.foreachBatch wrapper: every micro-batch folds into
    the rollup. Unlike the LWW/SCD2/HLL-max sinks, the additive fold
    is NOT naturally idempotent — a replay after a crash would re-fold
    the batch — so committed batch ids are skipped against the
    manifest's watermark, and the commit itself is the single atomic
    manifest rename (no data-vs-marker window at all)."""
    return fold_stream(orders_stream,
                       lambda b, i: merge_rollup(b, table_dir, i),
                       table_dir, checkpoint_dir, trigger_seconds)
