"""Streaming histogram-sketch maintenance — per-micro-batch additive
fold of the fixed-bin value histogram (``queries/sketches2.py``), the
quantile companion to ``hll_maintain`` (distinct) and
``rollup_maintain`` (sums).

Bin counts merge by ADDITION, so like the daily rollup this fold is
NOT naturally idempotent under an uncommitted-batch replay — since
r12 it commits through the manifest-last protocol
(``manifest_commit.py``): committed batch ids skip against the
watermark, and state + watermark move in one atomic rename. State
is ≤ HQ_BINS rows forever; any quantile reads off the maintained
relation without touching history — the sketch property that makes
percentile dashboards feasible over a 100 TB stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.sketches2 import value_bins
from .manifest_commit import commit_state, fold_stream, read_state


def merge_histogram(batch: DataFrame, table_dir: str,
                    batch_id: int = 0) -> None:
    """Fold one micro-batch's (bin, n) partials into the persisted
    histogram by keyed addition — state ⊕ batch₁ ⊕ batch₂ equals the
    batch-recomputed histogram of all rows (associativity)."""
    spark = batch.sparkSession
    part = value_bins(batch)
    base = read_state(spark, table_dir)
    if base is not None:
        merged = (base.unionByName(part)
                  .groupBy("bin").agg(F.sum("n").alias("n")))
    else:
        merged = part
    commit_state(merged.coalesce(1), table_dir, batch_id)


def histogram_rollup_stream(events_stream: DataFrame, table_dir: str,
                            checkpoint_dir: str):
    """Wire a streaming events source into the manifest-committed
    histogram fold (availableNow)."""
    return fold_stream(events_stream,
                       lambda b, i: merge_histogram(b, table_dir, i),
                       table_dir, checkpoint_dir)
