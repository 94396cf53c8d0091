"""Streaming trending-keys maintenance — the DECAYED count fold, a
fifth merge shape in the maintain family: not additive (rollup /
histogram), not max-merge (HLL), not min/max-by (OHLC), not coalescing
(sessionize) — each micro-batch first HALVES every persisted count
(integer floor — exact, engine-independent) and then adds the batch's
counts, so a key's weight is Σ_i count_i >> (n - i): recent activity
dominates, stale keys decay to zero and are dropped. This is the
exponential-decay "trending now" summary every event platform keeps.

State is one row per live key — bounded by the decay horizon (a key
untouched for ~63 batches of any size decays out of int64 range 1),
while the stream it summarizes is unbounded. Halving-then-adding is
NOT idempotent under an uncommitted-batch replay, so since r12 the
fold commits through the manifest-last protocol
(``manifest_commit.py``): committed batch ids skip against the
watermark, state + watermark move in one atomic rename — the same
contract as the additive rollup.

Reference context: the DStream apps keep raw per-key counters in Redis
(DwsTrafficApp's daily counts); the decayed fold is the bounded-state
upgrade of that pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .manifest_commit import commit_state, fold_stream, read_state


def batch_counts(batch: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Per-key counts of one micro-batch (map-side combinable)."""
    return (batch.groupBy(F.col(key_col).alias("k"))
            .agg(F.count("*").cast("long").alias("w")))


def merge_trending(batch: DataFrame, table_dir: str,
                   key_col: str = "event_type",
                   batch_id: int = 0) -> None:
    """Fold one micro-batch: persisted weights halve (exact integer
    floor division), batch counts add, zero-weight keys drop. After
    batches B1..Bn the state is exactly Σ_i counts(B_i) >> (n-i) —
    the invariant the stream≡batch test replays."""
    spark = batch.sparkSession
    part = batch_counts(batch, key_col)
    base = read_state(spark, table_dir)
    if base is not None:
        base = base.select("k", F.expr("w div 2").cast("long").alias("w"))
        merged = (base.unionByName(part)
                  .groupBy("k").agg(F.sum("w").cast("long").alias("w"))
                  .filter(F.col("w") > 0))
    else:
        merged = part
    commit_state(merged.coalesce(1), table_dir, batch_id)


def read_trending_topk(spark, table_dir: str, k: int = 10) -> DataFrame:
    """Top-k keys by decayed weight (heap TakeOrdered — no global
    sort), deterministic tie-break on the key; empty typed relation
    before the first commit (ADVICE r12)."""
    return (read_state(spark, table_dir, "k string, w long")
            .orderBy(F.desc("w"), "k").limit(k))


def trending_stream(events_stream: DataFrame, table_dir: str,
                    checkpoint_dir: str, key_col: str = "event_type"):
    """Wire an event stream into the manifest-committed decayed fold
    (availableNow)."""
    return fold_stream(
        events_stream, lambda b, i: merge_trending(b, table_dir, key_col, i),
        table_dir, checkpoint_dir)
