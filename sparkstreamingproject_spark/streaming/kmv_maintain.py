"""Streaming KMV (bottom-k) sketch maintenance — per-event-type
distinct-user sketches kept current by a foreachBatch bottom-k merge.

HLL registers (`hll_maintain.py`) fold with element-wise MAX; the
bottom-k sketch folds with the other idempotent lattice merge: set
UNION then truncate to the k smallest hashes per group. Union and
min-k-truncation are commutative, associative, and idempotent, so the
maintained state equals the sketch of the union of all rows ever seen
— a replayed batch folds to the same state (same posture as HLL
max). State commits through ``manifest_commit.commit_state``.

Why keep BOTH sketch families maintained: HLL is smaller (fixed
registers) but only counts; KMV's state is the actual k smallest
hashes, so maintained sketches from different streams also compose
into set algebra — Jaccard / intersection / union estimates
(`queries/analytics7.py:sketch_kmv_jaccard`) — and the estimator is
unbiased with known variance. State is <= k longs per group
regardless of traffic.

Hash arithmetic is byte-identical to the batch
`sketch_kmv_distinct_by_type` query (md5 15-hex prefix as BIGINT), so
the maintained sketch equals the batch-recomputed sketch exactly —
pinned by the stream-equals-batch test.

Reference parity: extends the Redis set-cardinality idiom
(`Jedis_Pool.java:83-88`) past memory, per SURVEY.md §7.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..queries.sketches import _HEX15, _KMV_K
from .manifest_commit import commit_state, fold_stream, read_state


def type_user_hashes(events: DataFrame) -> DataFrame:
    """Distinct (event_type, h) hash pairs — md5 15-hex-prefix BIGINT,
    the identical arithmetic as every batch KMV query. NULL users must
    not register (countDistinct ignores NULLs; md5(NULL) is NULL and
    would add a junk row)."""
    return (events.filter(F.col("user_id").isNotNull())
            .select(F.col("event_type"),
                    F.conv(F.substring(F.md5(F.col("user_id")
                                             .cast("string")), 1, 15),
                           16, 10).cast("long").alias("h"))
            .distinct())


def _bottom_k(hashes: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("h")
    return (hashes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def merge_kmv_bottomk(batch: DataFrame, table_dir: str,
                      k: int = _KMV_K, batch_id: int = 0) -> None:
    """foreachBatch body: fold one micro-batch's distinct hashes into
    the committed per-type bottom-k table. The union never exceeds
    state + batch-distinct rows, and the window re-truncates to k per
    type — the merge is the k-minimum lattice join, so replaying an
    already-folded batch is a no-op."""
    spark = batch.sparkSession
    part = type_user_hashes(batch)
    base = read_state(spark, table_dir)
    if base is not None:
        merged = _bottom_k(base.unionByName(part).distinct(), k)
    else:
        merged = _bottom_k(part, k)
    commit_state(merged.coalesce(1), table_dir, batch_id)


def estimate_distinct_by_type(sketch: DataFrame,
                              k: int = _KMV_K) -> DataFrame:
    """Per-type distinct estimates off a maintained bottom-k table:
    below k retained hashes the sketch IS the distinct hash set (the
    estimate is exact); at k, n-hat = (k-1) * 2^60 / h_(k)."""
    return (sketch.groupBy("event_type")
            .agg(F.count("*").alias("n_kept"),
                 F.max("h").alias("hk"))
            .select("event_type", "n_kept",
                    F.when(F.col("n_kept") < k,
                           F.col("n_kept").cast("double"))
                    .otherwise(F.round(F.lit(float(k - 1)) * F.lit(_HEX15)
                                       / F.col("hk"), 2))
                    .alias("kmv_est")))


def maintain_kmv_stream(events_stream: DataFrame, table_dir: str,
                        checkpoint_dir: str, k: int = _KMV_K):
    """Wire a streaming events source into the bottom-k fold."""
    return fold_stream(events_stream,
                       lambda b, i: merge_kmv_bottomk(b, table_dir, k, i),
                       table_dir, checkpoint_dir)
