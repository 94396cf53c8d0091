"""Streaming HyperLogLog rollup maintenance — per-day distinct-user
sketches kept current by a foreachBatch MAX-merge.

Additive rollups (`rollup_maintain.py`) cover sums/counts, but
COUNT(DISTINCT) cannot be folded additively across batches: the same
user in two micro-batches must count once. The mergeable-sketch answer
is to persist the HLL REGISTERS (day, bucket, max leading-zero rank)
and fold each micro-batch in with an element-wise max — max is
idempotent and commutative, so the merged registers equal the
registers of the union of all rows ever seen, replay or not. The
registers commit through the package's one state protocol
(``manifest_commit.commit_state``), like the additive folds.

Register arithmetic is byte-identical to the batch
`sketch_hll_distinct` query (md5 bucket + bin()-length rank — integer
string ops, no libm), so maintained-sketch estimates equal
batch-recomputed ones exactly, which is what the stream-equals-batch
test pins. State: 512 rows per day regardless of traffic — the whole
point of sketch rollups at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.sketches import _HLL_M as HLL_M  # one register-count constant
from .manifest_commit import commit_state, fold_stream, read_state


def day_user_registers(events: DataFrame) -> DataFrame:
    """(day, bucket, m) HLL registers of distinct user_id per day —
    the same md5/bin() arithmetic as ``sketch_hll_distinct``."""
    hx = F.md5(F.col("user_id").cast("string"))
    bucket = (F.conv(F.substring(hx, 1, 3), 16, 10).cast("long")
              % HLL_M)
    w = F.conv(F.substring(hx, 4, 8), 16, 10).cast("long")
    m = F.when(w == 0, 33).otherwise(33 - F.length(F.bin(w)))
    return (events
            # NULL ids must not register: countDistinct ignores NULLs,
            # and md5(NULL)=NULL would emit a junk row that inflates v
            .filter(F.col("user_id").isNotNull())
            .select((F.unix_micros("ts") / 86_400_000_000).cast("long")
                    .alias("day"), bucket.alias("bucket"), m.alias("m"))
            .groupBy("day", "bucket").agg(F.max("m").alias("m")))


def merge_hll_registers(batch: DataFrame, table_dir: str,
                        batch_id: int = 0) -> None:
    """foreachBatch body: fold one micro-batch's per-day registers
    into the committed register table by (day, bucket) max."""
    spark = batch.sparkSession
    part = day_user_registers(batch)
    base = read_state(spark, table_dir)
    if base is not None:
        merged = (base.unionByName(part)
                  .groupBy("day", "bucket").agg(F.max("m").alias("m")))
    else:
        merged = part
    commit_state(merged.coalesce(1), table_dir, batch_id)


def estimate_daily_distinct(registers: DataFrame) -> DataFrame:
    """Per-day HLL estimates from a register table — the identical
    harmonic-sum expression as the batch sketch queries (exact BIGINT
    Σ2^(33-m); one terminal float)."""
    alpha_m2_scale = (0.7213 / (1 + 1.079 / HLL_M)) * HLL_M * HLL_M \
        * 8589934592.0
    s = (registers.groupBy("day")
         .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(33 - m AS INT))")).alias("s_filled"),
              F.count("*").alias("v")))
    raw = (F.lit(alpha_m2_scale)
           / (F.col("s_filled")
              + (HLL_M - F.col("v")) * F.lit(8589934592)))
    # small-range (linear counting) correction: with empty registers
    # and raw < 2.5m, m·ln(m/(m-v)) is the accurate estimator. The
    # oracle-checked batch queries omit this (ln() is a cross-engine
    # libm hazard); this estimator is consumed operationally, not
    # hash-compared, so the correction belongs here.
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M))
                                     / (HLL_M - F.col("v")))
    est = F.when((F.col("v") < HLL_M) & (raw < 2.5 * HLL_M), lc) \
        .otherwise(raw)
    return s.select("day", F.round(est, 2).alias("hll_est"))


def hll_rollup_stream(events_stream: DataFrame, table_dir: str,
                      checkpoint_dir: str):
    """Wire a streaming events source into the register-merge sink."""
    return fold_stream(events_stream,
                       lambda b, i: merge_hll_registers(b, table_dir, i),
                       table_dir, checkpoint_dir)
