"""Streaming maintenance for the KLL-shaped level-sampling quantile
sketch — maintained fold #12, pairing `sketch_kll_quantiles` the way
`histogram_maintain.py` pairs the fixed-bin sketch.

Why the fold is natural for THIS sketch: an item's inclusion coin is
its 60-bit md5 hash, and the level-L inclusion masks are NESTED
(h & mask(L) = 0 ⇒ h & mask(L') = 0 for every L' ≤ L). So a batch's
survivors written at ANY level ≤ the final read level remain a
superset of what the read needs, and one read-time re-thin at
level(total n) reproduces the batch sketch over the union EXACTLY.
The state layout:

  {dir}/sample/ingest_batch=<id>/  (cents, h) thinned at the level
                                   current when the batch landed
  {dir}/meta/ingest_batch=<id>/    one row: batch_n (exact row count)

Levels only grow, and every write level is computed from a PREFIX of
the final total, so write-level ≤ read-level always holds — including
for replays that land after later batches (the recomputed write level
is higher, the rows a subset; the read re-thin erases the
difference). State growth is the sketch's own logarithmic bound:
each corpus-doubling window contributes ≤ K/2 surviving rows.

Replay safety: the same ``ingest_batch=<id>`` overwrite discipline as
``dedup_ingest.py`` / ``containment_maintain.py`` — a replayed batch
overwrites its own partitions; meta is written AFTER sample so an
incomplete fold never looks committed (a sample partition without its
meta row only means a few extra superset rows until the retry
overwrites both). The exactness guarantee is for BATCH-ID-KEYED
replays (the Structured Streaming model: a retried epoch re-delivers
under the same batch id and overwrites its own partitions). Reads
additionally drop duplicate (cents, h) rows defensively in case the
same ORDER is re-delivered under a DIFFERENT batch id, but that is a
mitigation, not exactness: the duplicate's rows still count in both
batches' meta ``batch_n``, so total n (and hence the read level and
quantile ranks) carries the duplicated fraction as bias. Sources
that can re-deliver across batch ids need an upstream keyed dedup
(``ts_dedup`` / dropDuplicates-withWatermark) before this fold.

At 100 TB: per batch, the thinning predicate runs map-side on the
micro-batch scan; only ~batch_n/2^level rows are written, the read
touches ≤ ~K·log(N/K) state rows total, and the quantile read itself
is the shared `kll_quantile_read` (one tiny sort + integer
cross-multiplication).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.sketches2 import (KLL_K, kll_level, kll_order_rows,
                                 kll_quantile_read, kll_sample)
from .manifest_commit import _maybe_read, _write


def _level_py(n: int, k: int = KLL_K) -> int:
    """Smallest L with n/2^L <= K — the same integer bit-width
    arithmetic as the SQL form (``length(bin(ceil(n/K)-1))``)."""
    if n <= k:
        return 0
    return (((n + k - 1) // k) - 1).bit_length()


def fold_kll_sample(batch: DataFrame, state_dir: str,
                    batch_id: int | None = None) -> None:
    """foreachBatch body: thin one micro-batch of orders at the level
    implied by (rows so far + this batch) and append survivors +
    the batch's exact row count."""
    spark = batch.sparkSession
    hv = kll_order_rows(batch)
    bn = hv.count()
    prior = _maybe_read(spark, f"{state_dir}/meta", "batch_n long",
                        exclude_batch=batch_id)
    prior_n = (prior.agg(F.coalesce(F.sum("batch_n"), F.lit(0)))
               .collect()[0][0])
    lvl_now = _level_py(int(prior_n) + int(bn))
    survivors = hv.filter(
        F.col("h").bitwiseAND((1 << lvl_now) - 1) == 0)
    # sample first, meta last: the meta row is the commit signal —
    # a crash in between leaves superset sample rows the retry
    # overwrites, never an n that counts rows that were not sampled.
    _write(survivors, f"{state_dir}/sample", batch_id)
    _write(spark.createDataFrame([(int(bn),)], "batch_n long"),
           f"{state_dir}/meta", batch_id)


def kll_stream(orders_stream: DataFrame, state_dir: str,
               checkpoint: str):
    """Wire a streaming orders source into the fold (availableNow);
    foreachBatch's epoch id keys the replay-idempotent partitions."""
    return (orders_stream.writeStream
            .foreachBatch(lambda b, i: fold_kll_sample(b, state_dir, i))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def kll_quantiles_from_state(spark, state_dir: str) -> DataFrame:
    """Read quantiles off the maintained state: total n from meta,
    one re-thin of the persisted sample at level(n), then the SHARED
    quantile read — the same code path as `sketch_kll_quantiles`."""
    meta = _maybe_read(spark, f"{state_dir}/meta", "batch_n long")
    if "ingest_batch" in meta.columns:
        meta = meta.drop("ingest_batch")
    lvl = (meta.agg(F.coalesce(F.sum("batch_n"), F.lit(0))
                    .cast("long").alias("n"))
           .select("n", kll_level("n").alias("lvl")))
    sample = _maybe_read(spark, f"{state_dir}/sample",
                         "cents long, h long")
    if "ingest_batch" in sample.columns:
        sample = sample.drop("ingest_batch")
    s = kll_sample(sample.dropDuplicates(["cents", "h"])
                   .crossJoin(F.broadcast(lvl)))
    return kll_quantile_read(spark, s, lvl)
