"""Streaming corpus ingest with cross-batch dedup — the streaming form
of ``llm.curation.incremental_dedup``: each micro-batch is filtered
against a persisted dedup index (content hashes + MinHash-LSH band
keys), survivors are appended to the corpus AND their index rows are
appended to the index. State lives in parquet relations, not in the
stream — restart-safe via the checkpoint, and the same index the batch
operator probes.

At scale the two index relations are partitioned by their join key
(hash prefix / band), so a micro-batch's anti-joins touch only the
matching partitions; the corpus text itself is never re-read. Within a
single micro-batch, duplicates of each other are also collapsed
(identical replayed rows: dropDuplicates on (hash, id); exact: min-id
per hash; near: canonical-id per band bucket), so the invariant "no
two corpus docs share a content hash or a band key" holds from an
empty start.

Replay safety (the three outputs are not transactionally atomic):
when a ``batch_id`` is supplied (the streaming path always supplies
foreachBatch's epoch id), every output lands in an
``ingest_batch=<id>`` partition directory written with OVERWRITE, and
the index reads EXCLUDE the current batch's own partitions. A crashed
micro-batch can therefore leave any prefix of the three writes behind
and the retry still converges: it recomputes the identical survivor
set (its own partial output is invisible to the anti-joins) and
overwrites all three partitions in place — the canonical idempotent
foreachBatch recipe, vs. the lost-survivor failure where a plain
append-after-hash-commit retry anti-joins the in-flight docs away.
Without a ``batch_id`` (direct batch calls), writes are plain appends
and a caller-level retry is NOT idempotent — pass a batch id there
too. The partition discipline itself (``_write``/``_maybe_read``)
lives in ``manifest_commit.py`` with the package's other commit
protocols.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.dedup import band_keys
from .manifest_commit import _maybe_read, _write


def ingest_batch(batch: DataFrame, index_dir: str, corpus_dir: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 batch_id: int | None = None) -> None:
    """One micro-batch: anti-join against the persisted index, collapse
    in-batch duplicates, append survivors + their index rows (see
    module doc for the replay-idempotence contract of ``batch_id``)."""
    spark = batch.sparkSession
    hash_path = f"{index_dir}/content_hash"
    band_path = f"{index_dir}/bands"

    hashed = batch.withColumn("h", F.md5(F.col(text_col)))
    # in-batch IDENTICAL collapse first: an at-least-once source can
    # replay the very same row inside one batch (same id AND text);
    # the min-id semi-join below keeps every copy of the winning id,
    # so row-level dedup must precede it or the corpus and the hash
    # index both get the row twice.
    hashed = hashed.dropDuplicates(["h", id_col])
    # in-batch exact collapse: keep min id per hash
    keep = (hashed.groupBy("h").agg(F.min(id_col).alias(id_col)))
    hashed = hashed.join(keep, ["h", id_col], "left_semi")
    # cross-batch exact
    ex_hash = _maybe_read(spark, hash_path, "h string", batch_id)
    fresh = hashed.join(ex_hash.select("h"), "h", "left_anti")

    # near-dup: band keys of the fresh docs. localCheckpoint (NOT
    # persist): in append mode the writes below go to the very paths
    # fresh/fb read (hash_path, band_path), and each append
    # recaches-by-path every cached plan that scans the written path —
    # a persisted ``survivors`` would silently recompute against the
    # NEW index after the hash append, anti-join itself away, and the
    # band write would append nothing (caught by the stream≡batch
    # index test: every batch-2+ survivor's band keys vanished from
    # the index). Checkpointing cuts the lineage to the materialized
    # rows, so the later writes can never observe the earlier ones.
    # (In batch_id mode the self-exclusion filter makes even a
    # recompute safe; the checkpoint also just avoids recomputing the
    # MinHash signatures three times.)
    fb = band_keys(fresh, id_col, text_col).localCheckpoint()
    # cross-batch near
    ex_bands = _maybe_read(spark, band_path,
                           f"{id_col} long, band int, key string", batch_id)
    hit = (fb.join(ex_bands.select("band", "key"), ["band", "key"],
                   "left_semi").select(id_col).distinct())
    # in-batch near collapse: canonical (min) id per bucket; a doc
    # survives only if it IS the canonical id of every bucket it
    # occupies (min over its buckets' mins == itself ⇒ keep min-id
    # doc per connected bucket group, single pass)
    canon = (fb.groupBy("band", "key")
             .agg(F.min(id_col).alias("canon")))
    loser = (fb.join(canon, ["band", "key"])
             .filter(F.col(id_col) != F.col("canon"))
             .select(id_col).distinct())
    survivors = (fresh.join(hit, id_col, "left_anti")
                 .join(loser, id_col, "left_anti")).localCheckpoint()
    # band keys before content hashes: in the append (no batch_id)
    # path the hash append is the effective commit point (it is what
    # makes a retry skip the doc), so it must come LAST — orphan band
    # keys from a crashed attempt only over-filter near-dups of a doc
    # that will be re-ingested, while orphan hashes lose the doc.
    _write(survivors.drop("h"), corpus_dir, batch_id)
    _write(fb.join(survivors.select(id_col), id_col, "left_semi"),
           band_path, batch_id)
    _write(survivors.select("h"), hash_path, batch_id)


def dedup_within_watermark_stream(doc_stream: DataFrame, out_dir: str,
                                  checkpoint: str, ts_col: str = "ts",
                                  key_cols: tuple = ("h",),
                                  delay: str = "10 minutes"):
    """Watermark-bounded exact dedup — the built-in
    ``dropDuplicatesWithinWatermark`` form of ``dedup_exact``
    (reference semantics: at-most-once emit per content key, as the
    ods split's downstream consumers assume; MyKafkaUtils.scala's
    manual offset discipline gives at-least-once, so dedup is the
    reader's job).

    Unlike ``dedup_ingest_stream`` (unbounded parquet index, exact
    forever), state here is RocksDB/HDFS-backed per-key timestamps
    that AUTO-EXPIRE once the watermark passes ``delay`` beyond them —
    bounded state at any corpus size, the right default when dup pairs
    arrive close in time (retries, producer replays). First occurrence
    wins; a dup arriving after state expiry re-emits (documented
    trade-off vs the persisted-index form).
    """
    deduped = (doc_stream
               .withWatermark(ts_col, delay)
               .dropDuplicatesWithinWatermark(list(key_cols)))
    return (deduped.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def dedup_ingest_stream(doc_stream: DataFrame, index_dir: str,
                        corpus_dir: str, checkpoint: str,
                        trigger_seconds: int | None = None):
    """Attach the dedup ingest to a document stream (availableNow when
    ``trigger_seconds`` is None). Passes foreachBatch's epoch id
    through so every micro-batch's three writes are replay-idempotent
    (see ``ingest_batch``)."""
    writer = (doc_stream.writeStream
              .foreachBatch(lambda b, i: ingest_batch(b, index_dir,
                                                      corpus_dir,
                                                      batch_id=i))
              .option("checkpointLocation", checkpoint))
    if trigger_seconds is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()
