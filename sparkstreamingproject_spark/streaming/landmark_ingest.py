"""Streaming audio-fingerprint catalog ingest — the landmark-index
counterpart of ``dedup_ingest``: each micro-batch's documents are
fingerprinted (``llm.multimodal.landmark_postings`` — the SAME chain
as the batch query), matched against the persisted posting index
(shared-landmark count ≥ threshold ⇒ a catalog hit, the Shazam match
rule), and their postings appended to the index. State lives in
parquet relations keyed by lhash; matching a micro-batch is an
equi-join against the index's posting lists, never a scan of the
catalog audio.

Replay safety: the same ``ingest_batch=<epoch>`` OVERWRITE-partition
recipe as ``dedup_ingest`` — index reads exclude the current batch's
own (possibly partial, pre-crash) partition, so a retried micro-batch
recomputes the identical matches and overwrites its own output in
place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.multimodal import landmark_postings
from .manifest_commit import _maybe_read, _write

MATCH_MIN_SHARED = 3  # catalog hit: >= 3 shared landmarks


def landmark_ingest_batch(batch: DataFrame, index_dir: str,
                          matches_dir: str, id_col: str = "doc_id",
                          text_col: str = "text",
                          batch_id: int | None = None) -> None:
    """One micro-batch: fingerprint, match against the persisted
    index, emit (new_doc, catalog_doc, n_shared) hits, append
    postings. Within-batch pairs are NOT matched (each batch's docs
    enter the catalog together; the next batch sees them)."""
    spark = batch.sparkSession
    post_path = f"{index_dir}/postings"
    fp = (landmark_postings(batch, id_col, text_col)
          .distinct()  # posting lists are sets: one row per (id, lhash)
          .localCheckpoint())
    idx = _maybe_read(spark, post_path,
                      f"{id_col} long, lhash long", batch_id)
    hits = (fp.join(idx.select(F.col(id_col).alias("catalog_id"),
                               "lhash"), "lhash")
            .groupBy(id_col, "catalog_id")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= MATCH_MIN_SHARED))
    _write(hits, matches_dir, batch_id)
    _write(fp, post_path, batch_id)


def landmark_ingest_stream(doc_stream: DataFrame, index_dir: str,
                           matches_dir: str, checkpoint: str,
                           trigger_seconds: int | None = None):
    """Attach the landmark ingest to a document stream (availableNow
    when ``trigger_seconds`` is None); foreachBatch's epoch id makes
    every micro-batch's two writes replay-idempotent."""
    writer = (doc_stream.writeStream
              .foreachBatch(lambda b, i: landmark_ingest_batch(
                  b, index_dir, matches_dir, batch_id=i))
              .option("checkpointLocation", checkpoint))
    if trigger_seconds is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(
        processingTime=f"{trigger_seconds} seconds").start()
