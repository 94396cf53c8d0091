"""Streaming maintenance for the LSH-Ensemble containment index.

The batch kernel (``llm/dedup.py:lsh_ensemble_containment_pairs``) is
two halves: a per-document half (shingle count + 32 MinHash mins →
size partition → gap-probed posting rows) and a query half (bucket,
cap, expand, exact-verify). The per-document half is APPEND-STABLE —
a document's shingle count never changes, so its size partition, its
probes, and its posting rows are fixed at ingest. That makes the
streaming fold trivial by design: each micro-batch appends its docs'
posting rows and (id, count) rows; nothing existing is ever rewritten.

The bucket-cap guard is deliberately NOT folded: bucket membership
grows as batches land, so the cap is applied at query time over the
full posting set (``lshe_pairs_from_postings``) — the re-check the
fold contract requires. Baking capped buckets at append time would
freeze a stale cap and silently change recall as the corpus grows.

Replay safety: the same ``ingest_batch=<id>`` overwrite discipline as
``dedup_ingest.py`` — a replayed micro-batch overwrites its own
partition directories in place, so a crash between the two writes
(postings landed, counts didn't) converges on retry. Reads drop
duplicate (id) rows defensively in case a doc id is re-delivered in a
LATER batch (at-least-once across batches): posting rows dedup through
``collect_set`` anyway, and counts are deterministic from content, so
``dropDuplicates`` is exact, not lossy.

At 100 TB: per batch, one doc-keyed shuffle builds the signature rows;
the appends are 128 tiny posting rows + 1 count row per doc. Queries
read postings (pruned by band key at the bucket groupBy) and never
touch historical text except for the exact verify of candidate ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..llm.dedup import (LSHE_BUCKET_CAP, lshe_doc_postings,
                         lshe_pairs_from_postings, word_shingles)
from .manifest_commit import _maybe_read, _write


def fold_containment_index(batch: DataFrame, index_dir: str,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           batch_id: int | None = None) -> None:
    """Append one micro-batch's posting + count rows — the identical
    rows the batch kernel computes, from the shared
    ``lshe_doc_postings`` (stream≡batch by shared code)."""
    sh = word_shingles(batch, id_col, text_col, distinct=True)
    counts, keys = lshe_doc_postings(sh, id_col)
    # postings before counts: a count row without postings would make
    # its doc silently candidate-invisible yet verify-joinable; the
    # reverse order only re-appends on retry, which the overwrite
    # partitions (batch_id mode) absorb.
    _write(keys, f"{index_dir}/postings", batch_id)
    _write(counts, f"{index_dir}/counts", batch_id)


def containment_index_stream(doc_stream: DataFrame, index_dir: str,
                             checkpoint: str):
    """Wire a streaming documents source into the fold (availableNow);
    foreachBatch's epoch id keys the replay-idempotent partitions."""
    return (doc_stream.writeStream
            .foreachBatch(lambda b, i: fold_containment_index(
                b, index_dir, batch_id=i))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def containment_pairs_from_index(spark, index_dir: str,
                                 corpus: DataFrame,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 threshold: float = 0.9,
                                 bucket_cap: int = LSHE_BUCKET_CAP
                                 ) -> DataFrame:
    """Query the maintained index: bucket-cap re-check + pair
    expansion + exact verify, all at read time over the full posting
    set. ``corpus`` supplies the texts for the exact verify (the
    index stores no text — candidate ids restrict the shingle scan)."""
    keys = _maybe_read(
        spark, f"{index_dir}/postings",
        f"{id_col} long, j int, h string, q int").drop("ingest_batch")
    counts = (_maybe_read(spark, f"{index_dir}/counts",
                          f"{id_col} long, c long")
              .drop("ingest_batch")
              .dropDuplicates([id_col]))
    sh = word_shingles(corpus, id_col, text_col, distinct=True)
    return lshe_pairs_from_postings(keys, counts, sh, id_col=id_col,
                                    threshold=threshold,
                                    bucket_cap=bucket_cap)
