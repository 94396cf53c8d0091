"""Streaming maintenance for sub-document (paragraph-granularity)
dedup — maintained fold #16: the streaming ingest form of
`queries/llm20.py:dedup_paragraph_reconstruct`.

Why the fold is natural: the streaming keep rule is FIRST-SEEN-WINS —
a chunk survives iff its hash has never been ingested before — which
is append-stable: nothing about an already-ingested chunk is ever
rewritten, so each micro-batch only appends its surviving chunks.
Document reconstruction (surviving chunks reassembled in original
order) is recomputed at READ time by the shared
`queries/llm20.py:reconstruct_docs`, the same read-time-recompute
contract as the BM25 fold's df/avgdl and fold #14's components.

Ordering contract (the stream≡batch condition, same shape as the
sessionize fold's per-user time ordering): the batch query's
keep-first rule is smallest (doc_id, cidx) CORPUS-WIDE; the streaming
rule is ingest order. They agree exactly when documents are ingested
in doc_id order (each batch's doc_ids all above the previous
batch's) — the natural shape for an append-only corpus with
monotonic ids. Out-of-order ingest still yields A valid first-seen
dedup (every duplicated chunk keeps exactly one copy); only WHICH
copy survives differs from the batch rule.

Per micro-batch:
  {dir}/chunks/ingest_batch=<id>/  (doc_id, cidx, chunk, h) — the
                                   batch's SURVIVING chunks only
  {dir}/docs/ingest_batch=<id>/    (doc_id, n_chunks) — per-doc chunk
                                   totals; written LAST (commit signal)

Replay safety: `ingest_batch=<id>` overwrite discipline (the
dedup-ingest contract). Chunks are written BEFORE docs, so the docs
row is the commit signal; the read restricts chunks to committed
doc_ids (left-semi), so a crash between the two writes leaves the
batch consistently invisible, and the retry (prior state masked via
``exclude_batch``) overwrites both partitions with identical rows.

At 100 TB: per batch, chunking is narrow; the dedup is one
hash-keyed window inside the batch plus one anti-join against the
accumulated chunk-hash index (hash-partitioned, linear — the same
index shape as `dedup_ingest`'s band index); reconstruction runs at
read time over surviving chunks only. A production deployment
compacts the per-batch partitions periodically (manifest-last, as
fold #14's refresh does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..queries.llm20 import PARA_W, chunk_relation, reconstruct_docs
from .manifest_commit import _maybe_read, _write

_CHUNKS_SCHEMA = "doc_id long, cidx int, chunk string, h string"
_DOCS_SCHEMA = "doc_id long, n_chunks long"


def fold_paragraphs(batch: DataFrame, state_dir: str,
                    w: int = PARA_W, batch_id: int | None = None) -> None:
    """foreachBatch body: chunk the batch's (doc_id, text) rows, keep
    first-seen chunks (in-batch window by (doc_id, cidx), then
    anti-join against every previously ingested chunk hash), append
    survivors, then the per-doc totals (the commit signal)."""
    spark = batch.sparkSession
    ch = chunk_relation(batch.select("doc_id", "text"), w) \
        .withColumn("h", F.md5("chunk"))
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "cidx"))
    in_batch_first = ch.withColumn("rn", rn).filter(F.col("rn") == 1) \
        .drop("rn")
    prior = (_maybe_read(spark, f"{state_dir}/chunks", _CHUNKS_SCHEMA,
                         exclude_batch=batch_id)
             .select("h").dropDuplicates(["h"]))
    surviving = in_batch_first.join(prior, "h", "left_anti")
    docs_rel = (ch.groupBy("doc_id")
                .agg(F.count("*").cast("long").alias("n_chunks")))
    # chunks first, docs last: the docs row is the commit signal —
    # see module doc for the crash-window argument
    _write(surviving.select("doc_id", "cidx", "chunk", "h"),
           f"{state_dir}/chunks", batch_id)
    _write(docs_rel, f"{state_dir}/docs", batch_id)


def paragraph_stream(doc_stream: DataFrame, state_dir: str,
                     checkpoint: str, w: int = PARA_W):
    """Wire a (doc_id, text) stream into the fold (availableNow);
    foreachBatch's epoch id keys the replay-idempotent partitions."""
    return (doc_stream.writeStream
            .foreachBatch(lambda b, i: fold_paragraphs(
                b, state_dir, w, batch_id=i))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def paragraph_dedup_from_state(spark, state_dir: str) -> DataFrame:
    """(doc_id, n_chunks, n_kept, dedup_text) off the maintained
    state — committed docs only (chunks of a crashed batch have no
    docs row and are excluded by the semi-join), reconstruction by
    the SHARED `reconstruct_docs`."""
    docs = (_maybe_read(spark, f"{state_dir}/docs", _DOCS_SCHEMA)
            .drop("ingest_batch").dropDuplicates(["doc_id"]))
    chunks = (_maybe_read(spark, f"{state_dir}/chunks", _CHUNKS_SCHEMA)
              .drop("ingest_batch").dropDuplicates(["doc_id", "cidx"])
              .join(docs.select("doc_id"), "doc_id", "left_semi"))
    kept = reconstruct_docs(chunks.withColumn("rn", F.lit(1)))
    return (docs
            .join(kept.select("doc_id",
                              F.col("n_chunks").alias("kept_chunks"),
                              "dedup_text"),
                  "doc_id", "left")
            .select("doc_id", "n_chunks",
                    F.coalesce("kept_chunks", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("dedup_text", F.lit("")).alias("dedup_text")))
