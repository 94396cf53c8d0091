"""Streaming maintenance of a BM25 inverted index — maintained fold
#13: the incremental full-text search index every ingestion pipeline
wants ("new docs searchable without recomputing the corpus").

Why the fold is natural: BM25's per-document state — the (doc_id,
word, tf) posting rows and the (doc_id, dl) length row — is
APPEND-STABLE (a document's term frequencies and length never change
after ingest), and its corpus-level inputs (N, avgdl, per-term df)
are recomputed at QUERY time from the persisted relations, exactly
where the batch scorer computes them. So searching the maintained
index is literally the batch scorer (the shared
``llm/textstats.py:bm25_rank``) over folded relations — stream≡batch
by shared code, the same contract as every fold here.

State layout (``ingest_batch=<id>`` overwrite discipline, replays
idempotent):

  {dir}/tf/ingest_batch=<id>/  (doc_id, word, tf) — the inverted index
  {dir}/dl/ingest_batch=<id>/  (doc_id, dl)       — the commit signal

``dl`` is written LAST: a crash that lands postings without the
length row leaves the doc invisible to BOTH the score join and the
N/avgdl statistics (consistent absence — the index behaves as if the
batch never arrived), and the retry overwrites both partitions.
Reads drop duplicate (doc_id, word) / (doc_id) rows defensively for
cross-batch re-delivery — exact, because a document's rows are a
deterministic function of its text.

At 100 TB: per batch one doc-keyed aggregate builds the postings;
queries read the tf relation PRUNED BY TERM (partition the state by a
word-hash bucket in production) plus the slim dl relation; nothing
ever rescans historical text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.textstats import bm25_rank
from .manifest_commit import _maybe_read, _write


def doc_index_rows(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text"):
    """(tf, dl) relations of one batch of documents — the identical
    word-splitting arithmetic as the batch BM25 query."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("word"))
    tf = (words.groupBy(id_col, "word")
          .agg(F.count("*").cast("long").alias("tf")))
    dl = docs.select(F.col(id_col),
                     F.size(F.split(F.col(text_col), " "))
                     .cast("int").alias("dl"))
    return tf, dl


def fold_bm25_index(batch: DataFrame, index_dir: str,
                    id_col: str = "doc_id", text_col: str = "text",
                    batch_id: int | None = None) -> None:
    """foreachBatch body: append one micro-batch's posting + length
    rows (postings first; the length row is the commit signal)."""
    tf, dl = doc_index_rows(batch, id_col, text_col)
    _write(tf, f"{index_dir}/tf", batch_id)
    _write(dl, f"{index_dir}/dl", batch_id)


def bm25_index_stream(doc_stream: DataFrame, index_dir: str,
                      checkpoint: str):
    """Wire a streaming documents source into the fold (availableNow)."""
    return (doc_stream.writeStream
            .foreachBatch(lambda b, i: fold_bm25_index(b, index_dir,
                                                       batch_id=i))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def search_bm25_index(spark, index_dir: str, terms: list[str],
                      id_col: str = "doc_id", k1: float = 1.2,
                      b: float = 0.75, digits: int = 4) -> DataFrame:
    """Search the maintained index: read tf (term-restricted) + dl,
    then the SHARED scorer — corpus statistics (N, avgdl, df) are
    recomputed here from the folded state, exactly as the batch query
    computes them from the corpus."""
    tf = _maybe_read(spark, f"{index_dir}/tf",
                     f"{id_col} long, word string, tf long")
    if "ingest_batch" in tf.columns:
        tf = tf.drop("ingest_batch")
    dl = _maybe_read(spark, f"{index_dir}/dl",
                     f"{id_col} long, dl int")
    if "ingest_batch" in dl.columns:
        dl = dl.drop("ingest_batch")
    tf = (tf.dropDuplicates([id_col, "word"])
          .filter(F.col("word").isin(*terms)))
    dl = dl.dropDuplicates([id_col])
    # the dl row is the commit signal: restrict postings to committed
    # docs so a crash that landed tf without dl can't inflate df/idf
    # (bm25_rank derives df from the tf relation itself). No-op in the
    # healthy state; makes the docstring's consistent-absence claim
    # hold for the statistics, not just the score join. (ADVICE r11.)
    tf = tf.join(dl.select(id_col), id_col, "left_semi")
    return bm25_rank(tf, dl, id_col=id_col, k1=k1, b=b, digits=digits)
