"""Streaming DSIR model-state maintenance.

The DSIR importance model (``queries/llm14.py:curation_dsir_importance``)
is {B} hashed-bigram bucket counters for the raw corpus and the target
slice — a model whose state is {B} rows REGARDLESS of corpus size.
This module keeps that state current from a streaming documents source
so newly-landed documents can be importance-scored immediately against
statistics of everything ever ingested — the online form of the
pipeline (score-at-ingest), vs the batch query's train-time form.

The fold is ADDITIVE (bucket counters), which is exact under
exactly-once batch delivery but double-counts on a replayed
micro-batch. Since r12 the writer commits through the MANIFEST-LAST
protocol (``streaming/manifest_commit.py``): the state version and
the batch-id watermark move in ONE atomic rename, so the old marker
protocol's residual window — crash after the data swap, before the
marker — no longer exists; a replay either re-merges from the
pre-merge version or is skipped by the watermark, never re-merges
post-merge state. Contrast with the retention bitmap / HLL folds
where bit_or / max are idempotent and need no commit protocol at all.

At 100 TB: the per-batch partial is a map-side-combinable aggregate to
≤ {B} rows; the merge touches a {B}-row table; scoring joins documents
to a broadcast of that table. Nothing here scales with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.llm14 import dsir_bucket_stats, dsir_doc_buckets
from .manifest_commit import commit_state, fold_stream, read_state

_STATS_SCHEMA = "bucket long, c_raw long, c_tgt long"


def merge_dsir_stats(batch: DataFrame, table_dir: str,
                     batch_id: int) -> None:
    """Fold one micro-batch's bucket counters into the model state.
    Additive — reads the manifest-named version, commits merged state
    + batch-id watermark in one atomic manifest replace; callers wrap
    with ``manifest_foreach_batch`` (see ``dsir_stats_stream``) so
    committed batch ids are skipped."""
    spark = batch.sparkSession
    part = dsir_bucket_stats(dsir_doc_buckets(batch))
    base = read_state(spark, table_dir, _STATS_SCHEMA)
    merged = (base.unionByName(part)
              .groupBy("bucket")
              .agg(F.sum("c_raw").cast("long").alias("c_raw"),
                   F.sum("c_tgt").cast("long").alias("c_tgt")))
    commit_state(merged.coalesce(1), table_dir, batch_id)


def dsir_stats_stream(docs_stream: DataFrame, table_dir: str,
                      checkpoint_dir: str):
    """Wire a streaming documents source into the manifest-committed
    additive stats fold."""
    return fold_stream(docs_stream,
                       lambda b, i: merge_dsir_stats(b, table_dir, i),
                       table_dir, checkpoint_dir)


def score_against_model(docs: DataFrame, table_dir: str) -> DataFrame:
    """Importance-score a document set against the maintained model —
    the identical arithmetic as the batch query (``dsir_weights``)."""
    from ..queries.llm14 import dsir_weights
    stats = read_state(docs.sparkSession, table_dir, _STATS_SCHEMA)
    return dsir_weights(dsir_doc_buckets(docs), stats)
