"""Structured Streaming jobs (SURVEY.md §2.E/§2.F + §7.3-7.4).

The reference's two DStream applications re-expressed on Structured
Streaming:
- ``split``       — the 5-way log demultiplexer (OdsBaseLogApp)
- ``cdc_router``  — the fact/dim CDC router (OdsBaseDbApp)
- ``dim_upsert``  — last-write-wins dimension store maintenance
- ``windows``     — watermark + tumbling/sliding/session aggregations
- ``dedup``       — streaming dropDuplicates within watermark
plus the maintained folds (``*_maintain``, ``*_ingest``) that keep
sketches, rollups and indexes current per micro-batch.

Offset bookkeeping (F1/F2) is gone: ``checkpointLocation`` holds the
WAL + commit log, giving at-least-once delivery to every sink — the
same guarantee the reference builds by hand (flush-then-commit,
``OdsBaseLogApp.scala:194,205``). The ``foreachBatch`` sinks turn
that into effectively-once through the commit protocols in
``manifest_commit`` (replaced state, multi-directory CDC commits,
``ingest_batch=`` partitions, per-batch flat files); the built-in
file sinks keep Spark's own sink log. ``compaction`` keeps a private
rename-aside swap for rewriting ``ingest_batch=`` tables in place.
"""

from .cdc_router import route_cdc_stream
from .dim_upsert import scd2_stream, upsert_dim_parquet, upsert_scd2_parquet
from .joins import joined_stream_to_table
from .manifest_commit import read_cdc_dim, read_cdc_facts
from .split import split_log_stream_to_sinks, tagged_split_writer

__all__ = [
    "split_log_stream_to_sinks", "tagged_split_writer",
    "route_cdc_stream", "upsert_dim_parquet",
    "upsert_scd2_parquet", "scd2_stream",
    # manifest-committed readers (r13): the CDC router and the
    # stream-stream join fold publish through one atomic rename —
    # read their outputs through these, not raw directory listings
    "read_cdc_facts", "read_cdc_dim", "joined_stream_to_table",
]
